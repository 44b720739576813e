"""Training-data pipeline batch 3: deterministic stratified
train/val/test splitting, cross-source n-gram overlap (pairwise
corpus contamination), and vocabulary coverage curves — dataset-
construction operations a pretraining pipeline runs after filtering
and dedup (absent from the reference; SURVEY §2.7 extension class).

Scale shapes:
- the split is a pure map-side hash classification (no shuffle beyond
  the final per-(lang, split) rollup);
- source overlap shuffles DISTINCT (gram, source) pairs once and joins
  per gram — never doc×doc;
- vocabulary ranking windows over the VOCAB (≪ corpus) after a single
  explode+count pass.
All hash fates use the md5-backed hash60, so every entry replays
bit-for-bit in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from postgres_opensearch_cdc_spark.functions import text as textfn
from postgres_opensearch_cdc_spark.functions.dedup import hash60
from postgres_opensearch_cdc_spark.registry import load_table, memo

SPLIT_SALT = 7
SPLIT_DENOM = 100
TRAIN_LT, VAL_LT = 80, 90  # train: [0,80), val: [80,90), test: [90,100)
OVERLAP_N = 2  # bigrams: dense enough to overlap at every test SF
COVERAGE_KS = [5, 10, 20, 30]
QLC_BUCKETS = 64     # hashed feature space (fasttext-style bag of words)
QLC_THRESH = 0.0     # keep docs scoring above this


def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split: each document's
    fate is hash60(doc_id:salt) mod 100 classified into 80/10/10 —
    reproducible across runs, engines, and partitionings (no rand()),
    stratified per language by construction since the hash is uniform
    within every stratum. Output is the split manifest: docs + token
    sums per (lang, split). Map-side classification; the only shuffle
    is the tiny final rollup."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        hash60(F.col("doc_id").cast("string"), salt=SPLIT_SALT),
        F.lit(SPLIT_DENOM),
    )
    split = (
        F.when(bucket < TRAIN_LT, "train")
        .when(bucket < VAL_LT, "val")
        .otherwise("test")
    )
    return (
        docs.select(
            "lang",
            split.alias("split"),
            textfn.token_count(F.col("text")).alias("toks"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("tokens"),
        )
        .orderBy("lang", "split")
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source n-gram overlap: for every source pair,
    how many DISTINCT bigrams they share — the corpus-contamination
    matrix run before mixing sources into one training set. One
    explode to distinct (gram, source) pairs, then ONE groupBy per
    gram collecting its (small, ≤#sources) source set and expanding
    the in-gram pairs with array lambdas — the gram set is computed
    once, vs twice for the equivalent self-join, and per-gram fan-out
    is bounded by #sources², never doc×doc. Grams are md5-hashed
    before the shuffle: fixed width beats raw n-gram strings."""
    from postgres_opensearch_cdc_spark.queries.training_pipeline import _ngrams

    docs = load_table(spark, sf_dir, "documents", spread=True)
    grams = _ngrams(textfn.tokens(F.col("text")), OVERLAP_N)
    src_grams = (
        docs.select("source", F.explode(grams).alias("gram"))
        .select("source", F.md5(F.col("gram")).alias("g"))
        .distinct()
    )
    per_gram = src_grams.groupBy("g").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )
    pairs = per_gram.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ss",
                    lambda a, i: F.transform(
                        F.slice(F.col("ss"), i + 2, F.size("ss")),
                        lambda b: F.struct(
                            a.alias("src_a"), b.alias("src_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .orderBy("src_a", "src_b")
    )


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: rank unigrams by corpus frequency and
    report, at each vocabulary size K, the fraction of all corpus
    tokens covered (in exact basis points — floor of an integer ratio,
    so the value is engine-deterministic). The tokenizer-design
    question ("how big a vocab covers 99% of tokens?") as one
    explode+count pass. The global (n desc, tok) rank+cumsum is
    computed TWO-LEVEL so no single partition ever holds the whole
    vocabulary: tokens bucket by floor(log2(n)) (monotone in n, so
    bucket-desc-then-local order IS the global order), per-bucket
    windows rank and cumsum in parallel, and only the per-bucket
    totals — one row per bucket, ~64 rows at any corpus size — pay a
    driver-small prefix scan that is broadcast back."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(textfn.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    ).withColumn("_b", F.floor(F.log2("n")).cast("long"))
    # level 1: parallel per-bucket rank + running sum
    w_local = Window.partitionBy("_b").orderBy(F.col("n").desc(), "tok")
    local = counts.withColumn(
        "_lk", F.row_number().over(w_local)
    ).withColumn(
        "_lcum", F.sum("n").over(w_local.rowsBetween(
            Window.unboundedPreceding, 0))
    )
    # level 2: exclusive prefix over bucket totals (rows = #buckets)
    w_pfx = Window.orderBy(F.col("_b").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        counts.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_bn"), F.sum("n").alias("_bsum"))
        .select(
            "_b",
            F.coalesce(F.sum("_bn").over(w_pfx), F.lit(0)).alias("_ok"),
            F.coalesce(F.sum("_bsum").over(w_pfx), F.lit(0)).alias("_ocum"),
        )
    )
    ranked = (
        local.join(F.broadcast(offsets), "_b")
        .withColumn("k", (F.col("_ok") + F.col("_lk")).cast("int"))
        .withColumn("cum_tokens", F.col("_ocum") + F.col("_lcum"))
        .drop("_b", "_lk", "_lcum", "_ok", "_ocum")
    )
    total = docs.agg(
        F.sum(textfn.token_count(F.col("text"))).alias("total_tokens")
    )
    return (
        ranked.filter(F.col("k").isin(COVERAGE_KS))
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            F.col("tok").alias("kth_token"),
            "cum_tokens",
            F.floor(F.col("cum_tokens") * 10000 / F.col("total_tokens"))
            .cast("long")
            .alias("coverage_bp"),
        )
        .orderBy("k")
    )


def quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter as pure column math: a fasttext-style
    linear classifier over hashed unigram features. Tokens hash into
    {QLC_BUCKETS} buckets; each bucket's weight derives
    deterministically from md5 (stand-in for trained weights — swap in
    a real weight table as a broadcast join at deployment); the doc
    score is the mean feature weight and keep = score > threshold.
    This is the CCNet/phi-style "LM quality classifier" shape run
    entirely in the scan+aggregate path: NO Python UDF, no model
    server round-trip — per-token hashing and weight lookup are
    codegen expressions, then two keyed partial aggs (doc, then
    source). At 100 TB swap the md5 weights for a broadcast K-row
    weight table; the plan is otherwise unchanged."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", "source",
        F.explode(textfn.tokens(F.col("text"))).alias("tok"),
    )
    bucket = hash60(F.col("tok")) % QLC_BUCKETS
    weight = (
        (hash60(F.concat(F.lit("w:"), bucket.cast("string"))) % 2001 - 1000)
        / 1000.0
    )
    per_doc = (
        toks.select("doc_id", "source", weight.alias("w"))
        .groupBy("doc_id", "source")
        .agg(F.round(F.avg("w"), 6).alias("score"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("score") > QLC_THRESH).cast("long")).alias("n_kept"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("source")
    )


QUERIES = {
    "quality_linear_classifier": quality_linear_classifier,
    "stratified_split": stratified_split,
    "source_overlap_matrix": source_overlap_matrix,
    "vocab_coverage": vocab_coverage,
}

_TOKS_SQL = r"regexp_split_to_array(lower(text), '\s+')"


ORACLE = {
    "quality_linear_classifier": f"""
        WITH tk AS (
            SELECT doc_id, source, unnest({_TOKS_SQL}) AS tok
            FROM documents
        ), w AS (
            SELECT doc_id, source,
                   ((('0x' || substr(md5('w:' ||
                        ((('0x' || substr(md5(tok), 1, 15))::BIGINT)
                         % {QLC_BUCKETS})::VARCHAR), 1, 15))::BIGINT
                     % 2001 - 1000) / 1000.0) AS w
            FROM tk
        ), d AS (
            SELECT doc_id, source, ROUND(AVG(w), 6) AS score
            FROM w GROUP BY 1, 2
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM((score > {QLC_THRESH})::LONG) AS BIGINT) AS n_kept,
               ROUND(AVG(score), 4) AS avg_score
        FROM d GROUP BY source ORDER BY source
    """,
    "stratified_split": f"""
        WITH t AS (
            SELECT lang,
                   ('0x' || substr(md5(doc_id::VARCHAR || ':{SPLIT_SALT}'),
                                   1, 15))::BIGINT % {SPLIT_DENOM} AS b,
                   len({_TOKS_SQL}) AS toks
            FROM documents
        )
        SELECT lang,
               CASE WHEN b < {TRAIN_LT} THEN 'train'
                    WHEN b < {VAL_LT} THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS tokens
        FROM t GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "source_overlap_matrix": f"""
        WITH g AS (
            SELECT DISTINCT source,
                   md5(unnest(list_transform(
                       range(1, len({_TOKS_SQL}) - {OVERLAP_N - 1} + 1),
                       i -> list_aggregate(
                           ({_TOKS_SQL})[i:i+{OVERLAP_N - 1}],
                           'string_agg', ' ')))) AS gram
            FROM documents
        )
        SELECT a.source AS src_a, b.source AS src_b,
               COUNT(*) AS shared_grams
        FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "vocab_coverage": f"""
        WITH c AS (
            SELECT t AS tok, COUNT(*) AS n
            FROM (SELECT unnest({_TOKS_SQL}) AS t FROM documents)
            GROUP BY 1
        ), r AS (
            SELECT tok, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS k,
                   CAST(SUM(n) OVER (ORDER BY n DESC, tok
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
            FROM c
        ), tot AS (
            SELECT CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS total_tokens
            FROM documents
        )
        SELECT k, tok AS kth_token, cum_tokens,
               CAST(FLOOR(cum_tokens * 10000 / total_tokens) AS BIGINT)
                   AS coverage_bp
        FROM r, tot
        WHERE k IN ({", ".join(str(k) for k in COVERAGE_KS)})
        ORDER BY k
    """,
}


# ---------------------------------------------------------------------------
# BPE merge training + application (round 11): the tokenizer-training
# stage of the pipeline. The merge decision sequence is value-checked
# by UNROLLING the iterations in SQL — one (pair-count → argmax →
# literal replace) CTE block per merge, byte-identical semantics in
# both engines (left-to-right non-overlapping replace on
# sentinel-padded symbol strings).
# ---------------------------------------------------------------------------

from postgres_opensearch_cdc_spark.functions.bpe import (  # noqa: E402
    bpe_token_counts,
    bpe_token_counts_arrow,
    bpe_train,
    bpe_train_local,
    merges_frame,
)

BPE_MERGES = 8


# the learned merge list is a session memo: the apply entry consumes
# the train entry's artifact by design
def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    return memo(
        spark, sf_dir, "bpe_merges",
        lambda s, d: bpe_train(
            load_table(s, d, "documents"), "text", num_merges=BPE_MERGES
        ),
    )


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 8 BPE merges over the corpus (classic Sennrich
    algorithm on the distinct-word frequency table: per iteration one
    weighted pair-count job + a 1-row argmax + a literal-replace
    merge). The oracle replays every iteration in DuckDB, so the
    MERGE DECISIONS themselves — counts, tie-breaks, greedy
    left-to-right application — are value-checked, not just the final
    vocabulary."""
    return merges_frame(spark, _bpe_merges(spark, sf_dir)).orderBy("rank")


def bpe_apply_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merges to every document (per-word encoding,
    merges never cross word boundaries) and count BPE tokens per doc
    — the sequence-length accounting a packing/budget stage runs on.
    One corpus scan, everything in scan-stage expressions."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    out = bpe_token_counts(
        docs, "text", "doc_id", _bpe_merges(spark, sf_dir)
    )
    return out.select(
        "id",
        "n_words",
        F.col("n_tokens_bpe").cast("long").alias("n_tokens_bpe"),
    ).orderBy("id")


QUERIES["bpe_train_merges"] = bpe_train_merges
QUERIES["bpe_apply_tokens"] = bpe_apply_tokens


def _bpe_merges_local(spark: SparkSession, sf_dir: str) -> list:
    return memo(
        spark, sf_dir, "bpe_merges_local",
        lambda s, d: bpe_train_local(
            load_table(s, d, "documents"), "text", num_merges=BPE_MERGES
        ),
    )


def bpe_train_merges_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-scale trainer (round 12): ONE distributed
    word-frequency pass, then the merge loop on the driver over the
    vocabulary-bounded table with incremental pair maintenance — zero
    Spark jobs per iteration (functions/bpe.py bpe_train_local). Same
    oracle as bpe_train_merges: decision-for-decision identical to
    the per-iteration Spark loop, so DuckDB's unrolled-iteration
    replay value-checks THIS path's merge choices too."""
    return merges_frame(
        spark, _bpe_merges_local(spark, sf_dir)
    ).orderBy("rank")


def bpe_apply_tokens_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-scale encoder (round 12): the learned merge
    list shipped into an Arrow-batched mapInPandas encoder with a
    per-partition distinct-word cache — plan size constant in the
    merge count, vs one chained replace per merge in the expression
    form (which stops codegenning orders of magnitude below real
    tokenizer sizes). Same oracle as bpe_apply_tokens: the two forms
    are row-identical by construction (equivalence-tested at n=8)."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_counts_arrow(
        docs, "text", "doc_id", _bpe_merges_local(spark, sf_dir)
    ).orderBy("id")


QUERIES["bpe_train_merges_local"] = bpe_train_merges_local
QUERIES["bpe_apply_tokens_arrow"] = bpe_apply_tokens_arrow


def _bpe_train_ctes(n: int) -> str:
    # AS MATERIALIZED everywhere: DuckDB inlines plain CTEs, and each
    # stage references its predecessor several times (pair counts +
    # three scalar uses of the argmax) — inlining would expand the
    # chain exponentially and exhaust file handles on the base scan
    parts = [f"""wf AS MATERIALIZED (
        SELECT w, COUNT(*) AS cnt FROM (
            SELECT unnest({_TOKS_SQL}) AS w FROM documents
        ) WHERE length(w) > 0 GROUP BY w
    ),
    s0 AS MATERIALIZED (
        SELECT cnt,
               ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
        FROM wf
    )"""]
    for i in range(1, n + 1):
        parts.append(f"""p{i} AS MATERIALIZED (
        SELECT toks[i+1] AS l, toks[i+2] AS r, SUM(cnt) AS total
        FROM (SELECT cnt, string_split(trim(s), ' ') AS toks FROM s{i-1}),
             UNNEST(range(len(toks) - 1)) AS u(i)
        GROUP BY 1, 2
    ),
    m{i} AS MATERIALIZED (
        SELECT l, r FROM p{i} ORDER BY total DESC, l, r LIMIT 1),
    s{i} AS MATERIALIZED (
        SELECT cnt, replace(s,
            ' ' || (SELECT l FROM m{i}) || ' ' || (SELECT r FROM m{i}) || ' ',
            ' ' || (SELECT l FROM m{i}) || (SELECT r FROM m{i}) || ' ') AS s
        FROM s{i-1}
    )""")
    return ",\n    ".join(parts)


def _bpe_train_sql(n: int) -> str:
    rows = "\n        UNION ALL ".join(
        f"SELECT {i - 1} AS \"rank\", l AS \"left\", r AS \"right\", "
        f"l || r AS merged FROM m{i}"
        for i in range(1, n + 1)
    )
    return f"""
    WITH {_bpe_train_ctes(n)}
    SELECT * FROM (
        {rows}
    ) ORDER BY "rank"
"""


def _bpe_apply_sql(n: int) -> str:
    mm_cols = ", ".join(
        f"(SELECT l FROM m{i}) AS l{i}, (SELECT r FROM m{i}) AS r{i}"
        for i in range(1, n + 1)
    )
    chain = "' ' || array_to_string(string_split(w, ''), ' ') || ' '"
    for i in range(1, n + 1):
        chain = (f"replace({chain}, ' ' || l{i} || ' ' || r{i} || ' ', "
                 f"' ' || l{i} || r{i} || ' ')")
    return f"""
    WITH {_bpe_train_ctes(n)},
    mm AS MATERIALIZED (SELECT {mm_cols}),
    dt AS (
        SELECT doc_id AS id,
               list_filter({_TOKS_SQL}, w -> length(w) > 0) AS ws
        FROM documents
    )
    SELECT id, CAST(len(ws) AS INT) AS n_words,
           CAST(COALESCE(list_sum(list_transform(ws, w ->
                len(string_split(trim({chain}), ' ')))), 0) AS BIGINT)
               AS n_tokens_bpe
    FROM dt CROSS JOIN mm
    ORDER BY id
"""


ORACLE["bpe_train_merges"] = _bpe_train_sql(BPE_MERGES)
ORACLE["bpe_apply_tokens"] = _bpe_apply_sql(BPE_MERGES)
# the round-12 scale paths answer the SAME oracles: the local trainer
# is decision-identical to the Spark loop, the Arrow encoder is
# row-identical to the expression form
ORACLE["bpe_train_merges_local"] = _bpe_train_sql(BPE_MERGES)
ORACLE["bpe_apply_tokens_arrow"] = _bpe_apply_sql(BPE_MERGES)
