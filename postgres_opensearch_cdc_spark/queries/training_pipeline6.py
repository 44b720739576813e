"""Training-data pipeline batch 6 (round 12): HyperLogLog cardinality
registers, KMV (bottom-k) distinct sketches with cross-source Jaccard
estimation, fixed-point PageRank over the word-adjacency graph, and
unigram-LM Viterbi segmentation — four more published
dataset-construction stages (absent from the reference; SURVEY §2.7
extension class alongside batches 1-5).

Why these four:
- HLL (Flajolet et al. 2007) and KMV (Bar-Yossef et al. 2002) complete
  the mergeable-sketch family started by sketch_count_min: CM answers
  "how often", HLL answers "how many distinct" in O(m) registers, KMV
  answers "how many distinct AND how much do two sets overlap" in O(k)
  hashes. A corpus pipeline uses exactly this trio to audit
  per-source vocabulary/dedup rates without vocabulary-sized state.
- PageRank is the canonical iterative graph kernel (the quality prior
  web pipelines feed into crawl scheduling and doc scoring); the
  entry's word-adjacency graph is corpus-derived, and the
  fixed-point integer formulation makes every iteration exactly
  reproducible in DuckDB (unrolled-CTE oracle, the BPE pattern).
- Unigram Viterbi segmentation is the inference step of the
  SentencePiece-unigram tokenizer (Kudo 2018) — with BPE (greedy
  merges) and WordPiece (max-munch) already built, max-SUM dynamic
  programming over a scored piece vocabulary completes the three
  tokenizer families actually shipped by LLM stacks. The oracle is
  EXHAUSTIVE: a recursive CTE enumerates every segmentation of every
  distinct word and the DP must match the brute-force argmax.

Determinism contract (what lets every entry be VALUE-checked):
- all hashes are the portable md5-backed hash60 family;
- HLL registers, KMV bottom-k hashes, PageRank ranks, and Viterbi
  scores are pure int64 arithmetic (PageRank runs in fixed-point:
  rank mass is integer micro-units, damping 0.85 is the exact
  rational 17/20 applied with integer floor division, so iteration
  sums are order-independent);
- the only float ops are final single-expression estimates on
  identical integers (HLL's alpha*m^2*2^57/sum, KMV's (k-1)*2^60/kth,
  the micro-nat piece scores' ln) — compared at the harness's 6dp.

Scale shapes (the 100 TB story for each):
- HLL: one scan emits (source, bucket, rho); the sketch is a
  fixed-size max-aggregation — map-side combined, mergeable across
  any partitioning (registers of a union are the elementwise max,
  pinned by test). Production uses p=14 (16 KiB/source); p=4 here so
  the 20-source test output exercises both estimator branches.
- KMV: the per-source sketch is a bottom-k window over distinct
  hashes (vocabulary-bounded input, k rows out); every downstream
  pairwise stage runs on k·|sources| rows — broadcastable — instead
  of the vocab-sized exact join, which is the entire point.
- PageRank: each iteration is one hash join (ranks×edges on src) and
  one groupBy(dst) — the Pregel shape; state is one int64 per node;
  lineage is cut per iteration with localCheckpoint exactly like
  functions/graph.py's connected components.
- Viterbi: the DP runs once per DISTINCT word over an Arrow-batched
  mapInPandas with the (bounded, top-V) piece vocabulary broadcast in
  the closure — the bpe_apply_tokens_arrow shape: plan size constant
  in vocabulary, no per-row Python UDF, corpus cost is one
  distinct-word shuffle regardless of token count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from postgres_opensearch_cdc_spark.functions.dedup import hash60
from postgres_opensearch_cdc_spark.functions.sketch import (
    HLL_ALPHA,
    HLL_M,
    HLL_RHO_MAX,
    HLL_SUFFIX_BITS,
    hll_estimates,
    hll_registers,
)
from postgres_opensearch_cdc_spark.registry import (
    load_table, stream_in_halves,
)

_TOKS_SQL = r"regexp_split_to_array(lower(text), '\s+')"

# ---------------------------------------------------------------------------
# HyperLogLog registers (per-source distinct-vocabulary cardinality)
# ---------------------------------------------------------------------------
# kernel lives in functions/sketch.py (shared with the streaming
# rollup sink, streaming/sketch.HllRollupSink)


def sketch_hyperloglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-vocabulary estimate per source (Flajolet,
    Fusy, Gandouet & Meunier 2007), audited against the exact distinct
    count. The register table comes from ONE corpus scan + a fixed-
    size max-agg; the estimator is evaluated per source over the
    dense m-register vector (absent registers count as 0):

        sum_num   = sum over registers of 2^(RHO_MAX - register)
                    (integer — 16 * 2^57 < 2^63, so the harmonic-mean
                    denominator is an EXACT int64, order-independent)
        raw_est   = alpha_16 * m^2 * 2^RHO_MAX / sum_num
        hll_est   = m * ln(m / V)  when raw_est <= 2.5m and V > 0
                    (linear counting, V = zero registers), else raw_est

    The entry sketches TWO domains per source — the word vocabulary
    (dense registers, harmonic-mean branch) and the doc_id set (sparse
    registers, linear-counting branch) — so both estimator branches
    are value-checked, register table and estimates bit-for-bit.
    At 100 TB: p=14 registers (16 KiB/source/domain), same one-scan
    shape — this is the audit a pipeline runs per shard to price
    dedup before paying for it. The distinct+checkpoint here serves
    the EXACT audit column (and is what the sketch replaces): drop it
    in production and the register build is a fixed-size map-side
    combined agg straight off the scan, no shuffle of value rows."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.lit("word").alias("domain"),
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
    ).filter(F.length("w") > 0)
    ids = docs.select(
        "source",
        F.lit("doc").alias("domain"),
        F.col("doc_id").cast("string").alias("w"),
    )
    # one (group, value) distinct pass feeds BOTH the register table
    # and the exact audit count — the corpus is scanned once per
    # domain, never once per consumer (registers are max-based, so
    # the distinct is free correctness-wise); the distinct table is
    # vocabulary/docid-bounded, safe to pin. (source, domain) stay
    # SEPARATE grouping columns throughout — no separator-packed key
    # a '/' inside a source name could mis-parse on re-split.
    values = (
        words.unionByName(ids)
        .select("source", "domain", "w")
        .distinct()
        .localCheckpoint(eager=True)
    )
    est = hll_estimates(
        hll_registers(values, group_cols=["source", "domain"]),
        group_cols=["source", "domain"],
    )
    exact = values.groupBy("source", "domain").agg(
        F.countDistinct("w").alias("n_exact")
    )
    return (
        est.join(exact, ["source", "domain"])
        .select(
            "source",
            "domain",
            "n_exact",
            "zero_registers",
            "sum_num",
            "raw_est",
            "hll_est",
            "used_linear_counting",
        )
        .orderBy("source", "domain")
    )


def sketch_hll_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING form of the HLL audit: events arrive as two
    event_id-ordered micro-batches through a real checkpointed stream
    into an HllRollupSink (streaming/sketch.py) maintaining per-
    event-type user-cardinality registers; the entry reads the
    published store's estimates back and joins the exact audit count.
    Because register merge is idempotent/commutative/associative, the
    streamed store over ANY batch split equals the one-shot batch
    register table bit-for-bit — which is exactly what the oracle
    value-checks (the batch SQL knows nothing about the split). The
    checkpointed plumbing, commit/manifest publish, merge kernel, and
    estimator all sit inside the checked path."""
    from postgres_opensearch_cdc_spark.streaming.sketch import (
        HllRollupSink,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    sink = stream_in_halves(
        events, "event_id",
        lambda path: HllRollupSink(
            path=path, group_col="event_type", value_col="user_id"
        ),
        keyed=True,
    )

    exact = events.groupBy(F.col("event_type").alias("g")).agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        sink.estimates(spark)
        .join(exact, "g")
        .select(
            F.col("g").alias("event_type"),
            "n_exact",
            "zero_registers",
            "sum_num",
            "raw_est",
            "hll_est",
            "used_linear_counting",
        )
        .orderBy("event_type")
    )


def sketch_cms_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming count-min sketch (CmsRollupSink,
    streaming/sketch.py): events arrive as two event_id-ordered
    micro-batches through a real checkpointed stream; the sink
    maintains the fixed 4x256 counter grid over the user_id
    occurrence stream (cells ADD across batches — the additive
    contract whose replay guard is mandatory, unlike the HLL store's
    idempotent max). The entry audits the true top-10 users: exact
    event count, sketch estimate from the PUBLISHED store, and the
    one-sided overestimate. Oracle: batch SQL rebuilding the same
    grid from the whole table — stream ≡ batch because cell addition
    is associative/commutative across any batch split."""
    from postgres_opensearch_cdc_spark.streaming.sketch import (
        CmsRollupSink,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id"
    )
    sink = stream_in_halves(
        events, "event_id",
        lambda path: CmsRollupSink(path=path, value_col="user_id"),
        keyed=True,
    )

    top = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "user_id")
        .limit(10)
    )
    est = sink.estimates(top, value_col="user_id")
    return (
        top.join(est, "user_id")
        .select(
            "user_id",
            "true_cnt",
            "cm_est",
            (F.col("cm_est") - F.col("true_cnt")).alias("overestimate"),
        )
        .orderBy(F.col("true_cnt").desc(), "user_id")
    )


# ---------------------------------------------------------------------------
# KMV bottom-k sketch + cross-source vocabulary overlap
# ---------------------------------------------------------------------------

KMV_K = 16


def kmv_sketches(words: DataFrame, group_col: str = "source",
                 value_col: str = "w") -> DataFrame:
    """(group, h) bottom-KMV_K sketch per group: the KMV_K smallest
    hash60 values over the group's DISTINCT values. Mergeable: the
    sketch of a union is the bottom-k of the concatenated sketches
    (pinned by test)."""
    distinct = words.select(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).distinct()
    hashed = distinct.select("g", hash60(F.col("v")).alias("h"))
    w = Window.partitionBy("g").orderBy("h")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("g", "h")
    )


def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k / K-Minimum-Values, Bar-Yossef et al. 2002;
    Beyer et al. 2007) vocabulary-overlap estimation between every
    source pair, audited against the exact Jaccard. Per source the
    sketch is the KMV_K smallest word hashes; for a pair the bottom-k
    of the UNION of the two sketches is a uniform sample of the union
    of the vocabularies, so

        jaccard_est = |{union bottom-k} present in BOTH sketches| / k'
        (k' = min(k, |union sample|); when both vocabularies fit in
        one sketch the estimate is EXACT by construction)

    Everything up to the final ratio is int64 hash comparison, so the
    oracle rebuilds the identical sample. At 100 TB the pairwise stage
    touches k rows per source (S·k total, broadcastable) instead of
    the vocab×S exact join — the standard way to price cross-source
    dedup/contamination BEFORE running it (the exact join is the
    audit column here, not the algorithm)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
    ).filter(F.length("w") > 0)
    dv = words.select("source", "w").distinct().localCheckpoint(eager=True)
    # k rows per source — pin it so the pairwise stages (which read it
    # 2x) don't re-run the bottom-k window
    sk = kmv_sketches(dv).localCheckpoint(eager=True)

    srcs = dv.select(F.col("source").alias("g")).distinct()
    pairs = (
        srcs.select(F.col("g").alias("a"))
        .join(srcs.select(F.col("g").alias("b")), F.col("a") < F.col("b"))
    )
    # union-of-sketches sample per pair: tag membership, group by hash
    sa = pairs.join(sk.withColumnRenamed("g", "a"), "a").select(
        "a", "b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    sb = pairs.join(sk.withColumnRenamed("g", "b"), "b").select(
        "a", "b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    u = (
        sa.unionByName(sb)
        .groupBy("a", "b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wu = Window.partitionBy("a", "b").orderBy("h")
    bottom = u.withColumn("rn", F.row_number().over(wu)).filter(
        F.col("rn") <= KMV_K
    )
    est = bottom.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("k_eff"),
        F.sum(
            (F.col("in_a") * F.col("in_b"))
        ).alias("matches"),
    )
    # exact audit columns (the O(vocab) join the sketch replaces)
    xa = dv.select(F.col("source").alias("a"), "w")
    xb = dv.select(F.col("source").alias("b"), "w")
    inter = (
        xa.join(xb, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = dv.groupBy(F.col("source").alias("g")).agg(
        F.count(F.lit(1)).alias("n")
    )
    exact = (
        pairs.join(sizes.withColumnRenamed("g", "a")
                   .withColumnRenamed("n", "n_a"), "a")
        .join(sizes.withColumnRenamed("g", "b")
              .withColumnRenamed("n", "n_b"), "b")
        .join(inter, ["a", "b"], "left")
        .select(
            "a", "b",
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            (F.col("n_a") + F.col("n_b")
             - F.coalesce("n_inter", F.lit(0))).alias("n_union"),
        )
    )
    return (
        est.join(exact, ["a", "b"])
        .select(
            F.col("a").alias("source_a"),
            F.col("b").alias("source_b"),
            "k_eff",
            "matches",
            (F.col("matches") / F.col("k_eff")).alias("jaccard_est"),
            "n_inter",
            "n_union",
            (F.col("n_inter") / F.col("n_union")).alias("jaccard_exact"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Fixed-point PageRank over the word-adjacency graph
# ---------------------------------------------------------------------------

PR_ITERS = 4
PR_SCALE = 10 ** 12          # total rank mass in integer micro-units
PR_TOPK = 20
# damping 0.85 as the exact rational 17/20 — fixed-point iteration


def pagerank_fixed_point(edges: DataFrame, nodes: DataFrame,
                         iters: int = PR_ITERS) -> DataFrame:
    """Integer fixed-point PageRank (Page et al. 1999): ranks are
    int64 micro-units of PR_SCALE total mass; one iteration is

        contrib(u->v) = (rank(u) * 17) div (20 * outdeg(u))
        dangling      = sum of rank(u) over outdeg(u) = 0
        rank'(v)      = (3*PR_SCALE) div (20*N)
                        + (17 * dangling) div (20 * N)
                        + sum of incoming contribs

    — every term is integer floor division on non-negative ints, so
    iteration results are identical regardless of summation order or
    partitioning (what makes the unrolled DuckDB oracle exact).
    ``edges`` is (src, dst) distinct; ``nodes`` is (w). Each iteration
    is one src-keyed join + one dst-keyed agg with the lineage cut by
    localCheckpoint — the Pregel shape; state is one int64/node."""
    n_nodes = nodes.count()
    outdeg = edges.groupBy(F.col("src").alias("w")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    base = (3 * PR_SCALE) // (20 * n_nodes)
    ranks = nodes.select(
        "w", F.lit(PR_SCALE // n_nodes).cast("long").alias("rank")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        with_deg = ranks.join(outdeg, "w", "left")
        dangling = (
            with_deg.filter(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("dsum"))
        )
        contribs = (
            with_deg.filter(F.col("outdeg").isNotNull())
            .join(edges, F.col("w") == F.col("src"))
            .select(
                F.col("dst").alias("w"),
                F.expr("(rank * 17) div (20 * outdeg)").alias("c"),
            )
            .groupBy("w")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "w", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "w",
                (
                    F.lit(base)
                    + F.expr(f"(17 * dsum) div (20 * {n_nodes})")
                    + F.coalesce("inflow", F.lit(0))
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the corpus word-adjacency digraph: nodes are
    distinct words, edges are distinct adjacent-word pairs (bigrams),
    PR_ITERS fixed-point iterations (see pagerank_fixed_point). The
    entry reports the PR_TOPK top-ranked words with their degrees —
    the centrality prior a crawl/quality pipeline computes over its
    link graph; the word graph stands in for the link graph so the
    kernel is oracle-checkable from the same parquet. Oracle: the
    iterations UNROLLED as materialized CTEs (the BPE-oracle pattern)
    — integer ranks must match EXACTLY."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda w: F.length(w) > 0,
        ).alias("t")
    )
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = bigrams.distinct().localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("w"))
        .unionByName(edges.select(F.col("dst").alias("w")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranks = pagerank_fixed_point(edges, nodes)
    indeg = edges.groupBy(F.col("dst").alias("w")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    outdeg = edges.groupBy(F.col("src").alias("w")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    return (
        ranks.join(indeg, "w", "left")
        .join(outdeg, "w", "left")
        .select(
            "w",
            F.col("rank").alias("pagerank"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        )
        .orderBy(F.col("pagerank").desc(), "w")
        .limit(PR_TOPK)
    )


# ---------------------------------------------------------------------------
# Unigram-LM Viterbi segmentation (SentencePiece-unigram inference)
# ---------------------------------------------------------------------------

UNI_NMAX = 3        # piece length cap for the induced vocabulary
UNI_VOCAB = 200     # multi-char pieces kept (all single chars always kept)
UNI_QUANT = 10 ** 6  # micro-nat quantization of piece log-probs


def unigram_vocab(words: DataFrame) -> DataFrame:
    """(piece, freq, score) — the induced piece vocabulary: all
    character 1..UNI_NMAX-grams of the corpus words weighted by word
    frequency; kept pieces are every 1-gram (guarantees every word
    segments) plus the top UNI_VOCAB multi-char pieces by (freq desc,
    piece); score(p) = floor(UNI_QUANT * ln(freq_p / T)) with T the
    total kept-piece frequency — integer micro-nats, one ln on
    identical integers in both engines. ``words`` is (w, freq)."""
    grams = words.select(
        "freq",
        F.explode(
            # positions run 1..length(w) (sequence(1, 0) would DESCEND
            # in Spark); end-of-word substrings come out short and are
            # filtered by exact length
            F.expr(
                f"""
                flatten(transform(sequence(1, {UNI_NMAX}), n ->
                    filter(transform(sequence(1, length(w)),
                                     i -> substring(w, i, n)),
                           p -> length(p) = n)))
                """
            )
        ).alias("p"),
    )
    freqs = grams.groupBy("p").agg(
        F.sum("freq").alias("freq")
    ).localCheckpoint(eager=True)
    singles = freqs.filter(F.length("p") == 1)
    multi = (
        freqs.filter(F.length("p") > 1)
        .orderBy(F.col("freq").desc(), "p")
        .limit(UNI_VOCAB)
    )
    kept = singles.unionByName(multi)
    total = kept.agg(F.sum("freq").alias("t"))
    return (
        kept.crossJoin(F.broadcast(total))
        .select(
            "p",
            "freq",
            F.floor(
                F.lit(UNI_QUANT) * F.log(F.col("freq") / F.col("t"))
            ).cast("long").alias("score"),
        )
    )


def viterbi_segment(words: DataFrame, vocab: list[tuple[str, int]],
                    word_col: str = "w") -> DataFrame:
    """Max-sum Viterbi segmentation of each word under an integer-
    scored piece vocabulary — the SentencePiece-unigram decode (Kudo
    2018). DP over positions: best(i) = max over vocab pieces p ending
    at i of best(i-|p|) + score(p); ties broken by the
    lexicographically GREATEST '|'-joined segmentation (composable:
    two partial segmentations of the same prefix always first differ
    at a '|' vs letter position, so appending a common suffix never
    flips the comparison — pinned by the brute-force test). Runs as
    an Arrow-batched mapInPandas with the bounded vocabulary in the
    closure (the bpe_apply_tokens_arrow shape): per-batch cost is pure
    local DP over distinct words, no per-row Python UDF."""
    table = {p: int(s) for p, s in vocab}
    nmax = max((len(p) for p in table), default=1)
    other = [c for c in words.columns if c != word_col]

    def encode(batches):
        for pdf in batches:
            segs, scores, nps = [], [], []
            for w in pdf[word_col]:
                best: list[tuple[int, str] | None] = [None] * (len(w) + 1)
                best[0] = (0, "")
                for i in range(1, len(w) + 1):
                    cand = None
                    for L in range(1, min(nmax, i) + 1):
                        p = w[i - L:i]
                        s = table.get(p)
                        prev = best[i - L]
                        if s is None or prev is None:
                            continue
                        seg = p if prev[1] == "" else prev[1] + "|" + p
                        c = (prev[0] + s, seg)
                        if cand is None or (c[0], c[1]) > (cand[0], cand[1]):
                            cand = c
                    best[i] = cand
                final = best[len(w)]
                if final is None:  # unsegmentable (char outside vocab)
                    segs.append(None)
                    scores.append(None)
                    nps.append(None)
                else:
                    segs.append(final[1])
                    scores.append(final[0])
                    nps.append(final[1].count("|") + 1)
            out = pdf[[word_col, *other]].copy()
            out["seg"] = segs
            out["best_score"] = scores
            out["n_pieces"] = nps
            yield out

    schema = T.StructType(
        [words.schema[word_col]]
        + [words.schema[c] for c in other]
        + [
            T.StructField("seg", T.StringType()),
            T.StructField("best_score", T.LongType()),
            T.StructField("n_pieces", T.LongType()),
        ]
    )
    return words.mapInPandas(encode, schema)


def unigram_viterbi_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-unigram segmentation of the corpus vocabulary:
    induce the scored piece vocabulary (unigram_vocab), then Viterbi-
    decode every DISTINCT word (viterbi_segment). Output one row per
    distinct word: its best segmentation, exact integer score, piece
    count, and corpus frequency. Oracle: a recursive CTE enumerates
    EVERY segmentation of every word (words are short; pieces are
    <= UNI_NMAX chars) and takes the same (score, seg) argmax — the
    efficient DP is checked against the exhaustive spec, the same
    relationship wordpiece_apply_longest has with its greedy CTE.
    At 100 TB the decode cost is one distinct-word shuffle + local
    Arrow DP — constant in corpus token count past the distinct."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    vocab = [
        (r["p"], r["score"]) for r in unigram_vocab(words).collect()
    ]  # bounded: <= UNI_VOCAB + |charset| rows by construction
    return (
        viterbi_segment(words, vocab)
        .select("w", "freq", "best_score", "seg", "n_pieces")
        .orderBy("w")
    )


QUERIES = {
    "sketch_hyperloglog": sketch_hyperloglog,
    "sketch_hll_rollup_stream": sketch_hll_rollup_stream,
    "sketch_cms_rollup_stream": sketch_cms_rollup_stream,
    "sketch_kmv_overlap": sketch_kmv_overlap,
    "graph_pagerank": graph_pagerank,
    "unigram_viterbi_segment": unigram_viterbi_segment,
}


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

_HLL_SQL = f"""
    WITH ws AS (
        SELECT source, 'word' AS domain, w FROM (
            SELECT source, unnest({_TOKS_SQL}) AS w FROM documents
        ) WHERE length(w) > 0
        UNION ALL
        SELECT source, 'doc' AS domain, doc_id::VARCHAR AS w
        FROM documents
    ),
    hashed AS (
        SELECT source, domain,
               {_H60.format(x='w')} AS h
        FROM ws
    ),
    cells AS (
        SELECT source, domain,
               h // {1 << HLL_SUFFIX_BITS} AS bucket,
               CASE WHEN h % {1 << HLL_SUFFIX_BITS} = 0
                    THEN {HLL_RHO_MAX}
                    ELSE {HLL_RHO_MAX}
                         - length(ltrim(bin(h % {1 << HLL_SUFFIX_BITS}), '0'))
               END AS rho
        FROM hashed
    ),
    regs AS (
        SELECT source, domain, bucket, MAX(rho) AS register
        FROM cells GROUP BY 1, 2, 3
    ),
    per_group AS (
        SELECT source, domain,
               CAST(SUM(1::BIGINT << ({HLL_RHO_MAX} - register))
                    + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_RHO_MAX})
                    AS BIGINT) AS sum_num,
               {HLL_M} - COUNT(*) AS zero_registers
        FROM regs GROUP BY source, domain
    ),
    exact AS (
        SELECT source, domain, COUNT(DISTINCT w) AS n_exact
        FROM ws GROUP BY source, domain
    ),
    est AS (
        SELECT p.source, p.domain, e.n_exact, p.zero_registers, p.sum_num,
               {HLL_ALPHA * HLL_M * HLL_M} * {float(1 << HLL_RHO_MAX)}
                   / p.sum_num AS raw_est
        FROM per_group p JOIN exact e USING (source, domain)
    )
    SELECT source, domain, n_exact, zero_registers, sum_num, raw_est,
           CASE WHEN raw_est <= {2.5 * HLL_M} AND zero_registers > 0
                THEN {float(HLL_M)} * ln({float(HLL_M)} / zero_registers)
                ELSE raw_est END AS hll_est,
           (raw_est <= {2.5 * HLL_M} AND zero_registers > 0)
               AS used_linear_counting
    FROM est ORDER BY source, domain
"""

_KMV_SQL = f"""
    WITH ws AS (
        SELECT DISTINCT source, w FROM (
            SELECT source, unnest({_TOKS_SQL}) AS w FROM documents
        ) WHERE length(w) > 0
    ),
    hashed AS (
        SELECT source, {_H60.format(x='w')} AS h FROM ws
    ),
    sk AS (
        SELECT source, h FROM (
            SELECT source, h,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM hashed
        ) WHERE rn <= {KMV_K}
    ),
    pairs AS (
        SELECT a.source AS a, b.source AS b
        FROM (SELECT DISTINCT source FROM ws) a
        JOIN (SELECT DISTINCT source FROM ws) b ON a.source < b.source
    ),
    u AS (
        SELECT a, b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
            SELECT p.a, p.b, s.h, 1 AS in_a, 0 AS in_b
            FROM pairs p JOIN sk s ON s.source = p.a
            UNION ALL
            SELECT p.a, p.b, s.h, 0 AS in_a, 1 AS in_b
            FROM pairs p JOIN sk s ON s.source = p.b
        ) GROUP BY 1, 2, 3
    ),
    bottom AS (
        SELECT a, b, in_a, in_b FROM (
            SELECT a, b, in_a, in_b,
                   ROW_NUMBER() OVER (PARTITION BY a, b ORDER BY h) AS rn
            FROM u
        ) WHERE rn <= {KMV_K}
    ),
    est AS (
        SELECT a, b, COUNT(*) AS k_eff,
               CAST(SUM(in_a * in_b) AS BIGINT) AS matches
        FROM bottom GROUP BY a, b
    ),
    sizes AS (
        SELECT source, COUNT(*) AS n FROM ws GROUP BY source
    ),
    inter AS (
        SELECT x.source AS a, y.source AS b, COUNT(*) AS n_inter
        FROM ws x JOIN ws y ON x.w = y.w AND x.source < y.source
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT p.a, p.b,
               COALESCE(i.n_inter, 0) AS n_inter,
               sa.n + sb.n - COALESCE(i.n_inter, 0) AS n_union
        FROM pairs p
        JOIN sizes sa ON sa.source = p.a
        JOIN sizes sb ON sb.source = p.b
        LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
    )
    SELECT e.a AS source_a, e.b AS source_b, e.k_eff, e.matches,
           e.matches / e.k_eff::DOUBLE AS jaccard_est,
           x.n_inter, x.n_union,
           x.n_inter / x.n_union::DOUBLE AS jaccard_exact
    FROM est e JOIN exact x ON e.a = x.a AND e.b = x.b
    ORDER BY source_a, source_b
"""


def _pagerank_sql(iters: int = PR_ITERS) -> str:
    head = f"""
    WITH t AS (
        SELECT list_filter({_TOKS_SQL}, w -> length(w) > 0) AS t
        FROM documents
    ),
    edges AS MATERIALIZED (
        SELECT DISTINCT t[i+1] AS src, t[i+2] AS dst
        FROM t, UNNEST(range(len(t) - 1)) AS u(i)
        WHERE len(t) >= 2
    ),
    nodes AS MATERIALIZED (
        SELECT src AS w FROM edges UNION SELECT dst FROM edges
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS MATERIALIZED (
        SELECT src AS w, COUNT(*) AS outdeg FROM edges GROUP BY src
    ),
    r0 AS MATERIALIZED (
        SELECT w, {PR_SCALE} // (SELECT n FROM nn) AS rank FROM nodes
    )"""
    steps = []
    prev = "r0"
    for k in range(1, iters + 1):
        steps.append(f"""
    d{k} AS (
        SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dsum
        FROM {prev} r LEFT JOIN outdeg o USING (w)
        WHERE o.w IS NULL
    ),
    c{k} AS (
        SELECT e.dst AS w,
               CAST(SUM((r.rank * 17) // (20 * o.outdeg)) AS BIGINT)
                   AS inflow
        FROM {prev} r JOIN outdeg o USING (w)
        JOIN edges e ON e.src = r.w
        GROUP BY e.dst
    ),
    r{k} AS MATERIALIZED (
        SELECT n.w,
               (3 * {PR_SCALE}) // (20 * (SELECT n FROM nn))
               + (17 * (SELECT dsum FROM d{k}))
                 // (20 * (SELECT n FROM nn))
               + COALESCE(c.inflow, 0) AS rank
        FROM nodes n LEFT JOIN c{k} c USING (w)
    )""")
        prev = f"r{k}"
    return (
        head + "," + ",".join(steps) + f""",
    indeg AS (
        SELECT dst AS w, COUNT(*) AS in_deg FROM edges GROUP BY dst
    )
    SELECT r.w, r.rank AS pagerank,
           COALESCE(i.in_deg, 0) AS in_deg,
           COALESCE(o.outdeg, 0) AS out_deg
    FROM {prev} r
    LEFT JOIN indeg i USING (w)
    LEFT JOIN outdeg o USING (w)
    ORDER BY pagerank DESC, w LIMIT {PR_TOPK}
    """)


_UNI_SQL = f"""
    WITH RECURSIVE words AS MATERIALIZED (
        SELECT w, COUNT(*) AS freq FROM (
            SELECT unnest({_TOKS_SQL}) AS w FROM documents
        ) WHERE length(w) > 0 GROUP BY w
    ),
    grams AS (
        SELECT substr(w, i + 1, n) AS p, SUM(freq) AS freq
        FROM words,
             UNNEST(range(1, {UNI_NMAX} + 1)) AS ns(n),
             UNNEST(range(length(w))) AS ps(i)
        WHERE i + n <= length(w)
        GROUP BY 1
    ),
    kept AS MATERIALIZED (
        SELECT p, freq FROM grams WHERE length(p) = 1
        UNION ALL
        SELECT p, freq FROM (
            SELECT p, freq FROM grams WHERE length(p) > 1
            ORDER BY freq DESC, p LIMIT {UNI_VOCAB}
        )
    ),
    vocab AS MATERIALIZED (
        SELECT p, freq,
               floor({UNI_QUANT} * ln(freq / (SELECT SUM(freq) FROM kept)))
                   ::BIGINT AS score
        FROM kept
    ),
    segs AS (
        SELECT w, 0 AS pos, 0::BIGINT AS score, '' AS seg, 0 AS np
        FROM words
        UNION ALL
        SELECT s.w, s.pos + length(v.p), s.score + v.score,
               CASE WHEN s.seg = '' THEN v.p
                    ELSE s.seg || '|' || v.p END,
               s.np + 1
        FROM segs s JOIN vocab v
          ON substr(s.w, s.pos + 1, length(v.p)) = v.p
        WHERE s.pos < length(s.w)
    ),
    best AS (
        SELECT w, score AS best_score, seg, np AS n_pieces,
               ROW_NUMBER() OVER (
                   PARTITION BY w ORDER BY score DESC, seg DESC
               ) AS rn
        FROM segs WHERE pos = length(w)
    )
    SELECT b.w, wd.freq, b.best_score, b.seg, b.n_pieces
    FROM best b JOIN words wd USING (w)
    WHERE b.rn = 1
    ORDER BY b.w
"""


_HLL_STREAM_SQL = f"""
    WITH hashed AS (
        SELECT event_type AS g,
               {_H60.format(x='user_id::VARCHAR')} AS h
        FROM events
    ),
    cells AS (
        SELECT g,
               h // {1 << HLL_SUFFIX_BITS} AS bucket,
               CASE WHEN h % {1 << HLL_SUFFIX_BITS} = 0
                    THEN {HLL_RHO_MAX}
                    ELSE {HLL_RHO_MAX}
                         - length(ltrim(bin(h % {1 << HLL_SUFFIX_BITS}), '0'))
               END AS rho
        FROM hashed
    ),
    regs AS (
        SELECT g, bucket, MAX(rho) AS register FROM cells GROUP BY 1, 2
    ),
    per_group AS (
        SELECT g,
               CAST(SUM(1::BIGINT << ({HLL_RHO_MAX} - register))
                    + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_RHO_MAX})
                    AS BIGINT) AS sum_num,
               {HLL_M} - COUNT(*) AS zero_registers
        FROM regs GROUP BY g
    ),
    exact AS (
        SELECT event_type AS g, COUNT(DISTINCT user_id) AS n_exact
        FROM events GROUP BY 1
    ),
    est AS (
        SELECT p.g, e.n_exact, p.zero_registers, p.sum_num,
               {HLL_ALPHA * HLL_M * HLL_M} * {float(1 << HLL_RHO_MAX)}
                   / p.sum_num AS raw_est
        FROM per_group p JOIN exact e USING (g)
    )
    SELECT g AS event_type, n_exact, zero_registers, sum_num, raw_est,
           CASE WHEN raw_est <= {2.5 * HLL_M} AND zero_registers > 0
                THEN {float(HLL_M)} * ln({float(HLL_M)} / zero_registers)
                ELSE raw_est END AS hll_est,
           (raw_est <= {2.5 * HLL_M} AND zero_registers > 0)
               AS used_linear_counting
    FROM est ORDER BY event_type
"""


from postgres_opensearch_cdc_spark.streaming.sketch import (  # noqa: E402
    CMS_DEPTH,
    CMS_WIDTH,
)

_CMS_STREAM_SQL = f"""
    WITH rws AS (SELECT r FROM UNNEST(range({CMS_DEPTH})) AS t(r)),
    cells AS (
        SELECT r,
               {_H60.format(x="user_id::VARCHAR || ':' || r::VARCHAR")}
                   % {CMS_WIDTH} AS bucket,
               COUNT(*) AS cell
        FROM events CROSS JOIN rws GROUP BY 1, 2
    ),
    top AS (
        SELECT user_id, COUNT(*) AS true_cnt FROM events
        GROUP BY user_id ORDER BY true_cnt DESC, user_id LIMIT 10
    ),
    probes AS (
        SELECT user_id, true_cnt, r,
               {_H60.format(x="user_id::VARCHAR || ':' || r::VARCHAR")}
                   % {CMS_WIDTH} AS bucket
        FROM top CROSS JOIN rws
    ),
    est AS (
        SELECT user_id, true_cnt,
               CAST(MIN(COALESCE(c.cell, 0)) AS BIGINT) AS cm_est
        FROM probes p LEFT JOIN cells c USING (r, bucket)
        GROUP BY 1, 2
    )
    SELECT user_id, true_cnt, cm_est,
           cm_est - true_cnt AS overestimate
    FROM est ORDER BY true_cnt DESC, user_id
"""


ORACLE = {
    "sketch_hyperloglog": _HLL_SQL,
    "sketch_hll_rollup_stream": _HLL_STREAM_SQL,
    "sketch_cms_rollup_stream": _CMS_STREAM_SQL,
    "sketch_kmv_overlap": _KMV_SQL,
    "graph_pagerank": _pagerank_sql(),
    "unigram_viterbi_segment": _UNI_SQL,
}
