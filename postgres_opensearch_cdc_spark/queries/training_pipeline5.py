"""Training-data pipeline batch 5 (round 12): WordPiece tokenizer
training + max-munch inference, CCNet-style perplexity bucketing,
winnowing document fingerprints (the MOSS algorithm), perceptual-hash
dedup groups over the multimodal plumbing, content-defined chunking
(rsync/FastCDC family), and a count-min heavy-hitter sketch — seven
more published dataset-construction stages a pretraining pipeline
runs (absent from the reference; SURVEY §2.7 extension class
alongside batches 1-4).

Scale shapes:
- WordPiece training has the same shape as BPE training
  (functions/bpe.py): one corpus scan builds the distinct-word
  frequency table; each merge iteration runs over the ~|vocab|-row
  symbol table only (pair counts + symbol counts + a broadcastable
  2-way join + a 1-row argmax). Inference is the Arrow mapInPandas
  encoder shape (plan constant in vocab size, distinct-word cache).
- CCNet bucketing is two count shuffles (bigram / prefix, both
  Zipf-bounded) + one doc-keyed agg + the distributed global-rank
  construction (functions/ranking.py — one range shuffle, offsets
  collected at #partitions rows); no single-partition window.
- winnowing is scan-stage gram hashing, a w-fold position explode, a
  (doc, window)-partitioned argmin window, then hash-keyed grouping;
  the pair expansion is bounded by the per-hash doc-frequency cap
  (the hot-band-cap pattern from functions/dedup.py LSH); the
  fingerprint table is checkpointed once for its three consumers.
- the perceptual hash consumes the REAL Arrow mapInPandas feature
  path (functions/multimodal.py) and reduces to a 16-bit integer per
  item before the only shuffle (the group-by).
- content-defined chunk boundaries are a LOCAL mask test (single
  scan, flags zip-aligned to tokens, doc-partitioned running sum) —
  embarrassingly parallel because FastCDC's sequential min-size skip
  is deliberately omitted (see chunk_content_defined docstring).
- the count-min sketch is the canonical mergeable summary: one scan
  emits every (hash-row, bucket) coordinate inline, one map-side
  combined agg builds the fixed-size grid.

Determinism contract: every score the engines compare is either pure
int64 arithmetic (winnowing/chunking/sketch hashes via md5-backed
hash60; aHash bits via integer cross-multiplication; CCNet per-doc
scores as exact integer sums of per-bigram micro-nat quanta) or ONE
IEEE double op on identical integers (the WordPiece score division) —
so every entry is value-checked in DuckDB, including the unrolled
WordPiece merge decisions (the BPE-oracle pattern,
training_pipeline3.py) and the max-munch greedy steps (recursive
CTE)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from postgres_opensearch_cdc_spark.functions.bpe import wordpiece_train
from postgres_opensearch_cdc_spark.functions.dedup import hash60
from postgres_opensearch_cdc_spark.functions.ranking import with_global_rank
from postgres_opensearch_cdc_spark.registry import load_table, memo

WP_MERGES = 8       # WordPiece merges learned (production: 30k; the
                    # bpe_train_local driver-loop pattern applies)

WIN_K = 3           # winnowing: tokens per k-gram
WIN_W = 4           # winnowing: window size in gram positions
WIN_CAP = 50        # per-hash doc-frequency cap (hot-hash guard)
WIN_MIN_SHARED = 2  # report pairs sharing at least this many prints

CCNET_BUCKETS = ("head", "middle", "tail")

_TOKS_SQL = r"regexp_split_to_array(lower(text), '\s+')"


# ---------------------------------------------------------------------------
# WordPiece-objective merge training
# ---------------------------------------------------------------------------

def _wp_merges(spark: SparkSession, sf_dir: str) -> list:
    return memo(
        spark, sf_dir, "wp_merges",
        lambda s, d: wordpiece_train(
            load_table(s, d, "documents"), "text", num_merges=WP_MERGES
        ),
    )


def wordpiece_apply_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned WordPiece vocabulary to every document with
    greedy longest-match-first (max-munch) tokenization — the BERT
    encode step — and count tokens per doc. Runs the Arrow-batched
    mapInPandas encoder (functions/bpe.py wordpiece_token_counts_arrow:
    constant plan size, per-partition distinct-word cache). The oracle
    replays max-munch as a RECURSIVE CTE over the distinct-word table
    (one row per greedy step), so every longest-match decision is
    value-checked, not just the counts."""
    from postgres_opensearch_cdc_spark.functions.bpe import (
        wordpiece_token_counts_arrow,
    )

    docs = load_table(spark, sf_dir, "documents")
    return wordpiece_token_counts_arrow(
        docs, "text", "doc_id", _wp_merges(spark, sf_dir)
    ).orderBy("id")


def wordpiece_train_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 8 WordPiece merges (Schuster & Nakajima 2012;
    the BERT tokenizer): per iteration the pair maximizing
    count(l,r)/(count(l)*count(r)) — the likelihood-gain objective —
    instead of BPE's raw count. The oracle unrolls every iteration in
    DuckDB (pair counts, symbol counts, the score division, the
    (score desc, l, r) tie-break, the literal-replace merge), so the
    MERGE DECISIONS and their scores are value-checked, not just the
    final vocabulary. Output score is scaled to 1e9 so the harness's
    6-dp float normalization keeps meaningful digits."""
    rows = [(rank, l, r, l + r, score * 1e9)
            for rank, l, r, score in _wp_merges(spark, sf_dir)]
    return spark.createDataFrame(
        rows,
        "rank int, left string, right string, merged string, "
        "score_1e9 double",
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (head / middle / tail)
# ---------------------------------------------------------------------------


def quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity split (Wenzek et al. 2020): score every
    document with the corpus bigram LM (mean -ln p(w2|w1), as in
    quality_bigram_lm) and split the corpus into equal head / middle /
    tail thirds by score rank — the head (lowest perplexity) is what
    CCNet keeps for pretraining. Output: per (bucket, source) doc
    counts and score stats, the audit a curation run reports.

    Exactness: each bigram's -ln p is quantized to integer micro-nats
    (ROUND(x*1e6) — both engines round the identical double the same
    way for positives), per-doc and per-bucket means are exact integer
    sums divided once, and the global rank is the distributed
    two-phase construction (functions/ranking.py) with doc_id
    tie-break — no float-summation-order noise anywhere in the
    bucketing decision. Docs with fewer than two tokens have no
    bigrams and are excluded (CCNet drops them upstream)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "arrays_zip(slice(split(lower(text), '\\\\s+'), 1, "
                "size(split(lower(text), '\\\\s+')) - 1), "
                "slice(split(lower(text), '\\\\s+'), 2, "
                "size(split(lower(text), '\\\\s+')) - 1))"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        "source",
        F.col("s.0").alias("prev"),
        F.concat(F.col("s.0"), F.lit(" "), F.col("s.1")).alias("bigram"),
        # pinned: three consumers (bigram counts, context counts, the
        # scored join) each re-ran the corpus tokenize+zip+explode
        # without the cut (r15, guide §1.2: don't compute it thrice)
    ).localCheckpoint(eager=True)
    b_cnt = pairs.groupBy("bigram").agg(F.count(F.lit(1)).alias("bc"))
    p_cnt = pairs.groupBy("prev").agg(F.count(F.lit(1)).alias("pc"))
    scored = (
        pairs.join(b_cnt, "bigram")
        .join(p_cnt, "prev")
        .withColumn(
            "q",
            F.round(-F.log(F.col("bc") / F.col("pc")) * 1e6, 0)
            .cast("long"),
        )
    )
    per_doc = scored.groupBy("doc_id", "source").agg(
        F.sum("q").alias("sum_q"),
        F.count(F.lit(1)).alias("n_bg"),
    ).withColumn("doc_nlp_e6", F.col("sum_q") / F.col("n_bg"))
    ranked, n = with_global_rank(
        per_doc, ["doc_nlp_e6", "doc_id"], "rk"
    )
    bucket = (
        F.when(F.col("rk") * 3 <= n, F.lit("head"))
        .when(F.col("rk") * 3 <= 2 * n, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.withColumn("bucket", bucket)
        .groupBy("bucket", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("sum_q") / F.sum("n_bg")).alias("mean_nlp_e6"),
            F.min("doc_nlp_e6").alias("min_nlp_e6"),
            F.max("doc_nlp_e6").alias("max_nlp_e6"),
        )
        .orderBy("bucket", "source")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — MOSS)
# ---------------------------------------------------------------------------


def fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: hash every {WIN_K}-token gram,
    slide a {WIN_W}-gram window, and select each window's minimal hash
    (rightmost on ties — robust winnowing), guaranteeing any shared
    run of WIN_W+WIN_K-1 tokens yields a shared fingerprint. Reports
    document pairs sharing >= {WIN_MIN_SHARED} distinct selected
    hashes — the local-similarity detector (MOSS) that catches
    partial-overlap near-duplicates full-document sketches miss.

    Scale: gram hashing is scan-stage (portable hash60, int64-only);
    the window argmin is a (doc, window)-partitioned window function
    (never a global sort); fingerprints shrink the corpus ~1/w before
    the only wide op; the pair expansion is capped at {WIN_CAP} docs
    per hash (boilerplate-hash guard — the LSH hot-band-cap pattern,
    functions/dedup.py), keeping the join output linear in corpus
    size. Docs shorter than {WIN_K} tokens have no grams and drop
    out, matching the oracle."""
    return winnow_shared_pairs(load_table(spark, sf_dir, "documents", spread=True))


def winnow_shared_pairs(docs: DataFrame) -> DataFrame:
    """The winnowing pipeline over any (doc_id, text) frame — see
    fingerprint_winnowing for semantics and scale notes."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    base = docs.select("doc_id", toks.alias("t")).filter(
        F.size("t") >= WIN_K
    )
    zipped = F.arrays_zip(
        F.slice("t", 1, F.size("t") - (WIN_K - 1)).alias("a"),
        F.slice("t", 2, F.size("t") - (WIN_K - 1)).alias("b"),
        F.slice("t", 3, F.size("t") - (WIN_K - 1)).alias("c"),
    )
    # gram hashes stay a per-doc ARRAY (portable hash60 in the JVM
    # scan, no posexplode); the per-window minima come from ONE
    # vectorized numpy sliding-min pass per doc instead of exploding
    # every (gram × window) membership row and sorting it through a
    # (doc, window)-keyed row_number shuffle — r14, guide §4.2. The
    # selected SET is identical: a window's fingerprint is its minimal
    # hash VALUE, so the rightmost-tie rule affects only which
    # occurrence is credited, which the distinct erases; int64 minima
    # are exact in both forms.
    grams = base.select(
        "doc_id",
        F.transform(
            zipped,
            lambda g: hash60(F.concat_ws(" ", g["a"], g["b"], g["c"])),
        ).alias("hs"),
    )

    import numpy as np
    import pandas as pd

    def _window_minima(it):
        for pdf in it:
            ids, hs_out = [], []
            for doc_id, hs in zip(pdf["doc_id"], pdf["hs"]):
                h = np.asarray(hs, dtype=np.int64)
                if len(h) <= WIN_W:
                    mins = h.min(keepdims=True)
                else:
                    mins = np.lib.stride_tricks.sliding_window_view(
                        h, WIN_W
                    ).min(axis=1)
                for v in np.unique(mins):
                    ids.append(doc_id)
                    hs_out.append(v)
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "h": pd.Series(hs_out, dtype="int64"),
            })

    fp = (
        grams.mapInPandas(_window_minima, schema="doc_id long, h long")
        # fp feeds THREE consumers (the doc-frequency filter and both
        # sides of the pair self-join); checkpoint it once instead of
        # re-running the gram pipeline per consumer — fp is the
        # ~1/w-compressed fingerprint table, the natural
        # materialization point of every winnowing system
        .localCheckpoint(eager=True)
    )
    ok = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= WIN_CAP))
        .select("h")
    )
    a = fp.join(ok, "h").select("h", F.col("doc_id").alias("doc_a"))
    b = fp.join(ok, "h").select("h", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

WS_K = 5        # docs sampled per source
WS_SALT = 91    # hash60 salt for the uniform draw
WS_SCALE = 1 << 60  # hash60 range: u = (h + 1) / 2^60 in (0, 1]


def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, the one-pass
    Efraimidis-Spirakis (2006) reduction every distributed sampler
    uses: draw u ~ U(0,1] per item, keep the top-k by key u^(1/w) —
    equivalently argmax of ln(u)/w, which is what both engines
    compute (monotone transform, no pow). Here: the top {WS_K}
    documents per source weighted by n_chars, the
    inclusion-probability-proportional-to-size subsample a mixture
    stage draws. The 'random' draw is derandomized through hash60
    (the repo-wide fate pattern: deterministic, replayable,
    engine-portable), so the SAMPLE ITSELF is value-checked by the
    oracle — not just its size.

    Scale: key computation is scan-stage; selection is one
    (source)-partitioned top-k window — with k bounded and sources
    low-cardinality this is the textbook distributed weighted sample
    (at extreme per-source row counts the same key feeds a
    TakeOrderedAndProject per group via the rank filter — Spark's
    WindowGroupLimit pushes the k-filter below the sort)."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (
            F.log(
                (hash60(F.col("doc_id").cast("string"), salt=WS_SALT)
                 + 1).cast("double")
                / F.lit(float(WS_SCALE))
            )
            / F.col("n_chars")
        ).alias("es_key"),
    )
    win = Window.partitionBy("source").orderBy(
        F.col("es_key").desc(), "doc_id"
    )
    return (
        keyed.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= WS_K)
        .select("source", "rank", "doc_id", "n_chars")
        .orderBy("source", "rank")
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (fixed-memory probe side)
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 16   # filter bits (production: sized to eval-set grams)
BLOOM_K = 3         # hash functions
BLOOM_SALT = 70     # hash60 salt base (salts 70..70+K-1)


def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a BLOOM FILTER of the
    held-out set's {4}-grams — the fixed-memory form of
    contamination_ngram's exact semi-join: the filter is {BLOOM_K}
    bit positions per gram in a {BLOOM_M}-bit space, so the probe
    side ships kilobytes per executor regardless of benchmark size
    (an exact gram set grows with the benchmark; at 100 TB the bloom
    is what actually broadcasts). A gram hits iff ALL {BLOOM_K}
    positions are set — one-sided error: every exact match is a hit,
    false positives are possible and REPORTED (n_bloom - n_exact per
    doc), never silent. The filter is deterministic under the
    portable hash60 family, so the oracle rebuilds the identical bit
    set and the identical false positives — the FP behavior itself
    is value-checked, not just the happy path.

    Same benchmark split and gram semantics as contamination_ngram
    (imported, not re-derived), so the two entries' exact columns
    agree by construction."""
    from postgres_opensearch_cdc_spark.queries.training_pipeline import (
        BENCHMARK_MAX_DOC_ID,
        CONTAM_N,
        _ngrams,
        _toks,
    )

    # spread=True: the whole cost of this entry is scan-stage compute
    # (tokenize → n-gram explode → md5 → distinct) over an unsplittable
    # local fixture; see registry.spread_scan (no-op on well-split input)
    docs = load_table(spark, sf_dir, "documents", spread=True)

    def grams(side: DataFrame) -> DataFrame:
        return side.select(
            "doc_id",
            F.explode(_ngrams(_toks(F.col("text")), CONTAM_N)).alias(
                "gram"
            ),
        ).select("doc_id", F.md5(F.col("gram")).alias("gram_h"))

    def bits(frame: DataFrame) -> DataFrame:
        return frame.select(
            "*",
            F.explode(
                F.array(*[
                    F.pmod(
                        hash60(F.col("gram_h"), salt=BLOOM_SALT + i),
                        F.lit(BLOOM_M),
                    )
                    for i in range(BLOOM_K)
                ])
            ).alias("bit"),
        )

    bench_grams = (
        grams(docs.filter(F.col("doc_id") < BENCHMARK_MAX_DOC_ID))
        .select("gram_h")
        .distinct()
    )
    # The filter travels as the VALUE it is — a packed bitmap — not as
    # a joined table of set bit positions (guide §3.2: broadcast the
    # bloom, don't shuffle against it): fold the build side's bits
    # into BLOOM_M/64 int64 words with bit_or (driver exchange is the
    # fixed BLOOM_M/64 rows — the same bounded-constant shape as the
    # MIPS max-norm row), embed the words as ONE array literal, and
    # probe with K in-scan element_at/shiftright lookups per gram.
    # This removes the xK probe-row explosion, the broadcast-join and
    # the (doc_id, gram_h) count==K re-aggregation shuffle the joined
    # form paid; membership semantics are bit-identical (count==K over
    # duplicate-bit rows == all-K-bits-set).
    # The packed bitmap stays INSIDE Spark as a broadcast one-row array
    # (not a driver collect folded into literals: a 1024-element array
    # literal repeated once per hash made Catalyst re-analyze a
    # multi-thousand-node plan on every invocation — ~2 s of pure
    # driver-side planning). The dense word array is built by the same
    # bit_or aggregation, pivoted to a map and expanded over
    # sequence(0, M/64-1); it broadcasts as ONE row.
    word_map = (
        bits(bench_grams)
        .select(
            F.shiftright(F.col("bit"), 6).alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("bit") % 64).cast("int")
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("word"))
        .groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "word"))
            ).alias("wm")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(BLOOM_M // 64 - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("wm"), i), F.lit(0).cast("long")
                ),
            ).alias("_bloom_words")
        )
    )

    def bit_set(bit):
        word = F.element_at(
            F.col("_bloom_words"), F.shiftright(bit, 6).cast("int") + 1
        )
        return (
            F.call_function(
                "shiftright", word, (bit % 64).cast("int")
            ).bitwiseAND(F.lit(1))
            == 1
        )

    corpus = (
        grams(docs.filter(F.col("doc_id") >= BENCHMARK_MAX_DOC_ID))
        .distinct()
    )
    hit = None
    for i in range(BLOOM_K):
        b = bit_set(
            F.pmod(hash60(F.col("gram_h"), salt=BLOOM_SALT + i), F.lit(BLOOM_M))
        )
        hit = b if hit is None else (hit & b)
    # ONE pass over the corpus gram pipeline computes BOTH counters
    # (guide §2.4 — the previous shape ran the tokenize→n-gram→md5→
    # distinct pipeline twice, once per counter, plus a doc_id join to
    # stitch them): broadcast-left-join the exact bench set (row-
    # preserving — bench_grams is distinct on gram_h), then aggregate
    # the bloom-probe indicator and the exact-match indicator together.
    # The probe lives INSIDE the aggregate (sum-of-indicator), not as a
    # filter: a filter on the grouping columns would be pushed BELOW
    # the distinct and re-evaluate the K-hash probe on every duplicate
    # gram occurrence instead of once per distinct gram. n_bloom > 0
    # keeps identical rows to the old two-leg form because bloom
    # membership is a superset of exact membership (no false
    # negatives), so every doc with n_exact > 0 also has n_bloom > 0.
    return (
        corpus.join(
            F.broadcast(bench_grams.withColumn("_exact", F.lit(1))),
            "gram_h",
            "left",
        )
        .crossJoin(F.broadcast(word_map))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).alias("n_bloom"),
            F.sum(
                F.coalesce(F.col("_exact").cast("long"), F.lit(0))
            ).alias("n_exact"),
        )
        .filter(F.col("n_bloom") > 0)
        .select(
            "doc_id",
            "n_bloom",
            "n_exact",
            (F.col("n_bloom") - F.col("n_exact")).alias("fp_grams"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM quality scoring
# ---------------------------------------------------------------------------

KN_DISCOUNT_Q = 3  # discount d = 3/4: exact in binary floating point,
                   # so disc/lambda are exact quarter-integers in both
                   # engines (the reason 0.75 and not 0.7)


def quality_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring under an interpolated Kneser-Ney
    bigram LM (Kneser & Ney 1995; the smoothing every real n-gram LM
    pipeline ships, vs quality_bigram_lm's raw MLE which assigns
    unseen-context mass nothing): p(w2|w1) =
    (max(c(w1w2)-d,0) + d·N1+(w1·)·p_cont(w2)) / c(w1·), with the
    continuation probability p_cont(w2) = N1+(·w2)/|bigram types| —
    the "how many contexts does w2 follow" mass that distinguishes
    'francisco' (frequent, one context) from genuinely productive
    words. Output: the per-source doc-score audit.

    Exactness: d = 3/4 is exact in binary FP, so the discounted count
    and the lambda weight are exact quarter-integers; p is then THREE
    IEEE ops (one mult, one add, one div) on identical values in both
    engines, quantized to integer micro-nats exactly like
    quality_ccnet_buckets. All five count relations (bigram
    instances, prefix totals, distinct-continuation counts both ways,
    the 1-row type total) are Zipf-bounded aggregations —
    broadcastable at any corpus size; the type total rides a 1-row
    broadcast cross-join, never a driver collect."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "arrays_zip(slice(split(lower(text), '\\\\s+'), 1, "
                "size(split(lower(text), '\\\\s+')) - 1), "
                "slice(split(lower(text), '\\\\s+'), 2, "
                "size(split(lower(text), '\\\\s+')) - 1))"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        "source",
        F.col("s.0").alias("prev"),
        F.col("s.1").alias("nxt"),
        # pinned: four consumers (bigram counts, prefix totals, the
        # type relation, the scored join) each re-ran the corpus
        # tokenize+zip+explode without the cut (r15, guide §1.2)
    ).localCheckpoint(eager=True)
    bc = pairs.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("bc"))
    pc = pairs.groupBy("prev").agg(F.count(F.lit(1)).alias("pc"))
    # pinned: three consumers (both continuation counts + the 1-row
    # type total) over one distinct pass
    types = pairs.select("prev", "nxt").distinct().localCheckpoint(
        eager=True
    )
    cont_prev = types.groupBy("prev").agg(
        F.count(F.lit(1)).alias("np1")
    )
    cont_next = types.groupBy("nxt").agg(F.count(F.lit(1)).alias("nn1"))
    tot = types.agg(F.count(F.lit(1)).alias("tot"))
    scored = (
        pairs.join(bc, ["prev", "nxt"])
        .join(pc, "prev")
        .join(cont_prev, "prev")
        .join(cont_next, "nxt")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "p",
            (
                F.greatest(
                    F.col("bc") * 4 - KN_DISCOUNT_Q, F.lit(0)
                ).cast("double") / 4
                + (F.col("np1") * KN_DISCOUNT_Q).cast("double") / 4
                * (F.col("nn1").cast("double") / F.col("tot"))
            )
            / F.col("pc"),
        )
        .withColumn(
            "q", F.round(-F.log(F.col("p")) * 1e6, 0).cast("long")
        )
    )
    per_doc = scored.groupBy("doc_id", "source").agg(
        F.sum("q").alias("sum_q"),
        F.count(F.lit(1)).alias("n_bg"),
    ).withColumn("doc_nlp_e6", F.col("sum_q") / F.col("n_bg"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("sum_q") / F.sum("n_bg")).alias("mean_nlp_e6"),
            F.min("doc_nlp_e6").alias("min_nlp_e6"),
            F.max("doc_nlp_e6").alias("max_nlp_e6"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Count-min sketch: heavy-hitter frequencies in fixed space
# ---------------------------------------------------------------------------

CM_DEPTH = 4     # hash rows (error probability ~ exp(-depth))
CM_WIDTH = 256   # buckets per row (overestimate ~ corpus/width)
CM_TOPK = 20     # heavy hitters to audit


def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus word stream (Cormode &
    Muthukrishnan 2005): a {CM_DEPTH}x{CM_WIDTH} counter grid — cell
    (r, pmod(hash_r(w), {CM_WIDTH})) accumulates every occurrence of
    w; a word's estimate is the MIN over its {CM_DEPTH} cells, always
    >= the true count (one-sided error). The entry audits the true
    top-{CM_TOPK} words: true count, sketch estimate, and the
    overestimate — the never-negative property the oracle
    value-checks cell by cell (the sketch is DETERMINISTIC given the
    portable hash60 family, so DuckDB rebuilds the identical grid).

    Scale: the sketch build is ONE explode + (row, bucket)-keyed agg,
    map-side combined — the classic mergeable summary: fixed
    {CM_DEPTH}x{CM_WIDTH} size regardless of corpus, so partial
    sketches combine associatively across any partitioning (the same
    partial-then-final shape Spark's HLL uses, relational.py
    approx_sketches). The top-k side is vocabulary-bounded; the
    estimate join broadcasts {CM_TOPK}x{CM_DEPTH} rows."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    ).filter(F.length("w") > 0)
    def cm_cells(frame):
        # all CM_DEPTH (row, bucket) coordinates in ONE projection —
        # a per-row inline array explode, not a CM_DEPTH-way union
        # (which would scan the source once per hash row)
        return frame.select(
            "*",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(
                            hash60(F.col("w"), salt=r),
                            F.lit(CM_WIDTH),
                        ).alias("bucket"),
                    )
                    for r in range(CM_DEPTH)
                ])
            ).alias("rb"),
        ).select(
            *frame.columns, F.col("rb.r").alias("r"),
            F.col("rb.bucket").alias("bucket"),
        )

    # the sketch: one pass, one shuffle on (row, bucket)
    sketch = cm_cells(words).groupBy("r", "bucket").agg(
        F.count(F.lit(1)).alias("cell")
    )
    # true heavy hitters (vocabulary-bounded)
    top = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "w")
        .limit(CM_TOPK)
    )
    probes = cm_cells(top)
    est = (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("w", "true_cnt")
        .agg(F.min("cell").alias("cm_est"))
    )
    return est.select(
        "w",
        "true_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("true_cnt")).alias("overestimate"),
    ).orderBy(F.col("true_cnt").desc(), "w")


# ---------------------------------------------------------------------------
# Content-defined chunking (rolling-hash boundaries, shift-robust)
# ---------------------------------------------------------------------------

CDC_W = 3       # tokens per boundary-decision window
CDC_MASK = 8    # boundary iff window hash % CDC_MASK == 0
                # (expected chunk length ~= CDC_MASK tokens)


def chunk_content_defined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/FastCDC family,
    token-granular): a chunk boundary falls after token i whenever the
    hash of the {CDC_W}-token window ending at i satisfies
    ``hash % {CDC_MASK} == 0`` — boundaries are a LOCAL function of
    content, so an insertion re-chunks only its neighborhood instead
    of shifting every downstream chunk the way fixed-size chunking
    (chunk_dedup_stats) does. This is the shift-robust dedup unit a
    storage/dataset pipeline dedups on. Output: the corpus chunk-
    duplication audit per source.

    Scale: gram hashing is scan-stage zip-of-slices; chunk ids come
    from one (doc)-partitioned running sum over the boundary flags
    (never a global window); chunk reassembly is one (doc, chunk)
    agg; the duplication count is one chunk-keyed agg, map-side
    combined. No step is more than linear in tokens. The min/max
    chunk-size clamps of FastCDC are deliberately omitted: the
    min-size skip makes the boundary decision SEQUENTIAL (each
    boundary depends on the previous), which would serialize the
    scan — the mask-only rule keeps chunking embarrassingly parallel
    at the cost of occasional tiny chunks (measured: mean chunk
    ~= CDC_MASK tokens)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    chunks = cdc_chunks(docs)
    per_chunk = chunks.groupBy("source", "chunk").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("chunk_toks").alias("toks"),
    )
    return (
        per_chunk.groupBy("source")
        .agg(
            F.sum("c").alias("total_chunks"),
            F.count(F.lit(1)).alias("distinct_chunks"),
            F.sum(F.col("c") - 1).alias("dup_occurrences"),
            F.max("c").alias("max_chunk_freq"),
            (F.sum("toks") / F.sum("c")).alias("mean_chunk_toks"),
        )
        .orderBy("source")
    )


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, source, chunk_id, chunk, chunk_toks) for any
    (doc_id, source, text) frame — the content-defined chunker; see
    chunk_content_defined for semantics and scale notes."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    base = docs.select("doc_id", "source", toks.alias("t")).filter(
        F.size("t") >= 1
    )
    zipped = F.arrays_zip(
        F.slice("t", 1, F.size("t") - (CDC_W - 1)).alias("a"),
        F.slice("t", 2, F.size("t") - (CDC_W - 1)).alias("b"),
        F.slice("t", 3, F.size("t") - (CDC_W - 1)).alias("c"),
    )
    # per-position boundary flags as an array ALIGNED to the token
    # array (single scan — no self-join to line flags up with
    # positions): a boundary closes the chunk AFTER token i, and the
    # first W-1 tokens can never close one (no full window ends
    # there), hence the zero prefix. The transform lambda only
    # touches its OWN element (no index-into-derived-array hazard).
    gflags = F.transform(
        zipped,
        lambda g: (
            F.pmod(
                hash60(F.concat_ws(" ", g["a"], g["b"], g["c"])),
                F.lit(CDC_MASK),
            )
            == 0
        ).cast("int"),
    )
    flags = F.slice(
        F.concat(
            F.array_repeat(F.lit(0), CDC_W - 1), gflags
        ),
        1,
        F.size("t"),
    )
    per_tok = base.select(
        "doc_id",
        "source",
        F.posexplode(
            F.arrays_zip(F.col("t").alias("tok"), flags.alias("flag"))
        ).alias("pos", "x"),
    ).select(
        "doc_id",
        "source",
        "pos",
        F.col("x.tok").alias("tok"),
        F.col("x.flag").alias("flag"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks_flagged = per_tok.withColumn(
        "chunk_id",
        F.coalesce(F.sum("flag").over(win), F.lit(0)).cast("long"),
    )
    return (
        toks_flagged.groupBy("doc_id", "source", "chunk_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
            ).alias("chunk"),
            F.count(F.lit(1)).alias("chunk_toks"),
        )
    )


# ---------------------------------------------------------------------------
# Perceptual-hash dedup groups over the multimodal plumbing
# ---------------------------------------------------------------------------


def multimodal_ahash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (aHash) dedup groups over media payloads: run
    the REAL Arrow mapInPandas feature path (functions/multimodal.py
    extract_features — deterministic fake decoder, per the declared
    codec stub), derive a 16-bit average-hash (bit i set iff feature i
    exceeds the feature mean) and group identical hashes per kind —
    the exact-pHash dedup stage an image pipeline runs before
    embedding-level near-dup. Only the 16-bit ints reach the shuffle;
    payloads never leave the narrow mapInPandas stage.

    Bit decisions are integer cross-multiplied (16*f_i > sum(f), with
    f_i the decoder's exact micro-unit histogram ratios recovered from
    the float32 feature — |roundtrip error| < 0.07 micro-units, far
    under the 1-unit decision grid), so DuckDB reproduces every hash
    from the raw bytes."""
    from postgres_opensearch_cdc_spark.functions.multimodal import (
        media_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        ahash_table(media_from_documents(docs))
        .groupBy("kind", "ahash")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.min("media_id").alias("rep_id"),
        )
        .filter(F.col("n_media") >= 2)
        .orderBy("kind", "ahash")
    )


def ahash_table(media: DataFrame) -> DataFrame:
    """(media_id, kind, ahash) over any media frame — the 16-bit
    integer average-hash derived from the Arrow feature path; see
    multimodal_ahash_groups for the exactness argument."""
    from postgres_opensearch_cdc_spark.functions.multimodal import (
        FEATURE_DIM,
        extract_features,
    )

    feats = extract_features(media)
    fints = [
        F.round(F.element_at("features", i + 1).cast("double") * 1e6, 0)
        .cast("long")
        .alias(f"f{i}")
        for i in range(FEATURE_DIM)
    ]
    staged = feats.select("media_id", "kind", *fints)
    tot = sum(F.col(f"f{i}") for i in range(FEATURE_DIM))
    ahash = sum(
        F.when(F.col(f"f{i}") * FEATURE_DIM > tot, F.lit(1 << i))
        .otherwise(F.lit(0))
        for i in range(FEATURE_DIM)
    )
    return staged.withColumn("ahash", ahash.cast("long")).select(
        "media_id", "kind", "ahash"
    )


QUERIES = {
    "wordpiece_train_scores": wordpiece_train_scores,
    "wordpiece_apply_longest": wordpiece_apply_longest,
    "quality_ccnet_buckets": quality_ccnet_buckets,
    "fingerprint_winnowing": fingerprint_winnowing,
    "multimodal_ahash_groups": multimodal_ahash_groups,
    "chunk_content_defined": chunk_content_defined,
    "sketch_count_min": sketch_count_min,
    "quality_kneser_ney": quality_kneser_ney,
    "contamination_bloom": contamination_bloom,
    "sample_weighted_topk": sample_weighted_topk,
}


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------


def _wp_train_ctes(n: int) -> str:
    # AS MATERIALIZED throughout, exactly like the BPE oracle
    # (training_pipeline3.py): each stage is referenced several times
    # and DuckDB would otherwise inline the chain exponentially.
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
    c{i} AS MATERIALIZED (
        SELECT tok, SUM(cnt) AS tc FROM (
            SELECT cnt, unnest(string_split(trim(s), ' ')) AS tok
            FROM s{i-1}
        ) GROUP BY tok
    ),
    m{i} AS MATERIALIZED (
        SELECT l, r, total::DOUBLE / (cl.tc * cr.tc) AS sc
        FROM p{i}
        JOIN c{i} cl ON cl.tok = p{i}.l
        JOIN c{i} cr ON cr.tok = p{i}.r
        ORDER BY sc DESC, l, r LIMIT 1
    ),
    s{i} AS MATERIALIZED (
        SELECT cnt, replace(s,
            ' ' || (SELECT l FROM m{i}) || ' ' || (SELECT r FROM m{i}) || ' ',
            ' ' || (SELECT l FROM m{i}) || (SELECT r FROM m{i}) || ' ') AS s
        FROM s{i-1}
    )""")
    return ",\n    ".join(parts)


def _wp_train_sql(n: int) -> str:
    rows = "\n        UNION ALL ".join(
        f"SELECT {i - 1} AS \"rank\", l AS \"left\", r AS \"right\", "
        f"l || r AS merged, sc * 1e9 AS score_1e9 FROM m{i}"
        for i in range(1, n + 1)
    )
    return f"""
    WITH {_wp_train_ctes(n)}
    SELECT * FROM (
        {rows}
    ) ORDER BY "rank"
"""


def _wp_apply_sql(n: int) -> str:
    """Max-munch replayed as a recursive CTE over the distinct-word
    table: state (w, pos, ntok); each step advances by the length of
    the longest vocabulary token matching at pos (single-char
    fallback = 1 — every corpus char is implicitly a token). The
    vocabulary is the n merge products from the unrolled WordPiece
    training CTEs, so training and inference share one oracle."""
    merged = "\n            UNION ".join(
        f"SELECT l || r AS tok FROM m{i}" for i in range(1, n + 1)
    )
    # the longest-match probe is a list_transform over a 1-row vocab
    # LIST cross-joined into the recursive term, NOT a correlated
    # subquery: DuckDB silently decorrelates a scalar subquery inside
    # a recursive term once the CTE's consumer is a join (every probe
    # returns NULL -> step 1), observed on this exact query; the
    # list fold has no correlation to lose and the vocab is
    # tokenizer-sized by construction
    return f"""
    WITH RECURSIVE {_wp_train_ctes(n)},
    vocab AS (
        {merged}
    ),
    vl AS (SELECT list(tok) AS vl FROM vocab),
    walk(w, pos, ntok) AS (
        SELECT w, 1, 0 FROM wf
        UNION ALL
        SELECT walk.w,
               walk.pos + COALESCE(list_max(list_transform(vl.vl,
                   t -> CASE WHEN t = substr(walk.w, walk.pos, len(t))
                             THEN len(t) END)), 1),
               walk.ntok + 1
        FROM walk, vl
        WHERE walk.pos <= len(walk.w)
    ),
    wtok AS (
        SELECT w, ntok FROM walk WHERE pos > len(w)
    ),
    ex AS (
        SELECT doc_id AS id, unnest(
            list_filter({_TOKS_SQL}, w -> length(w) > 0)) AS w
        FROM documents
    )
    SELECT id, CAST(count(*) AS INT) AS n_words,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens_wp
    FROM ex JOIN wtok USING (w)
    GROUP BY id ORDER BY id
"""


_CCNET_SQL = f"""
    WITH pr AS (
        SELECT doc_id, source,
               toks[i+1] AS prev,
               toks[i+1] || ' ' || toks[i+2] AS bigram
        FROM (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents),
             UNNEST(range(len(toks) - 1)) AS u(i)
    ),
    bc AS (SELECT bigram, COUNT(*) AS bc FROM pr GROUP BY bigram),
    pc AS (SELECT prev, COUNT(*) AS pc FROM pr GROUP BY prev),
    q AS (
        SELECT pr.doc_id, pr.source,
               ROUND(-LN(bc.bc::DOUBLE / pc.pc) * 1e6)::BIGINT AS q
        FROM pr JOIN bc USING (bigram) JOIN pc USING (prev)
    ),
    d AS (
        SELECT doc_id, source, SUM(q)::BIGINT AS sum_q,
               COUNT(*) AS n_bg,
               SUM(q)::BIGINT / COUNT(*) AS doc_nlp_e6
        FROM q GROUP BY doc_id, source
    ),
    r AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY doc_nlp_e6, doc_id) AS rk,
               COUNT(*) OVER () AS n
        FROM d
    )
    SELECT CASE WHEN rk * 3 <= n THEN 'head'
                WHEN rk * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket,
           source,
           COUNT(*) AS n_docs,
           SUM(sum_q)::BIGINT / SUM(n_bg)::BIGINT AS mean_nlp_e6,
           MIN(doc_nlp_e6) AS min_nlp_e6,
           MAX(doc_nlp_e6) AS max_nlp_e6
    FROM r GROUP BY 1, 2 ORDER BY bucket, source
"""


_WINNOW_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter({_TOKS_SQL}, w -> length(w) > 0) AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id, len(t) - {WIN_K - 1} AS ng, i AS pos,
               ('0x' || substr(md5(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]),
                               1, 15))::BIGINT AS h
        FROM t, UNNEST(range(len(t) - {WIN_K - 1})) AS u(i)
        WHERE len(t) >= {WIN_K}
    ),
    w AS (
        SELECT doc_id, pos, h, s
        FROM g, UNNEST(range(greatest(pos - {WIN_W - 1}, 0),
                             least(pos, greatest(ng - {WIN_W}, 0)) + 1))
                 AS v(s)
    ),
    sel AS (
        SELECT doc_id, h FROM w
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY doc_id, s ORDER BY h, pos DESC) = 1
    ),
    fp AS (SELECT DISTINCT doc_id, h FROM sel),
    ok AS (
        SELECT h FROM fp GROUP BY h
        HAVING COUNT(*) BETWEEN 2 AND {WIN_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM fp a JOIN ok USING (h) JOIN fp b USING (h)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {WIN_MIN_SHARED}
    ORDER BY doc_a, doc_b
"""


_WS_SQL = f"""
    WITH k AS (
        SELECT doc_id, source, n_chars,
               LN(((('0x' || substr(md5(doc_id::VARCHAR || ':{WS_SALT}'),
                      1, 15))::BIGINT + 1))::DOUBLE
                  / {float(WS_SCALE)!r}) / n_chars AS es_key
        FROM documents
    )
    SELECT source, rank, doc_id, n_chars FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY es_key DESC, doc_id
        ) AS rank FROM k
    ) WHERE rank <= {WS_K}
    ORDER BY source, rank
"""


def _bloom_sql() -> str:
    from postgres_opensearch_cdc_spark.queries.training_pipeline import (
        BENCHMARK_MAX_DOC_ID,
        CONTAM_N,
        _ngrams_sql,
    )

    def bit(col: str, i: int) -> str:
        return (f"('0x' || substr(md5({col} || ':{BLOOM_SALT + i}'), "
                f"1, 15))::BIGINT % {BLOOM_M}")

    bench_bits = "\n            UNION ".join(
        f"SELECT {bit('gram_h', i)} AS bit FROM bg"
        for i in range(BLOOM_K)
    )
    probe_bits = "\n            UNION ALL ".join(
        f"SELECT doc_id, gram_h, {bit('gram_h', i)} AS bit FROM cg"
        for i in range(BLOOM_K)
    )
    return f"""
    WITH grams AS (
        SELECT doc_id,
               md5(unnest({_ngrams_sql(_TOKS_SQL, CONTAM_N)})) AS gram_h
        FROM documents
    ),
    bg AS (
        SELECT DISTINCT gram_h FROM grams
        WHERE doc_id < {BENCHMARK_MAX_DOC_ID}
    ),
    cg AS (
        SELECT DISTINCT doc_id, gram_h FROM grams
        WHERE doc_id >= {BENCHMARK_MAX_DOC_ID}
    ),
    bloom AS (
        {bench_bits}
    ),
    probe AS (
        {probe_bits}
    ),
    hits AS (
        SELECT doc_id, gram_h FROM probe JOIN bloom USING (bit)
        GROUP BY doc_id, gram_h HAVING COUNT(*) = {BLOOM_K}
    ),
    nb AS (SELECT doc_id, COUNT(*) AS n_bloom FROM hits GROUP BY doc_id),
    ne AS (
        SELECT doc_id, COUNT(*) AS n_exact FROM cg
        WHERE gram_h IN (SELECT gram_h FROM bg) GROUP BY doc_id
    )
    SELECT nb.doc_id, n_bloom,
           COALESCE(n_exact, 0) AS n_exact,
           n_bloom - COALESCE(n_exact, 0) AS fp_grams
    FROM nb LEFT JOIN ne USING (doc_id)
    ORDER BY nb.doc_id
"""


_KN_SQL = f"""
    WITH pr AS (
        SELECT doc_id, source,
               toks[i+1] AS prev, toks[i+2] AS nxt
        FROM (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents),
             UNNEST(range(len(toks) - 1)) AS u(i)
    ),
    bc AS (SELECT prev, nxt, COUNT(*) AS bc FROM pr GROUP BY 1, 2),
    pc AS (SELECT prev, COUNT(*) AS pc FROM pr GROUP BY 1),
    ty AS (SELECT DISTINCT prev, nxt FROM pr),
    cp AS (SELECT prev, COUNT(*) AS np1 FROM ty GROUP BY 1),
    cn AS (SELECT nxt, COUNT(*) AS nn1 FROM ty GROUP BY 1),
    tt AS (SELECT COUNT(*) AS tot FROM ty),
    q AS (
        SELECT pr.doc_id, pr.source,
               ROUND(-LN(
                   (greatest(bc.bc * 4 - {KN_DISCOUNT_Q}, 0)::DOUBLE / 4
                    + (cp.np1 * {KN_DISCOUNT_Q})::DOUBLE / 4
                      * (cn.nn1::DOUBLE / tt.tot))
                   / pc.pc
               ) * 1e6)::BIGINT AS q
        FROM pr
        JOIN bc USING (prev, nxt)
        JOIN pc USING (prev)
        JOIN cp USING (prev)
        JOIN cn USING (nxt)
        CROSS JOIN tt
    ),
    d AS (
        SELECT doc_id, source, SUM(q)::BIGINT AS sum_q,
               COUNT(*) AS n_bg,
               SUM(q)::BIGINT / COUNT(*) AS doc_nlp_e6
        FROM q GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(sum_q)::BIGINT / SUM(n_bg)::BIGINT AS mean_nlp_e6,
           MIN(doc_nlp_e6) AS min_nlp_e6,
           MAX(doc_nlp_e6) AS max_nlp_e6
    FROM d GROUP BY source ORDER BY source
"""


_CM_SQL = f"""
    WITH ws AS (
        SELECT w FROM (
            SELECT unnest({_TOKS_SQL}) AS w FROM documents
        ) WHERE length(w) > 0
    ),
    rws AS (SELECT r FROM UNNEST(range({CM_DEPTH})) AS t(r)),
    cells AS (
        SELECT r,
               ('0x' || substr(md5(w || ':' || r::VARCHAR), 1, 15))
                   ::BIGINT % {CM_WIDTH} AS bucket,
               COUNT(*) AS cell
        FROM ws CROSS JOIN rws GROUP BY 1, 2
    ),
    top AS (
        SELECT w, COUNT(*) AS true_cnt FROM ws GROUP BY w
        ORDER BY true_cnt DESC, w LIMIT {CM_TOPK}
    ),
    probes AS (
        SELECT w, true_cnt, r,
               ('0x' || substr(md5(w || ':' || r::VARCHAR), 1, 15))
                   ::BIGINT % {CM_WIDTH} AS bucket
        FROM top CROSS JOIN rws
    ),
    est AS (
        SELECT w, true_cnt, MIN(cell) AS cm_est
        FROM probes JOIN cells USING (r, bucket)
        GROUP BY 1, 2
    )
    SELECT w, true_cnt, cm_est, cm_est - true_cnt AS overestimate
    FROM est ORDER BY true_cnt DESC, w
"""


_CDC_CHUNK_SQL = f"""
    WITH t AS (
        SELECT doc_id, source,
               list_filter({_TOKS_SQL}, w -> length(w) > 0) AS t
        FROM documents
    ),
    tok AS (
        SELECT doc_id, source, i AS pos, t[i+1] AS tok
        FROM t, UNNEST(range(len(t))) AS u(i)
        WHERE len(t) >= 1
    ),
    fl AS (
        SELECT doc_id, gi + {CDC_W - 1} AS pos,
               CASE WHEN ('0x' || substr(md5(
                        t[gi+1] || ' ' || t[gi+2] || ' ' || t[gi+3]),
                        1, 15))::BIGINT % {CDC_MASK} = 0
                    THEN 1 ELSE 0 END AS flag
        FROM t, UNNEST(range(len(t) - {CDC_W - 1})) AS v(gi)
        WHERE len(t) >= {CDC_W}
    ),
    tf AS (
        SELECT tok.doc_id, tok.source, tok.pos, tok.tok,
               COALESCE(fl.flag, 0) AS flag
        FROM tok LEFT JOIN fl
          ON fl.doc_id = tok.doc_id AND fl.pos = tok.pos
    ),
    ch AS (
        SELECT doc_id, source, pos, tok,
               COALESCE(SUM(flag) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS chunk_id
        FROM tf
    ),
    chunks AS (
        SELECT doc_id, source, chunk_id,
               string_agg(tok, ' ' ORDER BY pos) AS chunk,
               COUNT(*) AS chunk_toks
        FROM ch GROUP BY doc_id, source, chunk_id
    ),
    pc AS (
        SELECT source, chunk, COUNT(*) AS c,
               SUM(chunk_toks)::BIGINT AS toks
        FROM chunks GROUP BY source, chunk
    )
    SELECT source,
           SUM(c)::BIGINT AS total_chunks,
           COUNT(*) AS distinct_chunks,
           SUM(c - 1)::BIGINT AS dup_occurrences,
           MAX(c) AS max_chunk_freq,
           SUM(toks)::BIGINT / SUM(c)::BIGINT AS mean_chunk_toks
    FROM pc GROUP BY source ORDER BY source
"""


def _ahash_sql() -> str:
    fints = ",\n               ".join(
        f"len(list_filter(cs, c -> ord(c) % 16 = {i})) * 1000000 "
        f"// greatest(strlen(text), 1) AS f{i}"
        for i in range(16)
    )
    tot = " + ".join(f"f{i}" for i in range(16))
    bits = " + ".join(
        f"CASE WHEN f{i} * 16 > tot THEN {1 << i} ELSE 0 END"
        for i in range(16)
    )
    return f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               text, regexp_split_to_array(text, '') AS cs
        FROM documents
    ),
    f AS (
        SELECT media_id, kind,
               {fints}
        FROM m
    ),
    h AS (
        SELECT media_id, kind, ({bits})::BIGINT AS ahash
        FROM (SELECT *, {tot} AS tot FROM f)
    )
    SELECT kind, ahash, COUNT(*) AS n_media, MIN(media_id) AS rep_id
    FROM h GROUP BY kind, ahash HAVING COUNT(*) >= 2
    ORDER BY kind, ahash
"""


ORACLE = {
    "wordpiece_train_scores": _wp_train_sql(WP_MERGES),
    "wordpiece_apply_longest": _wp_apply_sql(WP_MERGES),
    "quality_ccnet_buckets": _CCNET_SQL,
    "fingerprint_winnowing": _WINNOW_SQL,
    "multimodal_ahash_groups": _ahash_sql(),
    "chunk_content_defined": _CDC_CHUNK_SQL,
    "sketch_count_min": _CM_SQL,
    "quality_kneser_ney": _KN_SQL,
    "contamination_bloom": _bloom_sql(),
    "sample_weighted_topk": _WS_SQL,
}
