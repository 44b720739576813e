"""Training-data pipeline batch 4 (round 12): semantic deduplication
(SemDeDup-style k-means + within-cluster cosine pruning), greedy
sequence packing into fixed token-budget bins, Gopher-style heuristic
quality rules, and character-entropy gibberish scoring — the remaining
published dataset-construction stages a pretraining pipeline runs that
batches 1-3 did not cover (absent from the reference; SURVEY §2.7
extension class).

Scale shapes:
- the k-means fit is Lloyd's over the full corpus with a BOUNDED
  driver exchange per iteration (K x dim doubles out, K x dim partial
  means back; assignment is a pure scan-stage expression over literal
  centroids — no join, no shuffle of vectors); the recompute shuffles
  (K x dim)-keyed partial sums, map-side combined. At 100 TB, K grows
  with the corpus (SemDeDup uses ~100k clusters) so the per-cluster
  pairwise verify stays bounded — the cluster id IS the LSH-style
  bucket key, the same candidate-bounding pattern as
  functions/dedup.py minhash banding.
- packing assigns each doc a shard by portable hash and runs the
  sequential first-fit loop per shard inside ONE Arrow-batched
  applyInPandas group — shards are the parallelism unit (thousands in
  production; docs never cross shards, so no global order is needed).
- the Gopher rules and char entropy are single-scan expression-only
  passes (integer cross-multiplied thresholds; fixed-order entropy
  fold), map-side combined into per-source / per-doc rows.

Determinism contract (what makes these value-checkable in DuckDB):
every hash fate uses md5-backed hash60; centroids are rounded to 6 dp
each Lloyd iteration in BOTH engines, so downstream distances are
computed from identical literals; measured decision margins (argmin
gap >= 2.5e-5, within-cluster rank gap >= 2.0e-7, |sim - EPS| >=
2.5e-5 at every test SF) sit orders of magnitude above cross-engine
double-fold noise (~1e-13).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from postgres_opensearch_cdc_spark.functions import text as textfn
from postgres_opensearch_cdc_spark.functions.dedup import hash60
from postgres_opensearch_cdc_spark.functions.similarity import (
    _as_double,
    assign_nearest,
    dot,
    l2_norm,
    sq_l2,
)
from postgres_opensearch_cdc_spark.registry import (
    load_table, memo, stream_in_halves,
)

# --- semantic dedup (SemDeDup: k-means then within-cluster prune) ----
SEM_K = 8          # clusters (production: ~sqrt(corpus) to 100k)
SEM_ITERS = 3      # Lloyd iterations, unrolled in the oracle
SEM_SALT = 11      # hash60 salt for the seeded init
SEM_EPS = 0.4      # cosine threshold: drop if a closer-to-centroid
                   # clustermate is this similar (paper's epsilon)

# --- greedy sequence packing -----------------------------------------
PACK_SHARDS = 4        # parallelism unit (production: thousands)
PACK_CAP = 256         # token budget per packed sequence
PACK_SALT_SHARD = 23   # shard fate salt
PACK_SALT_ORDER = 31   # within-shard order salt (decorrelates order
                       # from shard assignment)

# --- Gopher-style quality rules (integer cross-multiplied) -----------
GOPHER_WC_MIN, GOPHER_WC_MAX = 20, 90      # word-count bounds
GOPHER_MWL_LO10, GOPHER_MWL_HI10 = 43, 47  # mean word length in
                                           # [4.3, 4.7] as wc*10 vs n*k
GOPHER_TTR_BP = 4    # type-token ratio >= 0.4 as nd*10 >= nw*4
GOPHER_DOM_BP = 2    # top-word share <= 0.2 as topw*10 <= nw*2


def gopher_flags(ws) -> dict:
    """The four Gopher rule-failure flags as boolean Columns over a
    token-array column — the ONE definition of the rule bundle,
    shared by quality_gopher_rules and the kappa agreement audit
    (training_pipeline9) so the labeler cannot drift between its
    consumers. All comparisons are integer cross-multiplied (no float
    thresholds), so the flags are engine-exact."""
    nw = F.size(ws)
    wc = F.aggregate(
        F.transform(ws, F.length), F.lit(0), lambda acc, x: acc + x
    )
    nd = F.size(F.array_distinct(ws))
    topw = F.array_max(
        F.transform(
            F.array_distinct(ws),
            lambda w: F.size(F.filter(ws, lambda x: x == w)),
        )
    )
    return {
        "f_wc": ~nw.between(GOPHER_WC_MIN, GOPHER_WC_MAX),
        "f_mwl": (wc * 10 < GOPHER_MWL_LO10 * nw)
        | (wc * 10 > GOPHER_MWL_HI10 * nw),
        "f_ttr": nd * 10 < nw * GOPHER_TTR_BP,
        "f_dom": topw * 10 > nw * GOPHER_DOM_BP,
    }


# the identical bundle for DuckDB oracles: stat columns over a `ws`
# token-array column, and the per-flag predicates over those stats
GOPHER_STATS_SQL_COLS = (
    "len(ws) AS nw,\n"
    "                   list_sum(list_transform(ws, w -> strlen(w))) AS wc,\n"
    "                   len(list_distinct(ws)) AS nd,\n"
    "                   list_max(list_transform(\n"
    "                       list_distinct(ws),\n"
    "                       w -> len(list_filter(ws, x -> x = w)))) AS topw"
)
GOPHER_FLAG_SQL = {
    "f_wc": f"(nw NOT BETWEEN {GOPHER_WC_MIN} AND {GOPHER_WC_MAX})",
    "f_mwl": f"(wc * 10 < {GOPHER_MWL_LO10} * nw"
             f" OR wc * 10 > {GOPHER_MWL_HI10} * nw)",
    "f_ttr": f"(nd * 10 < nw * {GOPHER_TTR_BP})",
    "f_dom": f"(topw * 10 > nw * {GOPHER_DOM_BP})",
}

ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


# ---------------------------------------------------------------------------
# k-means fit: distributed Lloyd with bounded driver exchange
# ---------------------------------------------------------------------------

# shared with the streaming sink (streaming/semantic.py): the portable
# literal-centroid assignment lives in functions/similarity.py
_sq_l2 = sq_l2
_assign_cols = assign_nearest


def _sem_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Fit SEM_K centroids with SEM_ITERS Lloyd iterations. Init = the
    K vectors with the smallest hash60(vec_id:salt) — a seeded uniform
    sample both engines replay. Per iteration the cluster does ONE job
    (assign in the scan, posexplode, (cluster, dim)-keyed avg with
    map-side combine); the driver sees only K x dim doubles each way —
    the same bounded-exchange shape as functions/similarity.py
    kmeans_train, but with every fate hash60-portable so the oracle
    can unroll it. Centroids round to 6 dp per iteration in both
    engines, pinning downstream floats to identical literals."""
    return memo(spark, sf_dir, "sem_centroids", _fit_sem_centroids)


def _fit_sem_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    seeds = (
        vecs.orderBy(
            hash60(F.col("vec_id").cast("string"), salt=SEM_SALT), "vec_id"
        )
        .limit(SEM_K)
        .collect()
    )
    cents = [[round(float(x), 6) for x in r.v] for r in seeds]
    for _ in range(SEM_ITERS):
        cl, _d = _assign_cols(F.col("v"), cents)
        assigned = vecs.select(cl, F.posexplode(F.col("v")).alias("dim", "val"))
        rows = (
            assigned.groupBy("cluster", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("c")
            )
            .collect()
        )
        new = {int(r.cluster): [round(float(x), 6) for x in r.c] for r in rows}
        # empty-cell guard: keep the previous centroid (standard Lloyd)
        cents = [new.get(k, cents[k]) for k in range(SEM_K)]
    return cents


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster audit of the fitted k-means: member count and mean
    distance to centroid — the cluster-quality table a semantic-dedup
    or IVF pipeline monitors. The oracle replays every Lloyd iteration
    in unrolled DuckDB CTEs (the BPE pattern), so the CLUSTERING
    DECISIONS — seeded init, argmin assignment with first-index
    tie-break, 6 dp centroid rounding, empty-cell guard — are
    value-checked, not just the final counts."""
    cents = _sem_centroids(spark, sf_dir)
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    cl, dsq = _assign_cols(F.col("v"), cents)
    return (
        vecs.select(cl, dsq)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(F.sqrt(F.col("dsq"))), 4).alias("mean_dist"),
        )
        .orderBy("cluster")
    )


def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    within each cluster drop every vector that has a CLOSER-TO-CENTROID
    clustermate with cosine similarity >= eps — keeping the most
    central representative of each near-duplicate neighborhood. The
    pairwise verify is cluster-bounded (the cluster id is the
    candidate-bucket key, never a corpus self-join); members rank by
    (dsq, vec_id) and each compares only against lower ranks. Output is
    the full verdict table (vec_id, cluster, kept)."""
    cents = _sem_centroids(spark, sf_dir)
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    cl, dsq = _assign_cols(F.col("v"), cents)
    from pyspark.sql import Window

    w = Window.partitionBy("cluster").orderBy("dsq", "vec_id")
    ranked = (
        vecs.select("vec_id", "v", cl, dsq)
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("nv", l2_norm(F.col("v")))
        # pinned: the literal-centroid assignment (K x dim interpreted
        # fused multiply-adds per vector) feeds both the pair pass and
        # the verdict join — compute it once (r15, guide §1.2)
        .localCheckpoint(eager=True)
    )
    # Cluster-local pair dots in ONE vectorized Arrow pass (r15, guide
    # §4.2 — the SRP verify's move): the cluster self-join shipped both
    # 64-dim vectors per PAIR into an interpreted zip_with/aggregate
    # fold. Here each cluster's members enter numpy once (vectors ship
    # per VECTOR), the pairwise dots accumulate dimension-ascending —
    # acc[i,j] = (((0 + va0*vb0) + va1*vb1) + ...), the aggregate
    # fold's exact IEEE order, so dp/na/nb are bit-identical — and the
    # oracle-visible float steps (division, round, threshold) run in
    # the JVM on the returned values. The numpy-side prefilter keeps
    # only dp/(na*nb) >= EPS - 1e-4: round(x, 6) >= EPS already
    # implies x >= EPS - 5e-7, and the ratio is the same IEEE division
    # both sides, so no qualifying pair can be dropped. Row blocks of
    # 2048 bound the pair matrix — hot clusters cost linear memory.
    def _cluster_pair_dots(batches):
        import numpy as np
        import pandas as pd

        parts = list(batches)
        if not parts:
            return
        df = pd.concat(parts, ignore_index=True)
        for _, g in df.groupby("cluster", sort=False):
            n = len(g)
            if n < 2:
                continue
            order = np.argsort(g["rnk"].to_numpy(), kind="stable")
            ids = g["vec_id"].to_numpy(np.int64)[order]
            v = np.stack(g["v"].to_numpy()[order]).astype(
                np.float64, copy=False
            )
            nv = g["nv"].to_numpy(np.float64)[order]
            for i0 in range(1, n, 2048):
                i1 = min(i0 + 2048, n)
                # rows i in [i0, i1) (rank order) pair with every j < i
                acc = np.zeros((i1 - i0, n), dtype=np.float64)
                for d in range(v.shape[1]):
                    acc = acc + v[i0:i1, d, None] * v[None, :, d]
                ratio = acc / (nv[i0:i1, None] * nv[None, :])
                ok = ratio >= (SEM_EPS - 1e-4)
                jj = np.arange(n)[None, :]
                ok &= jj < (np.arange(i0, i1)[:, None])
                ai, bj = np.nonzero(ok)
                if len(ai):
                    yield pd.DataFrame({
                        "id_a": ids[ai + i0],
                        "dp": acc[ai, bj],
                        "na": nv[ai + i0],
                        "nb": nv[bj],
                    })

    pair_dots = (
        ranked.select("cluster", "rnk", "vec_id", "v", "nv")
        .repartition("cluster")
        .mapInPandas(
            _cluster_pair_dots,
            schema="id_a long, dp double, na double, nb double",
        )
    )
    sim = F.round(F.col("dp") / (F.col("na") * F.col("nb")), 6)
    dropped = (
        pair_dots.filter(sim >= SEM_EPS)
        .select("id_a")
        .distinct()
    )
    return (
        ranked.join(
            dropped.withColumnRenamed("id_a", "vec_id").withColumn(
                "hit", F.lit(True)
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("hit"), F.lit(True)).alias("kept"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# greedy sequence packing
# ---------------------------------------------------------------------------


def _pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sequential first-fit packing of one shard: docs in portable-hash
    order, a new bin opens when the running total would exceed the
    cap (an oversize doc still gets its own bin). Pure-Python over one
    Arrow batch — the shard is the parallelism unit."""
    pdf = pdf.sort_values(["h", "doc_id"])
    bins, acc, cur = [], 0, 0
    for t in pdf["toks"]:
        t = int(t)
        if cur > 0 and acc + t > PACK_CAP:
            cur += 1
            acc = t
        elif cur == 0:
            cur = 1
            acc = t
        else:
            acc += t
        bins.append(cur)
    pdf = pdf.assign(bin=bins)
    out = (
        pdf.groupby(["shard", "bin"], as_index=False)
        .agg(n_docs=("doc_id", "size"), tokens=("toks", "sum"))
    )
    return out


def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign each document a shard by
    portable hash, order docs within the shard by an independent hash,
    and pack them first-fit into fixed token-budget bins — the
    sequence-construction stage between token accounting and shard
    writing. One scan computes (shard, order-hash, token count); the
    sequential loop runs per shard inside applyInPandas (Arrow-batched,
    no per-row Python). Output: per (shard, bin) doc and token counts.
    The oracle replays the loop as a per-shard recursive CTE, so the
    PACKING DECISIONS (bin boundaries) are value-checked."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.pmod(
            hash60(F.col("doc_id").cast("string"), salt=PACK_SALT_SHARD),
            F.lit(PACK_SHARDS),
        ).alias("shard"),
        hash60(F.col("doc_id").cast("string"), salt=PACK_SALT_ORDER).alias(
            "h"
        ),
        textfn.token_count(F.col("text")).alias("toks"),
    )
    return (
        base.groupBy("shard")
        .applyInPandas(
            _pack_shard,
            schema="shard long, bin long, n_docs long, tokens long",
        )
        .orderBy("shard", "bin")
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules
# ---------------------------------------------------------------------------


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality rules (Rae et al. 2021, table A1
    shape): word-count bounds, mean-word-length band, type-token-ratio
    floor, and top-word-dominance cap — each evaluated with integer
    cross-multiplication (no float thresholds anywhere, so the verdict
    is engine-exact). One scan, expression-only; per-source failure
    counts roll up map-side. The per-token dominance probe is
    O(distinct x tokens) within one short document — production runs
    the same rule via explode + count when docs are long."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    flags = gopher_flags(textfn.tokens(F.col("text")))
    f_wc, f_mwl, f_ttr, f_dom = (
        flags["f_wc"], flags["f_mwl"], flags["f_ttr"], flags["f_dom"]
    )
    as_i = lambda c: c.cast("int")  # noqa: E731
    return (
        docs.select(
            "source",
            as_i(f_wc).alias("f_wc"),
            as_i(f_mwl).alias("f_mwl"),
            as_i(f_ttr).alias("f_ttr"),
            as_i(f_dom).alias("f_dom"),
            as_i(~(f_wc | f_mwl | f_ttr | f_dom)).alias("ok"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ok").alias("n_pass"),
            F.sum("f_wc").alias("fail_wordcount"),
            F.sum("f_mwl").alias("fail_meanwordlen"),
            F.sum("f_ttr").alias("fail_ttr"),
            F.sum("f_dom").alias("fail_dominance"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# character entropy
# ---------------------------------------------------------------------------


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    gibberish/boilerplate detector (low entropy = repeated filler,
    high = random noise). Counts for each alphabet symbol come from
    length-difference of a literal replace (scan-stage, no explode or
    shuffle); the entropy fold sums its 28 terms in a fixed literal
    order, so both engines evaluate the identical expression tree.
    Output rounds to 4 dp (cross-engine log noise is ~1e-13)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    txt = F.lower(F.col("text"))
    length = F.length(txt)
    counts = [
        (length - F.length(F.replace(txt, F.lit(ch)))).alias(f"c_{i}")
        for i, ch in enumerate(ENTROPY_ALPHABET)
    ]
    base = docs.select("doc_id", length.alias("L"), *counts)
    total = None
    for i in range(len(ENTROPY_ALPHABET)):
        c = F.col(f"c_{i}")
        total = c if total is None else total + c
    other = (F.col("L") - total).alias("c_other")
    base = base.withColumn("c_other", other)

    def term(c):
        p = c.cast("double") / F.col("L").cast("double")
        return F.when(c > 0, -(p * F.log2(p))).otherwise(F.lit(0.0))

    ent = None
    for i in range(len(ENTROPY_ALPHABET)):
        t = term(F.col(f"c_{i}"))
        ent = t if ent is None else ent + t
    ent = ent + term(F.col("c_other"))
    return (
        base.filter(F.col("L") > 0)
        .select(
            "doc_id",
            F.col("L").alias("n_chars_text"),
            F.round(ent, 4).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


def dedup_semantic_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming SemDeDup composition (SemanticDedupSink): the
    embedding corpus arrives as TWO id-ordered micro-batches through a
    real checkpointed stream; each batch assigns clusters against the
    offline-fitted centroids and greedily keeps only vectors with no
    already-kept representative at cosine >= eps — earlier batches'
    survivors first, then this batch's rows in (dsq, vec_id) order.
    Fed in id order, the verdict table equals ONE greedy pass over the
    whole corpus in (batch, dsq, vec_id) rank order, which the oracle
    replays as a per-cluster recursive CTE carrying the kept
    unit-vector list — so checkpointing, the replay guard, the
    bucketed rep store, and the greedy kernel are all value-checked
    end to end."""
    from postgres_opensearch_cdc_spark.streaming.semantic import (
        SemanticDedupSink,
    )

    cents = _sem_centroids(spark, sf_dir)
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    sink = stream_in_halves(
        vecs, "vec_id",
        lambda path: SemanticDedupSink(
            path=path, centroids=cents, eps=SEM_EPS
        ),
    )
    return (
        sink.verdicts(spark)
        .select("vec_id", "cluster", "kept")
        .orderBy("vec_id")
    )


# --- DSIR-style importance sampling ---------------------------------
DSIR_BUCKETS = 256   # hashed unigram feature space
DSIR_SALT = 37       # feature-hash salt
DSIR_TARGET_LANG = "en"   # the target distribution


def dsir_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): score every raw
    document by the log-likelihood ratio of hashed unigram features
    under the TARGET distribution (here the English slice) vs the raw
    corpus — the importance weight that resamples a web crawl toward a
    target domain. Both distributions use add-one smoothing over the
    same feature space, so every weight is log of an exact rational.
    One explode+count pass builds the two B-bucket histograms (B=256
    rows each, broadcast back); scoring is a broadcast join + per-doc
    sum — linear, no doc ever compared to another. Scores are emitted
    (rounded), NOT thresholded: selection policy stays downstream, and
    the oracle match is decision-free."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id",
        F.col("lang"),
        F.explode(textfn.tokens(F.col("text"))).alias("tok"),
    ).withColumn(
        "b", F.pmod(hash60(F.col("tok"), salt=DSIR_SALT), F.lit(DSIR_BUCKETS))
    )
    raw = toks.groupBy("b").agg(F.count(F.lit(1)).alias("n_raw"))
    tgt = (
        toks.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_tgt"))
    )
    # totals via 1-row broadcast (never a driver collect of the corpus)
    tot = toks.agg(
        F.count(F.lit(1)).alias("t_raw"),
        F.sum(
            (F.col("lang") == DSIR_TARGET_LANG).cast("long")
        ).alias("t_tgt"),
    )
    weights = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("n_tgt"), F.lit(0)) + 1).cast("double")
                    / (F.col("t_tgt") + DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.col("n_raw") + 1).cast("double")
                    / (F.col("t_raw") + DSIR_BUCKETS).cast("double")
                )
            ).alias("w"),
        )
    )
    return (
        toks.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            # + 0.0 normalizes IEEE negative zero (-0.0 + 0.0 = +0.0):
            # a score rounding to zero must hash identically in both
            # engines regardless of the sign it approached from
            (F.round(F.sum("w"), 4) + F.lit(0.0)).alias("dsir_score"),
        )
        .orderBy("doc_id")
    )


# --- embedding-space decontamination --------------------------------
CONTAM_EMB_SALT = 41   # eval/train split fate salt
CONTAM_EMB_EPS = SEM_EPS   # same threshold, same verified margins


def contamination_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: flag every EVAL vector (a
    deterministic ~10% hash split) whose cosine similarity to any
    TRAIN vector in its k-means cluster reaches the threshold — the
    semantic leak check run before training on a corpus that may
    contain eval data (the embedding analogue of contamination_ngram).
    The cluster id bounds the candidate pairs exactly as in
    dedup_semantic_keep; at 100 TB the same ~100k-cluster scaling
    keeps the verify linear. Output: one row per eval vector with its
    neighbor count and max similarity."""
    cents = _sem_centroids(spark, sf_dir)
    vecs = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    cl, _dsq = assign_nearest(F.col("v"), cents)
    fate = F.pmod(
        hash60(F.col("vec_id").cast("string"), salt=CONTAM_EMB_SALT),
        F.lit(10),
    )
    base = vecs.select(
        "vec_id", "v", cl, (fate == 0).alias("is_eval")
    ).withColumn("nv", l2_norm(F.col("v")))
    ev = base.filter(F.col("is_eval")).select(
        "cluster",
        F.col("vec_id").alias("eval_id"),
        F.col("v").alias("ve"),
        F.col("nv").alias("ne"),
    )
    tr = base.filter(~F.col("is_eval")).select(
        "cluster", F.col("v").alias("vt"), F.col("nv").alias("nt")
    )
    sim = F.round(
        dot(F.col("ve"), F.col("vt")) / (F.col("ne") * F.col("nt")), 6
    )
    # LEFT join: an eval vector in a train-free cluster still reports
    # (n_neighbors=0, max_sim NULL) — the round-12 alert-count lesson
    hits = (
        ev.join(tr, "cluster", "left")
        .select("eval_id", "cluster", sim.alias("s"))
        .groupBy("eval_id", "cluster")
        .agg(
            F.sum(
                F.when(F.col("s") >= CONTAM_EMB_EPS, 1).otherwise(0)
            ).alias("n_neighbors"),
            F.round(F.max("s"), 4).alias("max_sim"),
        )
    )
    return (
        hits.select(
            F.col("eval_id").alias("vec_id"),
            "cluster",
            (F.col("n_neighbors") > 0).alias("contaminated"),
            "n_neighbors",
            "max_sim",
        )
        .orderBy("vec_id")
    )


QUERIES = {
    "kmeans_clusters": kmeans_clusters,
    "dedup_semantic_keep": dedup_semantic_keep,
    "dedup_semantic_stream": dedup_semantic_stream,
    "pack_sequences_greedy": pack_sequences_greedy,
    "quality_gopher_rules": quality_gopher_rules,
    "text_char_entropy": text_char_entropy,
    "dsir_importance_scores": dsir_importance_scores,
    "contamination_embedding": contamination_embedding,
}


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
_TOKS_SQL = r"regexp_split_to_array(lower(text), '\s+')"


def _kmeans_ctes() -> str:
    """Unrolled Lloyd iterations (the BPE oracle pattern): one
    assignment + one recompute CTE block per iteration, AS MATERIALIZED
    because each stage is referenced by the next and by the final
    SELECT — inlining would re-run the chain per reference."""
    h = _H60.format(x=f"vec_id::VARCHAR || ':{SEM_SALT}'")
    parts = [
        f"""emb AS MATERIALIZED (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), c0 AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY ord, vec_id) - 1 AS k,
                   list_transform(v, x -> round(x, 6)) AS c
            FROM (
                SELECT vec_id, v, {h} AS ord
                FROM emb ORDER BY ord, vec_id LIMIT {SEM_K}
            )
        )"""
    ]
    dsq = (
        "list_sum(list_transform(list_zip(e.v, c.c),"
        " s -> (s[1] - s[2]) * (s[1] - s[2])))"
    )
    for i in range(1, SEM_ITERS + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
            SELECT vec_id, v, k, dsq FROM (
                SELECT vec_id, v, k, dsq,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY dsq, k) AS rn
                FROM (
                    SELECT e.vec_id, e.v, c.k, {dsq} AS dsq
                    FROM emb e CROSS JOIN c{i - 1} c
                )
            ) WHERE rn = 1
        ), c{i} AS MATERIALIZED (
            SELECT p.k, coalesce(n.c, p.c) AS c
            FROM c{i - 1} p LEFT JOIN (
                SELECT k, list(round(m, 6) ORDER BY dim) AS c FROM (
                    SELECT k, dim, avg(val) AS m FROM (
                        SELECT k, generate_subscripts(v, 1) AS dim,
                               unnest(v) AS val
                        FROM a{i}
                    ) GROUP BY k, dim
                ) GROUP BY k
            ) n USING (k)
        )""")
    # final assignment against the last centroids
    parts.append(f"""af AS MATERIALIZED (
        SELECT vec_id, v, k, dsq FROM (
            SELECT vec_id, v, k, dsq,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY dsq, k) AS rn
            FROM (
                SELECT e.vec_id, e.v, c.k, {dsq} AS dsq
                FROM emb e CROSS JOIN c{SEM_ITERS} c
            )
        ) WHERE rn = 1
    )""")
    return ",\n".join(parts)


ORACLE = {
    "kmeans_clusters": f"""
        WITH {_kmeans_ctes()}
        SELECT k AS cluster, count(*)::BIGINT AS n_vecs,
               round(avg(sqrt(dsq)), 4) AS mean_dist
        FROM af GROUP BY k ORDER BY cluster
    """,
    "dedup_semantic_keep": f"""
        WITH {_kmeans_ctes()},
        ranked AS MATERIALIZED (
            SELECT vec_id, v, k, dsq,
                   row_number() OVER (
                       PARTITION BY k ORDER BY dsq, vec_id) AS rnk,
                   sqrt(list_dot_product(v, v)) AS nv
            FROM af
        ),
        dropped AS (
            SELECT DISTINCT a.vec_id
            FROM ranked a JOIN ranked b
              ON a.k = b.k AND b.rnk < a.rnk
            WHERE round(
                list_dot_product(a.v, b.v) / (a.nv * b.nv), 6
            ) >= {SEM_EPS}
        )
        SELECT r.vec_id, r.k AS cluster,
               (d.vec_id IS NULL) AS kept
        FROM ranked r LEFT JOIN dropped d USING (vec_id)
        ORDER BY r.vec_id
    """,
    "dedup_semantic_stream": f"""
        WITH RECURSIVE {{KMEANS}},
        ranked AS MATERIALIZED (
            SELECT vec_id, k, list_transform(v, x -> x / nv) AS u,
                   row_number() OVER (
                       PARTITION BY k
                       ORDER BY bord, dsq, vec_id) AS rn
            FROM (
                SELECT af.vec_id, af.k, af.v, af.dsq,
                       sqrt(list_sum(
                           list_transform(af.v, x -> x * x))) AS nv,
                       CASE WHEN af.vec_id <= (
                           SELECT (min(vec_id) + max(vec_id)) // 2
                           FROM embeddings
                       ) THEN 0 ELSE 1 END AS bord
                FROM af
            )
        ),
        rec AS (
            SELECT k, rn, vec_id, u, TRUE AS kept, [u] AS kept_us
            FROM ranked WHERE rn = 1
            UNION ALL
            SELECT t.k, t.rn, t.vec_id, t.u,
                   list_max(list_transform(
                       r.kept_us,
                       kv -> round(list_dot_product(t.u, kv), 6)
                   )) < {SEM_EPS} AS kept,
                   CASE WHEN list_max(list_transform(
                            r.kept_us,
                            kv -> round(list_dot_product(t.u, kv), 6)
                        )) < {SEM_EPS}
                        THEN list_append(r.kept_us, t.u)
                        ELSE r.kept_us END
            FROM rec r JOIN ranked t
              ON t.k = r.k AND t.rn = r.rn + 1
        )
        SELECT vec_id, k AS cluster, kept FROM rec ORDER BY vec_id
    """,
    "pack_sequences_greedy": f"""
        WITH RECURSIVE t AS (
            SELECT shard, doc_id, toks,
                   row_number() OVER (
                       PARTITION BY shard ORDER BY h, doc_id) AS rn
            FROM (
                SELECT doc_id,
                       {_H60.format(x=f"doc_id::VARCHAR || ':{PACK_SALT_SHARD}'")}
                           % {PACK_SHARDS} AS shard,
                       {_H60.format(x=f"doc_id::VARCHAR || ':{PACK_SALT_ORDER}'")}
                           AS h,
                       len({_TOKS_SQL})::BIGINT AS toks
                FROM documents
            )
        ),
        rec AS (
            SELECT shard, rn, toks, 1::BIGINT AS bin, toks AS acc
            FROM t WHERE rn = 1
            UNION ALL
            SELECT t.shard, t.rn, t.toks,
                   CASE WHEN r.acc + t.toks > {PACK_CAP}
                        THEN r.bin + 1 ELSE r.bin END,
                   CASE WHEN r.acc + t.toks > {PACK_CAP}
                        THEN t.toks ELSE r.acc + t.toks END
            FROM rec r JOIN t ON t.shard = r.shard AND t.rn = r.rn + 1
        )
        SELECT shard, bin, count(*)::BIGINT AS n_docs,
               sum(toks)::BIGINT AS tokens
        FROM rec GROUP BY shard, bin ORDER BY shard, bin
    """,
    "quality_gopher_rules": f"""
        WITH s AS (
            SELECT source,
                   {GOPHER_STATS_SQL_COLS}
            FROM (SELECT source, {_TOKS_SQL} AS ws FROM documents)
        ), flags AS (
            SELECT source,
                   {GOPHER_FLAG_SQL['f_wc']}::INT AS f_wc,
                   {GOPHER_FLAG_SQL['f_mwl']}::INT AS f_mwl,
                   {GOPHER_FLAG_SQL['f_ttr']}::INT AS f_ttr,
                   {GOPHER_FLAG_SQL['f_dom']}::INT AS f_dom
            FROM s
        )
        SELECT source, count(*)::BIGINT AS n_docs,
               sum(CASE WHEN f_wc + f_mwl + f_ttr + f_dom = 0
                        THEN 1 ELSE 0 END)::BIGINT AS n_pass,
               sum(f_wc)::BIGINT AS fail_wordcount,
               sum(f_mwl)::BIGINT AS fail_meanwordlen,
               sum(f_ttr)::BIGINT AS fail_ttr,
               sum(f_dom)::BIGINT AS fail_dominance
        FROM flags GROUP BY source ORDER BY source
    """,
}


def _entropy_sql() -> str:
    count_terms = []
    for i, ch in enumerate(ENTROPY_ALPHABET):
        lit = "' '" if ch == " " else f"'{ch}'"
        count_terms.append(
            f"strlen(t) - strlen(replace(t, {lit}, '')) AS c_{i}"
        )
    n = len(ENTROPY_ALPHABET)
    total = " + ".join(f"c_{i}" for i in range(n))
    terms = []
    for i in range(n):
        terms.append(
            f"CASE WHEN c_{i} > 0 THEN -((c_{i}::DOUBLE / L) *"
            f" log2(c_{i}::DOUBLE / L)) ELSE 0.0 END"
        )
    terms.append(
        "CASE WHEN c_other > 0 THEN -((c_other::DOUBLE / L) *"
        " log2(c_other::DOUBLE / L)) ELSE 0.0 END"
    )
    ent = " + ".join(terms)
    return f"""
        WITH b0 AS (
            SELECT doc_id, strlen(t) AS L, {", ".join(count_terms)}
            FROM (SELECT doc_id, lower(text) AS t FROM documents)
        ), b1 AS (
            SELECT *, L - ({total}) AS c_other FROM b0
        )
        SELECT doc_id, L AS n_chars_text,
               round({ent}, 4) AS entropy_bits
        FROM b1 WHERE L > 0 ORDER BY doc_id
    """


ORACLE["text_char_entropy"] = _entropy_sql()

ORACLE["dsir_importance_scores"] = f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, lang,
               {_H60.format(x=f"tok || ':{DSIR_SALT}'")} % {DSIR_BUCKETS}
                   AS b
        FROM (
            SELECT doc_id, lang, unnest({_TOKS_SQL}) AS tok
            FROM documents
        )
    ),
    tot AS (
        SELECT count(*) AS t_raw,
               sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1
                        ELSE 0 END) AS t_tgt
        FROM toks
    ),
    hist AS (
        SELECT b, count(*) AS n_raw,
               sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1
                        ELSE 0 END) AS n_tgt
        FROM toks GROUP BY b
    ),
    weights AS (
        SELECT b,
               ln((n_tgt + 1)::DOUBLE
                  / (SELECT t_tgt + {DSIR_BUCKETS} FROM tot)::DOUBLE)
               - ln((n_raw + 1)::DOUBLE
                    / (SELECT t_raw + {DSIR_BUCKETS} FROM tot)::DOUBLE)
                   AS w
        FROM hist
    )
    SELECT t.doc_id, count(*)::BIGINT AS n_toks,
           round(sum(w.w), 4) + 0.0 AS dsir_score
    FROM toks t JOIN weights w USING (b)
    GROUP BY t.doc_id ORDER BY t.doc_id
"""


def _contam_emb_sql() -> str:
    fate = _H60.format(x=f"vec_id::VARCHAR || ':{CONTAM_EMB_SALT}'")
    return f"""
        WITH {_kmeans_ctes()},
        base AS MATERIALIZED (
            SELECT vec_id, v, k,
                   ({fate}) % 10 = 0 AS is_eval,
                   sqrt(list_dot_product(v, v)) AS nv
            FROM af
        ),
        pairs AS (
            SELECT e.vec_id AS eval_id, e.k,
                   round(list_dot_product(e.v, t.v) / (e.nv * t.nv), 6)
                       AS s
            FROM (SELECT * FROM base WHERE is_eval) e
            LEFT JOIN (SELECT * FROM base WHERE NOT is_eval) t
              ON e.k = t.k
        )
        SELECT eval_id AS vec_id, k AS cluster,
               (sum(CASE WHEN s >= {CONTAM_EMB_EPS} THEN 1 ELSE 0 END)
                   > 0) AS contaminated,
               sum(CASE WHEN s >= {CONTAM_EMB_EPS} THEN 1
                        ELSE 0 END)::BIGINT AS n_neighbors,
               round(max(s), 4) AS max_sim
        FROM pairs GROUP BY eval_id, k ORDER BY vec_id
    """


ORACLE["contamination_embedding"] = _contam_emb_sql()
# the {KMEANS} placeholder keeps the f-string free of the CTE chain's
# literal braces; substitute after construction
ORACLE["dedup_semantic_stream"] = ORACLE["dedup_semantic_stream"].replace(
    "{KMEANS}", _kmeans_ctes()
)
