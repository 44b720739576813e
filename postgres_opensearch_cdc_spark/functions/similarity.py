"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a single scan with the dot product
computed by built-in higher-order functions (zip_with + aggregate, JVM
codegen, no Python), finished by TakeOrderedAndProject. At 100 TB this
is the always-correct fallback and the verifier for the approximate
paths.

Scale paths:
- random-hyperplane LSH bucketing (cosine-preserving): probe only the
  query's bucket(s) — turns the scan into a partition-pruned lookup when
  bucketed storage is keyed by the LSH signature.
- IVF (inverted file): k-means-style coarse centroids (deterministic
  seeded init here), search nprobe nearest cells. Centroid assignment is
  a broadcast join of the tiny centroid table against the big vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from postgres_opensearch_cdc_spark.commits import write_json_atomic
from postgres_opensearch_cdc_spark.parquet_dirs import read_parquet_dirs


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))



def _vec_sql(vec: "list[float]") -> str:
    """array<double> literal as SQL text. ``repr`` emits the shortest
    string that round-trips to the same IEEE double in Python, and the
    JVM's parse is correctly rounded too, so the literal is
    bit-identical to an ``F.lit`` per element."""
    import math

    assert all(math.isfinite(float(x)) for x in vec)
    return "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"


def _vec_lit(vec: "list[float]") -> Column:
    """One array<double> literal built in a SINGLE py4j call via a SQL
    string. Both ``F.array(*[F.lit(x) ...])`` and even ``F.lit(list)``
    (which pyspark expands element-wise) cost one driver round-trip
    per element — ~10,000 round-trips (2-4 s of pure plan-construction
    time, re-paid on EVERY build/query invocation) for an IVFPQ
    codebook+centroid set (guide §4: the Python boundary — here at
    plan-construction time)."""
    return F.expr(_vec_sql(vec))


def _mat_lit(mat: "list[list[float]]") -> Column:
    """One array<array<double>> literal in a single py4j call (see
    _vec_lit)."""
    return F.expr(
        "array(" + ",".join(_vec_sql(row) for row in mat) + ")"
    )


def _as_double_sql(vec_sql: str) -> str:
    return f"transform({vec_sql}, x -> CAST(x AS DOUBLE))"


def _dot_sql(a: str, b: str) -> str:
    """SQL text of functions.similarity.dot — same composition
    (zip_with + left-fold aggregate), so the Catalyst tree and every
    result bit are identical to the Column form."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def _l2_norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns — zip_with + aggregate, fully
    codegen'd, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sq_l2(v: Column, c: Column) -> Column:
    """Squared L2 between two double arrays as a left-fold — the same
    sequential sum DuckDB's list_sum computes, so both engines agree
    to ~1e-13 on identical inputs."""
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _ensure_build_parallelism(df: DataFrame) -> DataFrame:
    """Repartition an index-build input only when the source is
    under-partitioned (e.g. a single-row-group parquet file pinning the
    scan — and with it the whole encode projection, which Catalyst
    computes map-side of the cell repartition — to one task). On an
    already well-partitioned 100 TB corpus this is a no-op: no
    gratuitous shuffle of vector payloads. Value-neutral: indexes are
    unordered row sets and every query path over them finishes with a
    deterministic agg/top-k (guide §2.5, input skew)."""
    try:
        target = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except ValueError:
        # AQE-managed deployments may set a non-numeric value ("auto");
        # fall back to the cluster's default parallelism (ADVICE r14)
        target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 4):
        return df.repartition(target)
    return df


def assign_nearest_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "v",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cluster, dsq) for every vector via one Arrow-batched
    mapInPandas pass — the LARGE-K assignment path. The literal-
    expression form (assign_nearest) embeds K x dim literals in the
    plan and evaluates K fold-expressions per row: right for the
    oracle-checked small-K entries, wrong at SemDeDup/IVF production
    K (~100k), where the plan itself would be the bottleneck. Here
    the centroid matrix ships once per task and each Arrow batch is
    ONE numpy matmul (||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2), so
    per-row cost is BLAS flops, not expression interpretation.
    Row-identical to assign_nearest up to float noise far below the
    measured argmin margins (ties broken to the lower cluster id by
    argmin, same as the struct-ordering form)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    cn = (C * C).sum(axis=1)

    def assign(it):
        for pdf in it:
            V = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            if len(V) == 0:
                out = pd.DataFrame(
                    {id_col: pd.Series([], dtype="int64"),
                     "cluster": pd.Series([], dtype="int32"),
                     "dsq": pd.Series([], dtype="float64")}
                )
                if keep_vec:
                    out[vec_col] = pd.Series([], dtype="object")
                yield out
                continue
            d = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + cn[None, :]
            k = d.argmin(axis=1)
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cluster": k.astype("int32"),
                    "dsq": d[np.arange(len(V)), k],
                }
            )
            if keep_vec:
                out[vec_col] = pdf[vec_col].values
            yield out

    schema = f"{id_col} long, cluster int, dsq double"
    if keep_vec:
        schema += f", {vec_col} array<double>"
    return df.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def fit_kmeans_arrow(
    df: DataFrame,
    k: int,
    iterations: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "v",
    seed_salt: int = 11,
) -> list[list[float]]:
    """Distributed Lloyd's k-means with the Arrow assignment path —
    the LARGE-K form of the oracle-checked literal-expression fit
    (queries/training_pipeline4.py:_sem_centroids): identical seeding
    (k smallest portable hash60(id:salt)), identical 6 dp centroid
    rounding and empty-cell guard, but each iteration's assignment is
    one numpy matmul per Arrow batch instead of K fold-expressions
    per row. Per iteration the driver sees K x dim doubles each way;
    the recompute is a (cluster, dim)-keyed partial mean, map-side
    combined. Decision-identical to the literal fit at any K where
    both run (equality-tested); at production K only this form is
    plannable."""
    from pyspark.sql import functions as F

    from postgres_opensearch_cdc_spark.functions.dedup import hash60

    seeds = (
        df.orderBy(
            hash60(F.col(id_col).cast("string"), salt=seed_salt), id_col
        )
        .limit(k)
        .collect()
    )
    cents = [[round(float(x), 6) for x in r[vec_col]] for r in seeds]
    for _ in range(iterations):
        assigned = assign_nearest_arrow(
            df, cents, id_col=id_col, vec_col=vec_col, keep_vec=True
        )
        rows = (
            assigned.select(
                "cluster", F.posexplode(F.col(vec_col)).alias("dim", "val")
            )
            .groupBy("cluster", "dim")
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
        cents = [new.get(i, cents[i]) for i in range(k)]
    return cents


def assign_nearest(v: Column, centroids: list[list[float]]):
    """(cluster, dsq) of the nearest centroid as pure scan-stage
    expressions over LITERAL centroids — no join, no shuffle; the
    bounded centroid list constant-folds into the scan projection.
    Argmin via struct ordering: array_min over (d, i) structs takes
    the first index on exact distance ties, matching a
    ROW_NUMBER OVER (ORDER BY dsq, k) oracle."""
    lits = _mat_lit(centroids)
    dists = F.transform(lits, lambda c: sq_l2(v, c))
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    best = F.array_min(
        F.zip_with(
            dists,
            idx,
            lambda d, i: F.named_struct(F.lit("d"), d, F.lit("i"), i),
        )
    )
    return best["i"].alias("cluster"), best["d"].alias("dsq")


def brute_force_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. The query is a
    literal array (constant-folded, effectively broadcast); the plan is
    scan → project(score) → TakeOrderedAndProject(k) — per-partition
    heaps, no global sort, no shuffle of payloads. Holds verbatim on a
    1000-executor scan."""
    q = _vec_lit(query_vec)
    score = cosine(F.col(vec_col), q)
    return (
        vectors.select(F.col(id_col), F.round(score, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def pairwise_topk_by_label(
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Intra-group exact k-NN: join vectors within each group (the
    grouped/bucketed form of all-pairs — the pattern that makes all-pairs
    tractable: restrict candidate pairs to a partition key, here label,
    in production an LSH bucket)."""
    from pyspark.sql import Window

    a = vectors.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id_a"),
        _as_double(F.col(vec_col)).alias("va"),
    )
    b = vectors.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id_b"),
        _as_double(F.col(vec_col)).alias("vb"),
    )
    pairs = a.join(b, "g").filter(F.col("id_a") != F.col("id_b"))
    scored = pairs.select(
        "g",
        "id_a",
        "id_b",
        F.round(
            dot(F.col("va"), F.col("vb"))
            / (l2_norm(F.col("va")) * l2_norm(F.col("vb"))),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cos_sim").desc(), F.col("id_b"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("id_a", "id_b", "cos_sim", "rnk")
    )


def random_hyperplane_buckets(
    vectors: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine-LSH bucket id per vector: sign pattern against fixed random
    hyperplanes (passed in, deterministic). b planes → 2^b buckets.
    Bucket computation is pure projection — at scale, write the table
    bucketed by this column and ANN probes become partition-pruned
    scans."""
    v = _as_double(F.col(vec_col))
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = _vec_lit(plane)
        bucket = bucket + F.when(dot(v, p) >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return vectors.select(F.col(id_col), bucket.alias("bucket"))


def _nearest_cell(v: Column, centroids: list[list[float]]) -> Column:
    """Argmax-cosine cell id for a (double-cast) vector column against
    literal centroids — pure projection, no shuffle. Ties break to the
    LOWER cell id (score equal → smaller negated id wins in array_max).

    Built as ONE literal k×dim matrix iterated with transform (shared
    loop) instead of k separate unrolled dot/norm expressions — the
    expression tree (and its codegen compile time) stays O(dim + k)
    instead of O(k × dim). Centroid norms are precomputed driver-side
    literals (sqrt is correctly-rounded IEEE in both Python and the
    JVM, so values are bit-identical to computing them in-plan)."""
    return _nearest_cell_column(v, centroids)


def _nearest_cell_sql(v_sql: str, centroids: list[list[float]]) -> str:
    """The whole argmax-cosine assignment as ONE SQL string — a single
    py4j call + one JVM parse instead of per-operator driver
    round-trips (guide §4 applied to plan construction; composition is
    textually the same transform/struct/array_max tree, so results are
    bit-identical to the Column form)."""
    import math

    norms = [
        math.sqrt(sum(float(x) * float(x) for x in c)) for c in centroids
    ]
    mat = "array(" + ",".join(_vec_sql(c) for c in centroids) + ")"
    nrm = _vec_sql(norms)
    vn = _l2_norm_sql(v_sql)
    scored = (
        f"transform({mat}, (c, i) -> struct("
        f"round({_dot_sql(v_sql, 'c')} / ({vn} * element_at({nrm}, i + 1)), 6)"
        " AS score, -i AS neg_cell))"
    )
    return f"-(array_max({scored}).neg_cell)"


def _nearest_cell_column(v: Column, centroids: list[list[float]]) -> Column:
    """The Column-composition form for arbitrary Column inputs — same
    tree as _nearest_cell_sql, kept for call sites whose input has no
    SQL rendering. Hot paths use the SQL builder (one py4j call)."""
    import math

    norms = [
        math.sqrt(sum(float(x) * float(x) for x in c)) for c in centroids
    ]
    mat = _mat_lit(centroids)
    nrm = _vec_lit(norms)
    vn = l2_norm(v)
    scored = F.transform(
        mat,
        lambda c, i: F.struct(
            F.round(dot(v, c) / (vn * F.element_at(nrm, i + 1)), 6).alias("score"),
            (-i).alias("neg_cell"),
        ),
    )
    return -F.array_max(scored)["neg_cell"]


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse assignment: nearest centroid (max cosine) per vector.
    Centroids arrive as literals (≙ broadcast of a tiny dim table); the
    argmax is an array-max over per-centroid scores — no shuffle at
    all, embarrassing-parallel over the scan."""
    v = _as_double(F.col(vec_col))
    return vectors.select(
        F.col(id_col), _nearest_cell(v, centroids).alias("cell")
    )


def kmeans_train(
    vectors: DataFrame,
    k: int = 10,
    iterations: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int | None = None,
) -> list[list[float]]:
    """Seeded Lloyd's k-means on the cluster — the trainer that makes IVF
    usable end-to-end (no external centroids needed).

    Per iteration: nearest-centroid assignment is a literal-broadcast
    projection (no shuffle), the centroid update is ONE partial-agg
    shuffle of k×dim running sums (F.avg per dimension — map-side
    combine collapses each partition to ≤k rows), and only k tiny rows
    are collected. Driver traffic per iteration = k×dim doubles.

    Init: a seeded hash-ordered sample of ``sample_size`` (default
    k*20) vectors is collected — deterministic regardless of
    partitioning, and cheap: orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-N heaps merged on the
    driver, NO global sort — asserted in tests/test_similarity.py).
    Farthest-point (maximin) selection then picks k spread-out seeds
    driver-side — the scalable k-means++ stand-in that reliably covers
    well-separated clusters, where k random picks routinely miss some.
    At 100 TB raise ``sample_size`` (driver cost is sample_size×dim
    doubles); the per-iteration plan is unchanged and assignment of the
    full table stays a projection.

    Empty cells keep their previous centroid (standard Lloyd's guard).
    """
    import math

    first = vectors.select(vec_col).head()
    if first is None:
        raise ValueError("cannot train on an empty vector table")
    dim = len(first[0])
    base = vectors.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("v")
    )
    n_sample = sample_size if sample_size is not None else k * 20
    sample_rows = (
        base.orderBy(F.xxhash64(F.col("_id").cast("string"), F.lit(seed)), F.col("_id"))
        .limit(max(n_sample, k))
        .collect()
    )
    pts = [list(r["v"]) for r in sample_rows]
    if len(pts) < k:
        raise ValueError(f"need at least k={k} vectors, found {len(pts)}")

    def cos_dist(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return 1.0 - (d / (na * nb) if na and nb else 0.0)

    centroids = [pts[0]]
    mind = [cos_dist(p, pts[0]) for p in pts]
    while len(centroids) < k:
        nxt = max(range(len(pts)), key=lambda i: (mind[i], -i))
        centroids.append(pts[nxt])
        mind = [min(mind[i], cos_dist(pts[i], pts[nxt])) for i in range(len(pts))]
    for _ in range(iterations):
        assigned = base.withColumn("cell", _nearest_cell(F.col("v"), centroids))
        stats = (
            assigned.groupBy("cell")
            .agg(*[F.avg(F.col("v")[i]).alias(f"c{i}") for i in range(dim)])
            .collect()
        )
        new_centroids = list(centroids)
        for r in stats:
            new_centroids[r["cell"]] = [r[f"c{i}"] for i in range(dim)]
        centroids = new_centroids
    return centroids


def ivf_topk(
    vectors: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    nprobe: int = 3,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: rank cells by cosine(query, centroid) driver-side
    (k tiny vectors — pure Python math), then exact top-k over only the
    nprobe nearest cells' vectors.

    The cell filter is a projection predicate here; at scale the table
    is written partitioned/bucketed by cell, turning the same plan into
    a partition-pruned scan of nprobe/k of the data. Recall vs
    brute_force_topk is asserted ≥0.9 in tests/test_similarity.py."""
    import math

    def cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    # round to 6 like _nearest_cell so an engine-portable oracle can
    # reproduce the cell ranking exactly
    ranked = sorted(
        range(len(centroids)), key=lambda i: (-round(cos(query_vec, centroids[i]), 6), i)
    )
    probe = ranked[:nprobe]
    v = _as_double(F.col(vec_col))
    candidates = (
        vectors.withColumn("_cell", _nearest_cell(v, centroids))
        .filter(F.col("_cell").isin(probe))
        .drop("_cell")
    )
    return brute_force_topk(candidates, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ivf_index_build(
    vectors: DataFrame,
    path: str,
    centroids: list[list[float]] | None = None,
    k: int = 10,
    iterations: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cell: int = 1,
) -> list[list[float]]:
    """Materialize the IVF layout ivf_topk's docstring promises: the
    vector table written partitioned by coarse cell, with the trained
    centroids in a root sidecar. The build CLUSTERS each cell into
    ``files_per_cell`` files (one repartition — build-once cost), so a
    query opens nprobe×files_per_cell files instead of
    nprobe×input_partitions: per-query task count is independent of
    how the corpus happened to be partitioned (measured in SCALE.md
    §13 — the unclustered layout was scheduling-bound, 96 files per
    probe at 32 input partitions). Raise files_per_cell at 100 TB so
    individual files stay in the 128 MB-1 GB band and a probe still
    parallelizes. Every query's candidate scan is a PARTITION-PRUNED
    read of nprobe/k of the corpus — the build-once / query-many
    shape vector serving needs. Returns the centroids (trained here
    when not supplied)."""
    import os

    if centroids is None:
        centroids = kmeans_train(
            vectors, k=k, iterations=iterations, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    assigned = _ensure_build_parallelism(vectors).withColumn(
        "_cell",
        # ONE py4j call + one JVM parse (see _nearest_cell_sql)
        F.expr(_nearest_cell_sql(_as_double_sql(f"`{vec_col}`"), centroids)),
    )
    if files_per_cell == 1:
        clustered = assigned.repartition(F.col("_cell"))
    else:
        clustered = assigned.repartition(
            F.col("_cell"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_cell)),
        )
    clustered.write.mode("overwrite").partitionBy("_cell").parquet(path)
    write_json_atomic(os.path.join(path, "_ivf_centroids.json"), centroids)
    return centroids


def ivf_index_topk(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    nprobe: int = 3,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index: rank cells by cosine(query,
    centroid) driver-side from the sidecar (k tiny vectors), then scan
    ONLY the nprobe nearest cells' partition directories — Spark lists
    just those leaves, so the exact-scoring plan reads nprobe/k of the
    files no matter how large the corpus is (asserted on inputFiles in
    tests/test_similarity.py). Same ranking/rounding as ivf_topk, so
    both return identical results for the same centroids."""
    import json
    import math
    import os

    with open(os.path.join(path, "_ivf_centroids.json")) as fh:
        centroids = json.load(fh)

    def cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    ranked = sorted(
        range(len(centroids)),
        key=lambda i: (-round(cos(query_vec, centroids[i]), 6), i),
    )
    probe_dirs = [
        p for c in ranked[:nprobe]
        if os.path.isdir(p := os.path.join(path, f"_cell={c}"))
    ]
    if not probe_dirs:  # degenerate: all probed cells empty
        return spark.read.parquet(path).filter(F.lit(False)).drop("_cell")
    candidates = (
        spark.read.option("basePath", path).parquet(*probe_dirs)
        .drop("_cell")
    )
    return brute_force_topk(
        candidates, query_vec, k=k, id_col=id_col, vec_col=vec_col
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

def pq_code_sqls(vec_sql: str, codebook: list[list[list[float]]]) -> list[str]:
    """Per-subspace PQ code expressions as SQL text — the whole encode
    tree costs M py4j calls (one F.expr each at the call site) instead
    of hundreds of per-operator driver round-trips (guide §4 applied to
    plan construction; ~2 s per build/query invocation at M=8, K=16).

    ``codebook[m][j]`` is codeword j of subspace m (each of dimension
    dim/M). Code m = argmin_j L2²(subvector_m, codeword_mj), computed
    as array_position of the min over a literal-codeword distance
    array — scan-stage projection, no shuffle, no UDF. First-match
    argmin ties with DuckDB's list_position semantics. Distances are
    rounded to 6 before the argmin so the encoding is robust to
    last-bit engine divergence; the composition is textually the same
    transform/zip_with/aggregate tree as the Column form, so codes are
    bit-identical."""
    m_count = len(codebook)
    dsub = len(codebook[0][0])
    vd = _as_double_sql(vec_sql)
    sqls = []
    for m in range(m_count):
        sub = f"slice({vd}, {m * dsub + 1}, {dsub})"
        mat = "array(" + ",".join(_vec_sql(cw) for cw in codebook[m]) + ")"
        dists = (
            f"transform({mat}, cw -> round(aggregate("
            f"zip_with({sub}, cw, (x, c) -> (x - c) * (x - c)), 0.0D, "
            "(acc, x) -> acc + x), 6))"
        )
        sqls.append(f"array_position({dists}, array_min({dists}))")
    return sqls


def pq_codes(vec: Column, codebook: list[list[list[float]]]) -> list[Column]:
    """Column-input form of pq_code_sqls (kept for arbitrary Column
    inputs; same tree, same codes — see pq_code_sqls)."""
    m_count = len(codebook)
    dsub = len(codebook[0][0])
    codes = []
    for m in range(m_count):
        sub = F.slice(_as_double(vec), m * dsub + 1, dsub)
        mat = _mat_lit(codebook[m])
        dists = F.transform(
            mat,
            lambda cw: F.round(
                F.aggregate(
                    F.zip_with(sub, cw, lambda x, c: (x - c) * (x - c)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
        codes.append(F.array_position(dists, F.array_min(dists)).alias(f"c{m}"))
    return codes


def pq_adc_topk(
    vectors: DataFrame,
    query_vec: list[float],
    codebook: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC approximate nearest neighbours: encode each vector to M
    sub-codes against the codebook, precompute the query→codeword
    distance table driver-side (M×K floats — constant-folded literals),
    and score by table lookup: dist ≈ Σ_m table[m][code_m].

    The 100 TB story: codes are M bytes per vector vs 4·dim — the
    index fits in memory at corpus scale; the scan projects only the
    code columns, the ADC sum is a literal-array lookup, and the
    finish is TakeOrderedAndProject (per-partition heaps). Encoding is
    embarrassingly parallel and incremental (new vectors encode
    independently)."""
    m_count = len(codebook)
    dsub = len(codebook[0][0])
    # driver-side query distance table, same summation order as the
    # Spark/DuckDB forms (d ascending) so all three agree bit-for-bit
    table = [
        [
            sum(
                (float(query_vec[m * dsub + d]) - float(cw[d])) ** 2
                for d in range(dsub)
            )
            for cw in codebook[m]
        ]
        for m in range(m_count)
    ]
    coded = vectors.selectExpr(
        f"`{id_col}`",
        *[f"{c} AS c{m}" for m, c in
          enumerate(pq_code_sqls(f"`{vec_col}`", codebook))],
    )
    score = None
    for m in range(m_count):
        lut = _vec_lit(table[m])
        term = F.element_at(lut, F.col(f"c{m}").cast("int"))
        score = term if score is None else (score + term)
    return (
        coded.select(F.col(id_col), F.round(score, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def ivf_index_append(
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cell: int = 1,
) -> None:
    """Incremental IVF maintenance: encode ONLY the new vectors against
    the index's existing centroid sidecar and append their files into
    the cell partition dirs. Assignment is independent per vector (the
    coarse quantizer is frozen at build time — standard IVF practice;
    retrain + rebuild is a separate offline decision), so a CDC-fed
    corpus keeps its ANN index current at the cost of encoding just
    the delta. Queries see appended files through the same
    partition-pruned directory listing; no existing file is touched."""
    import json
    import os

    with open(os.path.join(path, "_ivf_centroids.json")) as fh:
        centroids = json.load(fh)
    assigned = _ensure_build_parallelism(vectors).withColumn(
        "_cell",
        # ONE py4j call + one JVM parse (see _nearest_cell_sql)
        F.expr(_nearest_cell_sql(_as_double_sql(f"`{vec_col}`"), centroids)),
    )
    if files_per_cell == 1:
        clustered = assigned.repartition(F.col("_cell"))
    else:
        clustered = assigned.repartition(
            F.col("_cell"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_cell)),
        )
    clustered.write.mode("append").partitionBy("_cell").parquet(path)


def pq_index_build(
    vectors: DataFrame,
    path: str,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize PQ codes AT INGEST — the serving layout
    pq_adc_topk's docstring promises: an (id, c0..c{M-1}) table (M
    small ints per vector, ~M bytes in parquet vs 4·dim for the raw
    vectors) plus the codebook in a root sidecar. Encoding runs once
    here as a scan projection; every later ADC query scans only the
    code columns and never touches a full vector. The codebook JSON
    write is the commit point (temp + atomic rename), so a crashed
    build is invisible to readers."""
    import os

    coded = _ensure_build_parallelism(vectors).selectExpr(
        f"`{id_col}`",
        # M py4j calls total (see pq_code_sqls)
        *[f"{c} AS c{m}" for m, c in
          enumerate(pq_code_sqls(f"`{vec_col}`", codebook))],
    )
    coded.write.mode("overwrite").parquet(path)
    write_json_atomic(os.path.join(path, "_pq_codebook.json"), codebook)


def pq_index_append(
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental PQ maintenance: encode ONLY the new vectors against
    the index's existing codebook sidecar and append their code rows.
    PQ encoding is independent per vector, so a CDC-fed corpus keeps
    its code table current at delta cost; no existing file is
    touched."""
    import json
    import os

    with open(os.path.join(path, "_pq_codebook.json")) as fh:
        codebook = json.load(fh)
    coded = _ensure_build_parallelism(vectors).selectExpr(
        f"`{id_col}`",
        # M py4j calls total (see pq_code_sqls)
        *[f"{c} AS c{m}" for m, c in
          enumerate(pq_code_sqls(f"`{vec_col}`", codebook))],
    )
    coded.write.mode("append").parquet(path)


def pq_index_adc_topk(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over a persisted PQ-codes index: the query→codeword
    distance table is computed driver-side from the sidecar codebook
    (M×K floats, constant-folded literals) and the score is a literal
    array lookup summed over the M code columns — the per-query encode
    cost of the inline form disappears entirely, which is the point of
    encoding at ingest. Same summation order and rounding as
    pq_adc_topk, so both return identical results for the same
    codebook (one oracle covers both). Finish is
    TakeOrderedAndProject — no shuffle, no global sort."""
    import json
    import os

    with open(os.path.join(path, "_pq_codebook.json")) as fh:
        codebook = json.load(fh)
    m_count = len(codebook)
    dsub = len(codebook[0][0])
    table = [
        [
            sum(
                (float(query_vec[m * dsub + d]) - float(cw[d])) ** 2
                for d in range(dsub)
            )
            for cw in codebook[m]
        ]
        for m in range(m_count)
    ]
    coded = spark.read.parquet(path)
    score = None
    for m in range(m_count):
        lut = _vec_lit(table[m])
        term = F.element_at(lut, F.col(f"c{m}").cast("int"))
        score = term if score is None else (score + term)
    return (
        coded.select(F.col(id_col), F.round(score, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def _residual(vec: "F.Column", cell: "F.Column",
              centroids: list[list[float]]) -> "F.Column":
    """vec - centroid[cell] as a zip_with over ONE literal centroid
    matrix indexed by the assigned cell (shared transform loop — the
    Catalyst expression tree stays O(k·dim) once, not per row)."""
    mat = F.array(*[
        _vec_lit(c) for c in centroids
    ])
    return F.zip_with(
        vec, F.element_at(mat, cell + 1), lambda x, c: x - c
    )


def _encoded_for_index(
    vectors: DataFrame,
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    by_residual: bool,
) -> DataFrame:
    """(id, c0..c{M-1}, _cell) rows for the IVFPQ layout — one scan
    projection does assignment + encoding; with ``by_residual`` the
    codes quantize (vec - centroid[cell]) instead of the raw vector."""
    vd = _as_double_sql(f"`{vec_col}`")
    assigned = _ensure_build_parallelism(vectors).selectExpr(
        f"`{id_col}`",
        f"{vd} AS _v",
        # ONE py4j call + one JVM parse per expression (see
        # _nearest_cell_sql / pq_code_sqls)
        f"{_nearest_cell_sql(vd, centroids)} AS _cell",
    )
    if by_residual:
        mat = "array(" + ",".join(_vec_sql(c) for c in centroids) + ")"
        enc_sql = (
            f"zip_with(_v, element_at({mat}, _cell + 1), (x, c) -> x - c)"
        )
    else:
        enc_sql = "_v"
    return assigned.selectExpr(
        f"`{id_col}`",
        *[f"{c} AS c{m}" for m, c in
          enumerate(pq_code_sqls(enc_sql, codebook))],
        "_cell",
    )


def ivfpq_index_build(
    vectors: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cell: int = 1,
    by_residual: bool = False,
) -> None:
    """The combined IVF+PQ serving index (the FAISS IVFPQ layout, in
    its by_residual=false form): ONE scan projection assigns each
    vector's coarse cell AND encodes its M PQ codes, and the
    (id, c0..c{M-1}) rows are written partitioned by cell. A query
    then composes BOTH scale levers: partition pruning reads only
    nprobe/k of the files, and those files hold M-byte codes instead
    of 4·dim floats — bytes touched per query ≈ (nprobe/k) × (M/4·dim)
    of the raw corpus (measured in SCALE.md §16). Both sidecars
    (codebook, centroids) publish by atomic rename; the centroid
    sidecar is written LAST and is the readiness marker, so a crashed
    build is invisible to ivfpq_index_topk.

    ``by_residual=True`` is the full FAISS form: codes quantize
    (vector - centroid[cell]), which centers every cell's residuals
    near the origin so the codebook's resolution is spent on the part
    of the vector IVF hasn't already explained — better recall at the
    same M, at the cost of one query LUT PER PROBED CELL instead of
    one global LUT (still nprobe × M × K driver-side floats; the scan
    shape is identical, per-cell scans unioned —
    tests/test_similarity.py pins the recall win on clustered data).
    The default stays by_residual=false so the oracle-checked entry's
    encode is engine-portable (one global LUT replays in DuckDB)."""
    import os

    coded = _encoded_for_index(
        vectors, centroids, codebook, id_col, vec_col, by_residual
    )
    if files_per_cell == 1:
        clustered = coded.repartition(F.col("_cell"))
    else:
        clustered = coded.repartition(
            F.col("_cell"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_cell)),
        )
    clustered.write.mode("overwrite").partitionBy("_cell").parquet(path)
    write_json_atomic(os.path.join(path, "_pq_codebook.json"), codebook)
    # id_type lets the empty-probe query path construct its empty
    # result from a literal schema instead of listing the index; the
    # codes schema lets a probe read skip footer inference
    write_json_atomic(os.path.join(path, "_ivfpq_meta.json"), {
        "by_residual": bool(by_residual),
        "id_type": vectors.schema[id_col].dataType.simpleString(),
        "schema": coded.drop("_cell").schema.jsonValue(),
    })
    write_json_atomic(os.path.join(path, "_ivf_centroids.json"), centroids)


def ivfpq_index_append(
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cell: int = 1,
) -> None:
    """Incremental IVFPQ maintenance: new vectors are assigned and
    encoded against BOTH frozen sidecars and appended into the cell
    dirs — delta cost, nothing rewritten (the same frozen-quantizer
    practice as ivf_index_append/pq_index_append, combined)."""
    import json
    import os

    with open(os.path.join(path, "_ivf_centroids.json")) as fh:
        centroids = json.load(fh)
    with open(os.path.join(path, "_pq_codebook.json")) as fh:
        codebook = json.load(fh)
    coded = _encoded_for_index(
        vectors, centroids, codebook, id_col, vec_col,
        _ivfpq_meta(path).get("by_residual", False),
    )
    if files_per_cell == 1:
        clustered = coded.repartition(F.col("_cell"))
    else:
        clustered = coded.repartition(
            F.col("_cell"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_cell)),
        )
    clustered.write.mode("append").partitionBy("_cell").parquet(path)


def _ivfpq_meta(path: str) -> dict:
    """The index's build-time meta sidecar. Indexes written before it
    existed have none: they are raw-encoded and record no id type or
    codes schema, so callers fall back to reading the index."""
    import json
    import os

    meta_path = os.path.join(path, "_ivfpq_meta.json")
    if not os.path.exists(meta_path):
        return {}
    with open(meta_path) as fh:
        return json.load(fh)


def ivfpq_index_topk(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    nprobe: int = 3,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a persisted IVFPQ index: rank cells driver-side from the
    centroid sidecar, scan ONLY the nprobe nearest cells' partition
    dirs (file pruning), and ADC-score their M-byte codes with the
    constant-folded query LUT (no full vector is ever read — the index
    holds none). Same cell ranking as ivf_index_topk and same ADC
    math/rounding as pq_index_adc_topk, so the composed path is
    value-checked by composing their oracles."""
    import json
    import math
    import os

    with open(os.path.join(path, "_ivf_centroids.json")) as fh:
        centroids = json.load(fh)
    with open(os.path.join(path, "_pq_codebook.json")) as fh:
        codebook = json.load(fh)

    def cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    ranked = sorted(
        range(len(centroids)),
        key=lambda i: (-round(cos(query_vec, centroids[i]), 6), i),
    )
    probe_cells = [
        c for c in ranked[:nprobe]
        if os.path.isdir(os.path.join(path, f"_cell={c}"))
    ]
    meta = _ivfpq_meta(path)
    if not probe_cells:  # degenerate: all probed cells empty
        # literal empty frame — never list/read the index root: an
        # index built from zero vectors has no part files to infer
        # from, and a large index would list every partition just to
        # produce nothing. id type comes from the build-time sidecar
        # (legacy indexes without it fall back to the root read).
        id_type = meta.get("id_type")
        if id_type is not None:
            return spark.createDataFrame(
                [], f"{id_col} {id_type}, adc_dist double"
            )
        return (
            spark.read.parquet(path).filter(F.lit(False))
            .select(F.col(id_col), F.lit(0.0).alias("adc_dist"))
        )
    m_count = len(codebook)
    dsub = len(codebook[0][0])
    by_residual = meta.get("by_residual", False)

    def cells_frame(cells: list[int]) -> DataFrame:
        dirs = [os.path.join(path, f"_cell={c}") for c in cells]
        if "schema" not in meta:  # legacy index: infer from footers
            return spark.read.option("basePath", path).parquet(*dirs)
        schema = T.StructType.fromJson(meta["schema"]).add(
            "_cell", T.IntegerType()
        )
        return read_parquet_dirs(spark, schema, dirs, base_path=path)

    def lut_for(query: list[float]) -> list[list[float]]:
        return [
            [
                sum(
                    (float(query[m * dsub + d]) - float(cw[d])) ** 2
                    for d in range(dsub)
                )
                for cw in codebook[m]
            ]
            for m in range(m_count)
        ]

    def scored(df, table):
        score = None
        for m in range(m_count):
            lut = _vec_lit(table[m])
            term = F.element_at(lut, F.col(f"c{m}").cast("int"))
            score = term if score is None else (score + term)
        return df.select(F.col(id_col), F.round(score, 6).alias("adc_dist"))

    if not by_residual:
        out = scored(cells_frame(probe_cells), lut_for(query_vec))
    else:
        # residual codes: the query table is PER PROBED CELL (LUT over
        # q - centroid_c) — nprobe per-cell pruned scans, each with its
        # own constant-folded table, unioned before the heap finish
        parts = []
        for c in probe_cells:
            cell_df = cells_frame([c])
            q_res = [
                float(x) - float(cc)
                for x, cc in zip(query_vec, centroids[c])
            ]
            parts.append(scored(cell_df, lut_for(q_res)))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
    return out.orderBy(F.col("adc_dist").asc(), F.col(id_col)).limit(k)


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    k: int = 16,
    iterations: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train a PQ codebook: one seeded k-means per subspace over the
    sliced subvectors (kmeans_train's plan shape — literal-broadcast
    assignment, one k×dsub partial-agg shuffle per iteration, k tiny
    rows collected). Returns codebook[m][k][dsub] for pq_adc_topk.
    The oracle-checked entry freezes seed codewords instead (float-mean
    training isn't portable across engines, same note as IVF)."""
    first = vectors.select(vec_col).head()
    if first is None:
        raise ValueError("cannot train on an empty vector table")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebook = []
    for mi in range(m):
        sub = vectors.select(
            F.col(id_col),
            F.slice(_as_double(F.col(vec_col)), mi * dsub + 1, dsub).alias(
                vec_col
            ),
        )
        codebook.append(
            kmeans_train(
                sub, k=k, iterations=iterations, seed=seed + mi,
                id_col=id_col, vec_col=vec_col,
            )
        )
    return codebook
