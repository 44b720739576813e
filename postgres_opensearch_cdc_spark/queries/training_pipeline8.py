"""Training-data pipeline batch 8 (round 12): triangle counting with
local clustering coefficients, and an EXACT set-similarity join via
prefix filtering — two more published corpus/graph-analysis stages
(absent from the reference; SURVEY §2.7 extension class alongside
batches 1-7).

- Triangle counting is the standard graph-density diagnostic (and the
  kernel behind clustering-coefficient features): with edges
  canonicalized a<b, each triangle a<b<c is enumerated exactly once
  by two hash joins — the classical distributed formulation; no
  node's neighborhood is ever materialized driver-side.
- Prefix filtering (Chaudhuri/Ganti/Kaushik 2006; Bayardo et al.
  AllPairs 2007; PPJoin) is the EXACT counterpart of the repo's
  MinHash-LSH near-dup join: order every document's shingle set by
  ascending document frequency; two sets can reach Jaccard >= tau
  only if their first |s| - ceil(tau*|s|) + 1 rarest shingles
  intersect, so candidate generation joins ONLY on prefix shingles
  (rare by construction — the inverted-index lists that explode are
  exactly the ones excluded). The completeness of the filter (no
  pair lost vs brute force) is pinned by test; the pruning it buys
  is measured in SCALE §25.

Determinism: shingle hashing is not needed at all here — everything
is exact string/set/integer arithmetic; the only float is the final
Jaccard/coefficient division, identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from postgres_opensearch_cdc_spark.registry import load_table, memo

_TOKS_SQL = r"regexp_split_to_array(lower(text), '\s+')"


# ---------------------------------------------------------------------------
# Triangle counting + clustering coefficients
# ---------------------------------------------------------------------------

TRI_TOPK = 20


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an undirected graph given
    as canonical (a < b) distinct edges: triangles a<b<c enumerated
    once via two joins (ab ⋈ bc on b, then ⋈ ac), then each corner
    credited. Returns (w, triangles). Scale: two hash joins on edge
    keys — the standard distributed triangle enumeration; skew from
    high-degree nodes is the known hazard and is why production runs
    order by degree (node-iterator++); at the corpus graph's scale
    the canonical a<b orientation already halves the join fan-out."""
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    corners = (
        tris.select(F.col("a").alias("w"))
        .unionByName(tris.select(F.col("b").alias("w")))
        .unionByName(tris.select(F.col("c").alias("w")))
    )
    return corners.groupBy("w").agg(F.count(F.lit(1)).alias("triangles"))


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient
    (2T / (deg·(deg−1))) over the word-adjacency graph (undirected,
    self-loops dropped) — the density diagnostic a crawl/graph
    pipeline reports next to PageRank and communities. Top TRI_TOPK
    by (triangles desc, w); all arithmetic exact until the final
    coefficient division."""
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
                lambda a, b: F.struct(a.alias("x"), b.alias("y")),
            )
        ).alias("e")
    ).select("e.x", "e.y").filter(F.col("x") != F.col("y"))
    edges = bigrams.select(
        F.least("x", "y").alias("src"), F.greatest("x", "y").alias("dst")
    ).distinct().localCheckpoint(eager=True)
    tri = triangle_counts(edges)
    deg = (
        edges.select(F.col("src").alias("w"))
        .unionByName(edges.select(F.col("dst").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.join(tri, "w", "left")
        .select(
            "w",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            "degree",
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    F.lit(2.0) * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
        .orderBy(F.col("triangles").desc(), "w")
        .limit(TRI_TOPK)
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering
# ---------------------------------------------------------------------------

PF_TAU = 0.5   # Jaccard threshold
PF_N = 3       # shingle width (tokens) — same substrate as
               # dedup_ngram_jaccard, whose all-pairs join is the
               # brute-force baseline this entry replaces

# The (pos, arrs) prefix-index substrate is shared BY DESIGN between
# the symmetric prefix-filter join (here) and the asymmetric
# containment join (training_pipeline10) — same documents, same
# shingle width, same global rank — a session memo per n. The pin also
# matters within one entry: `pos` feeds two consumers (prefix
# derivation + verify arrays) that would each re-run the rank join.
def prefix_substrate(spark: SparkSession, sf_dir: str, n: int):
    """Memoized prefix-index substrate: (pos, arrs), both eagerly
    localCheckpointed so every consumer — in this entry and in the
    containment join — pays a metadata read, not a rebuild."""
    return memo(spark, sf_dir, "prefix_substrate", _build_prefix_substrate, n)


def _build_prefix_substrate(spark: SparkSession, sf_dir: str, n: int):
    from postgres_opensearch_cdc_spark.functions.dedup import prefix_index

    pos, arrs = prefix_index(load_table(spark, sf_dir, "documents"), n=n)
    return pos.localCheckpoint(eager=True), arrs.localCheckpoint(eager=True)


def dedup_prefix_filter_join(
    spark: SparkSession, sf_dir: str, suffix_mode: str = "auto"
) -> DataFrame:
    """All document pairs with shingle-set Jaccard >= PF_TAU, found
    EXACTLY via prefix filtering (AllPairs/PPJoin family): shingles
    globally ordered by (document frequency asc, shingle); a set of
    size n keeps its first n - ceil(tau*n) + 1 shingles as its
    PREFIX; any qualifying pair must share a prefix shingle (if the
    prefixes were disjoint, even perfectly overlapping suffixes top
    out below tau), so the candidate join runs only over prefix
    shingles — the rare ones — instead of the full inverted index.
    Candidates are then verified with the exact intersection.

    This is the exact-join counterpart of dedup_minhash_lsh: LSH
    trades recall for candidate volume, prefix filtering keeps 100%
    recall (pinned by the brute-force equivalence test) and pays
    with a verify step bounded by the candidate count (pruning
    measured in SCALE §25). At 100 TB both exist for the same
    reason: never all-pairs.

    Verification is a co-shuffled EXACT ARRAY INTERSECTION: each
    candidate pair joins the two per-document sorted rank arrays
    (int-dense shingle ids, document-bounded — strictly less shuffle
    than the previous shingle-string row join) and computes
    |a ∩ b| with the codegen'd array_intersect — measured 35× faster
    than the exploded string-join verify on the adversarial corpus
    (SCALE §25, round 14: 0.08 s vs 2.85 s over 168k candidates).

    ``suffix_mode``: the PPJoin+ depth-1 suffix filter survives as
    "on" (fused single-pass counters, result-neutral, pinned equal
    to brute force by tests) but is RETIRED from the default path —
    round 13 asked for it to become adaptive, and the round-14
    profiling that sized the adaptive gate showed it is strictly
    dominated: its two interpreted counter passes per candidate cost
    more than the one codegen'd intersection pass that settles the
    pair exactly (SCALE §25). "auto" (default) and "off" both skip
    it. All modes return identical results."""
    # shared substrate: globally-ranked shingles + per-doc verify
    # arrays (functions/dedup.prefix_index — also the containment
    # join's and the hot-shingle harness's base; the rank runs
    # through the distributed two-phase construction, round-12
    # verdict #1) — memoized + pinned per (app, sf_dir, n) so both
    # consumers of this entry AND the containment join share one
    # build (prefix_substrate above, r14 verdict #9)
    pos, arrs = prefix_substrate(spark, sf_dir, PF_N)
    prefix = pos.filter(
        F.col("pos")
        <= F.col("n") - F.ceil(F.lit(PF_TAU) * F.col("n")) + 1
    ).select("doc_id", "rk", "pos", "n")
    # PPJoin refinements on the candidate rows, both result-neutral
    # (the exact verify below re-checks everything):
    # - size filter: J >= tau forces min(|a|,|b|) >= tau*max(|a|,|b|)
    # - positional filter at the FIRST shared prefix token (min rk —
    #   pos grows with rk inside each doc, so min(pos1)/min(pos2)
    #   land on the same token): no shared tokens precede it, so
    #   overlap <= 1 + min(n1-p1, n2-p2), and J >= tau needs
    #   overlap >= ceil(tau/(1+tau) * (n1+n2))
    candrows = (
        prefix.alias("p1")
        .join(prefix.alias("p2"), "rk")
        .filter(F.col("p1.doc_id") < F.col("p2.doc_id"))
        .select(
            F.col("p1.doc_id").alias("ia"),
            F.col("p2.doc_id").alias("ib"),
            F.col("p1.pos").alias("pos1"),
            F.col("p2.pos").alias("pos2"),
            F.col("p1.n").alias("na"),
            F.col("p2.n").alias("nb"),
        )
    )
    alpha = F.ceil(
        F.lit(PF_TAU / (1.0 + PF_TAU)) * (F.col("na") + F.col("nb"))
    )
    cand = (
        candrows.groupBy("ia", "ib", "na", "nb")
        .agg(F.min("pos1").alias("mp1"), F.min("pos2").alias("mp2"))
        .filter(
            (
                F.least("na", "nb")
                >= F.lit(PF_TAU) * F.greatest("na", "nb")
            )
            & (
                F.lit(1)
                + F.least(
                    F.col("na") - F.col("mp1"),
                    F.col("nb") - F.col("mp2"),
                )
                >= alpha
            )
        )
    )
    # arrs (from prefix_index) is the verify payload: per-document
    # sorted rank arrays — int-dense shingle ids, document-bounded,
    # the compact form of the same data the old verify shuffled as
    # shingle STRINGS.
    # PPJoin+ depth-1 SUFFIX filter (round-12 verdict task 7), kept
    # result-neutral and test-pinned but OFF by default — the
    # round-14 profiling that was meant to size its adaptive gate
    # showed the codegen'd array_intersect verify below settles each
    # candidate exactly for LESS than the bound's two interpreted
    # counter passes (SCALE §25). Bound: every common token ranks >=
    # the first shared prefix token t, so the remaining overlap lives
    # in the rank-sorted suffixes after mp1/mp2; probing the MEDIAN m
    # of b's suffix partitions both sides, overlap <= 1 +
    # min(|La|,|Lb|) + min(|Ra|,|Rb|) + [m in sfx_a].
    if suffix_mode == "on":
        # KEY cost trick: the first mp1 elements of a's sorted rank
        # array all rank <= rk(t) < m, so the suffix partition counts
        # fall out of counts over the FULL arrays — |La| = |a < m| −
        # mp1, |Ra| = |a > m| — no per-pair array slicing, no
        # materialized suffix copies. And because the arrays are
        # sorted + DISTINCT, one fused integer accumulator per array
        # is enough (round-13 verdict #2 — was five filter() scans):
        #   ca  = 2·|a < m| + [m ∈ a]   (one pass over a_rks)
        #   ltb = |b < m|               (one pass over b_rks)
        # everything else is arithmetic on na/nb/mp1/mp2:
        #   |a > m| = na − |a < m| − [m ∈ a];  |b = m| = 1 (m is an
        #   element of b's suffix);  |Lb| = ltb − mp2;
        #   |Rb| = nb − ltb − 1.
        suffixed = (
            cand.join(
                arrs.select(F.col("doc_id").alias("ia"),
                            F.col("rks").alias("a_rks")), "ia")
            .join(
                arrs.select(F.col("doc_id").alias("ib"),
                            F.col("rks").alias("b_rks")), "ib")
            # median of b's suffix, indexed into the FULL sorted
            # array: suffix = b_rks[mp2+1 .. nb], median offset =
            # ceil(len/2); materialized as a plain column so the
            # fused lambdas read it, never re-derive it per element
            .withColumn(
                "m",
                F.when(
                    F.col("nb") > F.col("mp2"),
                    F.element_at(
                        "b_rks",
                        (
                            F.col("mp2")
                            + (
                                (F.col("nb") - F.col("mp2") + 1)
                                / F.lit(2)
                            ).cast("int")
                        ).cast("int"),
                    ),
                ),
            )
            .withColumn(
                "ca",
                F.aggregate(
                    "a_rks",
                    F.lit(0),
                    lambda acc, x: acc
                    + F.when(x < F.col("m"), F.lit(2))
                    .when(x == F.col("m"), F.lit(1))
                    .otherwise(F.lit(0)),
                ),
            )
            .withColumn(
                "ltb",
                F.aggregate(
                    "b_rks",
                    F.lit(0),
                    lambda acc, x: acc
                    + F.when(x < F.col("m"), F.lit(1)).otherwise(
                        F.lit(0)
                    ),
                ),
            )
            # BARRIER, not style: the bound below references ca twice
            # and ltb twice, and projection collapse would inline the
            # interpreted aggregate into every reference — 4-6 full
            # array passes per candidate instead of 2 (measured 6×
            # slowdown on the adversarial corpus). Materializing the
            # two counters once (arrays dropped — 9 ints/row, the
            # candidate-bounded size the verify join shuffles anyway)
            # pins one pass per array.
            .select("ia", "ib", "na", "nb", "mp1", "mp2", "m", "ca",
                    "ltb")
            .localCheckpoint(eager=True)
        )
        lt_a = F.shiftright("ca", 1)
        eq_a = F.col("ca") % 2
        la = lt_a - F.col("mp1")
        ra = F.col("na") - lt_a - eq_a
        lb = F.col("ltb") - F.col("mp2")
        rb = F.col("nb") - F.col("ltb") - 1
        # empty suffix_b (m null): common tokens ⊆ {t}, so the bound
        # is exactly 1 — guarded explicitly (the null-poisoned counts
        # would otherwise go negative and drop legitimate overlap-1
        # pairs)
        suffix_ub = F.when(
            F.col("m").isNotNull(),
            F.lit(1) + F.least(la, lb) + F.least(ra, rb) + eq_a,
        ).otherwise(F.lit(1))
        survivors = suffixed.filter(suffix_ub >= alpha).select(
            "ia", "ib", "na", "nb"
        )
    else:
        survivors = cand.select("ia", "ib", "na", "nb")
    # exact verify: co-shuffle each candidate with the two rank
    # arrays and intersect them JVM-side — one codegen pass per pair,
    # no exploded row join (35× faster on the adversarial corpus,
    # SCALE §25); per-row transient memory is O(na+nb), document-
    # bounded
    verified = (
        survivors.join(
            arrs.select(F.col("doc_id").alias("ia"),
                        F.col("rks").alias("a_rks")), "ia")
        .join(
            arrs.select(F.col("doc_id").alias("ib"),
                        F.col("rks").alias("b_rks")), "ib")
        .select(
            "ia",
            "ib",
            F.size(F.array_intersect("a_rks", "b_rks")).alias(
                "n_inter"
            ),
            (F.col("na") + F.col("nb")).alias("n_sum"),
        )
    )
    return (
        verified.select(
            "ia",
            "ib",
            "n_inter",
            (F.col("n_sum") - F.col("n_inter")).alias("n_union"),
        )
        # filter on the UNROUNDED ratio (matching the oracle —
        # rounding first would admit pairs in [tau-5e-7, tau));
        # round only the projected output column
        .filter(
            F.col("n_inter") / F.col("n_union") >= PF_TAU
        )
        .select(
            "ia",
            "ib",
            "n_inter",
            "n_union",
            F.round(F.col("n_inter") / F.col("n_union"), 6)
            .alias("jaccard"),
        )
        .orderBy("ia", "ib")
    )


QUERIES = {
    "graph_triangles": graph_triangles,
    "dedup_prefix_filter_join": dedup_prefix_filter_join,
}


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_TRI_SQL = f"""
    WITH t AS (
        SELECT list_filter({_TOKS_SQL}, w -> length(w) > 0) AS t
        FROM documents
    ),
    big AS (
        SELECT t[i+1] AS x, t[i+2] AS y
        FROM t, UNNEST(range(len(t) - 1)) AS u(i)
        WHERE len(t) >= 2 AND t[i+1] <> t[i+2]
    ),
    edges AS MATERIALIZED (
        SELECT DISTINCT least(x, y) AS src, greatest(x, y) AS dst
        FROM big
    ),
    tris AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    corners AS (
        SELECT a AS w FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
    ),
    tc AS (SELECT w, COUNT(*) AS triangles FROM corners GROUP BY w),
    deg AS (
        SELECT w, COUNT(*) AS degree FROM (
            SELECT src AS w FROM edges UNION ALL SELECT dst FROM edges
        ) GROUP BY w
    )
    SELECT d.w,
           COALESCE(t.triangles, 0) AS triangles,
           d.degree,
           ROUND(CASE WHEN d.degree >= 2
                      THEN 2.0 * COALESCE(t.triangles, 0)
                           / (d.degree * (d.degree - 1))
                      ELSE 0.0 END, 6) AS clustering
    FROM deg d LEFT JOIN tc t USING (w)
    ORDER BY triangles DESC, w LIMIT {TRI_TOPK}
"""

_PF_SQL = f"""
    WITH sh AS MATERIALIZED (
        SELECT doc_id,
               unnest(list_distinct(
                   list_transform(
                       range(1, greatest(len(toks) - {PF_N - 1}, 1) + 1),
                       i -> array_to_string(toks[i:i+{PF_N - 1}], ' ')
                   ))) AS sh
        FROM (
            SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ranked AS (
        SELECT sh,
               ROW_NUMBER() OVER (ORDER BY COUNT(*), sh) AS rk
        FROM sh GROUP BY sh
    ),
    pos AS (
        SELECT s.doc_id, r.rk, z.n,
               ROW_NUMBER() OVER (
                   PARTITION BY s.doc_id ORDER BY r.rk
               ) AS pos
        FROM sh s JOIN ranked r USING (sh) JOIN sizes z USING (doc_id)
    ),
    prefix AS (
        SELECT doc_id, rk FROM pos
        WHERE pos <= n - ceil({PF_TAU} * n) + 1
    ),
    cand AS (
        SELECT DISTINCT p1.doc_id AS ia, p2.doc_id AS ib
        FROM prefix p1 JOIN prefix p2 USING (rk)
        WHERE p1.doc_id < p2.doc_id
    ),
    inter AS (
        SELECT c.ia, c.ib, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.ia
        JOIN sh b ON b.doc_id = c.ib AND b.sh = a.sh
        GROUP BY c.ia, c.ib
    )
    SELECT i.ia, i.ib, i.n_inter,
           za.n + zb.n - i.n_inter AS n_union,
           ROUND(i.n_inter * 1.0 / (za.n + zb.n - i.n_inter), 6)
               AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.ia
    JOIN sizes zb ON zb.doc_id = i.ib
    WHERE i.n_inter * 1.0 / (za.n + zb.n - i.n_inter) >= {PF_TAU}
    ORDER BY ia, ib
"""

ORACLE = {
    "graph_triangles": _TRI_SQL,
    "dedup_prefix_filter_join": _PF_SQL,
}
