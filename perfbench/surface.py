"""The analytics panel of ``dashboard_rw``: a fixed, module-stratified
sample of the ``queries()`` entries over seeded fixture tables.

A dashboard runs analytics panels beside its mirror reads, so each
round of the ``dashboard_rw`` client runs the next entry of the sample
as one more read kind, timed from the call that builds its DataFrame
to its collected result. Memo and index builds fall inside that time,
so it is honest. Each result is checked against the entry's
``oracle_sql()`` on DuckDB with ``tools/check_parity.py``'s
normalization, outside the timer.

The sample is drawn with a constant seed, so every run measures the
same entries; ``--seed`` varies the table contents.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

from perfbench import datagen

# The fixture scale of the panel, also in the smoke tests: on tables a
# tenth this size some entries meet ties their oracle orders otherwise.
SF = 0.01
SAMPLE_SEED = 1729
# Left out of the sample: entries slower than 0.6 s at SF on 4 cores
# (engine_* scenarios, which the rest of the benchmark times through
# the engine itself, ANN index builds, dedup and sketch pipelines), so
# the panel measures the sub-second tail most entries live in; and
# entries whose result the synthetic tables do not reproduce against
# the oracle.
EXCLUDED = frozenset({
    # over 0.6 s at SF, warm or cold
    "alias_union_search", "ann_ivf_append_topk", "ann_ivf_index_topk",
    "ann_ivfpq_index_topk", "ann_ivfpq_residual_topk", "ann_pq_index_topk",
    "approx_sketches", "bpe_train_merges", "contamination_bloom",
    "contamination_embedding", "coreset_kcenter_greedy",
    "dedup_cc_survivors", "dedup_embedding_srp", "dedup_lsh_capped",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_prefix_filter_join",
    "dedup_semantic_keep", "dedup_semantic_stream", "dedup_simhash",
    "dedup_span_doc_stats", "dedup_span_trim", "dedup_span_trim_stream",
    "dedup_spans_incremental", "embedding_gram_stream",
    "engine_alert_log_counts", "engine_bulk_mirror",
    "engine_knn_index_search", "engine_monitor_stream_alerts",
    "engine_reindex_script", "engine_reindex_search",
    "engine_rollup_metrics", "engine_rollup_search",
    "engine_rollup_two_dim", "engine_search_mirror",
    "engine_snapshot_restore", "engine_update_delete_search",
    "fingerprint_winnowing", "graph_label_propagation", "graph_pagerank",
    "quality_ccnet_buckets", "quality_kneser_ney", "quality_repetition",
    "search_eval_metrics", "search_hybrid_minmax", "search_rank_rbo",
    "sketch_cms_rollup_stream", "sketch_hll_intersection",
    "sketch_hll_rollup_stream", "sketch_kmv_overlap", "text_novelty_ngram",
    "unigram_viterbi_segment", "variable_width_histogram", "vocab_zipf_fit",
    "wordpiece_apply_longest", "wordpiece_train_scores",
    # over 1 s as the first of their kind in a fresh session
    "cdc_incremental_agg", "dedup_cc_twophase", "ks_test_agg",
    "pipeline_quality_filter", "search_hybrid_rrf",
    # oracle mismatch on these tables
    "ts_interpolate_linear",
})


def _entries():
    import __spark_entry__ as entry

    module_of = {}
    for m in entry._MODULES:
        for name in m.QUERIES:
            module_of[name] = m.__name__.rsplit(".", 1)[1]
    return entry.queries(), entry.oracle_sql(), module_of


def sample(names, module_of, oracles, n, seed=SAMPLE_SEED):
    """Round-robin over modules in an order shuffled by ``seed``, each
    module's eligible entries shuffled too, until ``n`` entries are
    drawn: at most one entry per module while ``n`` <= modules. The
    sample for ``n`` is a prefix of the sample for any larger ``n``."""
    rng = random.Random(seed)
    by_mod: dict[str, list[str]] = {}
    for name in sorted(names):
        if name in EXCLUDED or name not in oracles:
            continue
        by_mod.setdefault(module_of[name], []).append(name)
    for lst in by_mod.values():
        rng.shuffle(lst)
    order = sorted(by_mod)
    rng.shuffle(order)
    out: list[str] = []
    while len(out) < n and any(by_mod.values()):
        for mod in order:
            if by_mod[mod] and len(out) < n:
                out.append(by_mod[mod].pop())
    return out


def _normalize():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(here, "tools", "check_parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


class Panel:
    """The fixture tables of one run, its sample of entries, and their
    oracle."""

    def __init__(self, spark, work: str, seed: int, n: int):
        import duckdb

        from postgres_opensearch_cdc_spark.registry import TESTDATA_TABLES

        self.spark = spark
        self.sf_dir = os.path.join(work, "sf")
        datagen.write_surface(self.sf_dir, SF, seed)
        self.queries, self.oracles, self.module_of = _entries()
        self.names = sample(self.queries, self.module_of, self.oracles, n)
        self.normalize = _normalize()
        # seconds spent building each entry's DataFrame, before collect
        self.build_s: dict[str, float] = {}
        self.con = duckdb.connect()
        for t in TESTDATA_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(self.sf_dir, t)}.parquet'")

    def load_tables(self) -> None:
        """Read every fixture table's footer (part of set-up)."""
        from postgres_opensearch_cdc_spark.registry import (
            TESTDATA_TABLES,
            load_table,
        )

        for t in TESTDATA_TABLES:
            load_table(self.spark, self.sf_dir, t).schema

    def run(self, name: str):
        """Build and collect one entry: (DataFrame, (rows, columns))."""
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.sf_dir)
        self.build_s[name] = time.perf_counter() - t0
        return df, ([tuple(r) for r in df.collect()], df.columns)

    def check(self, name: str, got) -> bool:
        rows, cols = got
        rel = self.con.sql(self.oracles[name])
        want_cols = list(rel.columns)
        return (sorted(cols) == sorted(want_cols)
                and self.normalize(rows, cols)
                == self.normalize(rel.fetchall(), want_cols))

    def close(self) -> None:
        self.con.close()
