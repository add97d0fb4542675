"""Query registry — the bridge between operator modules and the driver
contract (``__spark_entry__.py``).  The reference has no query registry -
its one job is hardcoded (SURVEY.md §3: 'there is no query language'); the
registry is what makes the engine a queryable surface instead.

Every implemented operator registers a named query callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a DuckDB oracle SQL
string computing the same result with the same column names (the driver's
comparison sorts columns by name and hash-compares values — FIXTURES.md §5).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``name``, optionally with oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


# Queries whose BUILDER executes real Spark work before returning the
# DataFrame — streaming jobs run to completion (awaitTermination inside the
# build), scratch datasets written and read back, or iterative training
# loops with bounded per-round collects.  Plan-only consumers (the output
# typing lint, plan fingerprinting when it wants to stay cheap) use this to
# skip the Spark-side build: for these names "build the lazy frame and read
# .schema" is neither lazy nor side-effect-free (ADVICE r9).  Execution-
# level checks (scripts/verify_driver.py) still cover every one of them
# dtype-faithfully — membership here trades only LINT coverage, never
# correctness coverage.  Curated by family; erring on inclusion is safe for
# the same reason.
EAGER: frozenset[str] = frozenset(
    {
        # structured-streaming jobs: the builder starts a query, drives it
        # to completion, and returns the sink/readback frame
        "stream_tumbling_hourly",
        "stream_sliding_10m_5m",
        "stream_stateful_user_totals",
        "stream_session_windows",
        "stream_static_join_segments",
        "stream_dedup_pairs",
        "stream_stream_join_attribution",
        "stream_dedup_against_corpus",
        "stream_cep_funnel",
        "stream_watermark_finalize",
        "stream_upsert_user_state",
        "stream_join_left_outer",
        "stream_wordcount_totals",
        "stream_ann_index_maintenance",
        "stream_pack_sequences",
        # filesystem round-trips: write scratch, read back, compare
        "jsonl_roundtrip",
        "jsonl_roundtrip_text_bytes",
        "jsonl_roundtrip_corrupt",
        "jsonl_roundtrip_ids",
        "jsonl_gzip_roundtrip",
        "jsonl_source_agreement",
        "csv_roundtrip",
        "csv_roundtrip_price",
        "csv_roundtrip_dates",
        "csv_roundtrip_corrupt",
        "csv_source_agreement",
        "compaction_roundtrip",
        "compaction_roundtrip_text_bytes",
        "compaction_roundtrip_counts",
        "compaction_roundtrip_files",
        "compaction_source_agreement",
        "xml_roundtrip",
        "orc_roundtrip",
        "jsondict_roundtrip",
        "partitioned_write_pruning",
        "bucketed_join_colocated",
        "storage_zorder_cluster",
        "storage_file_report",
        "ziptext_datasource_scan",
        "ingest_zip_wordcount",
        "pack_sequences_write",
        "pack_windows_content_readback",
        # iterative algorithms / trainers: per-round bounded collects or
        # counts at plan-build time (loop depth is data-dependent)
        "graph_pagerank",
        "graph_pagerank_dangling",
        "graph_connected_components",
        "graph_kcore_parts",
        "graph_label_propagation",
        "pagerank_word_graph",
        "bfs_word_distances",
        "dedup_clusters",
        "dedup_cluster_keep_best",
        "events_markov_stationary",
        "events_markov_attribution",
        "logreg_gradient_descent",
        "logreg_calibration_bins",
        "logreg_roc_auc",
        "logreg_threshold_sweep",
        "emb_pca_power_iteration",
        "emb_pq_codebook",
        "sim_mmr_diversify",
        "sim_topk_ivf",
        "sim_ann_recall_report",
        "sim_quantized_recall",
        "sim_kmeans_report",
        "dedup_semdedup_report",
        "dedup_semdedup_survivors",
        "ann_join_ivf",
        "ann_join_auto_k",
        "ann_join_auto_k_multiprobe",
        "sim_auto_k_recall_report",
        "sim_multiprobe_recall_report",
        "ann_join_query_directed_probe",
        "sim_directed_probe_recall_report",
        "bpe_train_k_merges",
        "bpe_encode_corpus",
        "bpe_second_merge_round",
        "bradley_terry_strength",
        "naive_bayes_langid",
        "heavy_hitters_verified",
        "text_tfidf_top_terms",
        "dq_completeness_matrix",
    }
)


def load_all() -> None:
    """Import every operator module so its ``@register`` calls run.

    :data:`QUERIES` and :data:`ORACLES` keep registration order, which is
    this import order; no consumer depends on it.
    """
    for mod in (
        "queries_dedup",
        "queries_similarity",
        "queries_text",
        "queries_events",
        "queries_temporal",
        "queries_quality",
        "queries_sketches",
        "queries_streaming",
        "queries_multimodal",
        "queries_wordcount",
        "queries_relational",
        "queries_features",
        "queries_probes",
    ):
        try:
            __import__(f"distributed_mapreduce_in_docker_rpyc_spark.operators.{mod}")
        except ModuleNotFoundError as exc:
            # Only tolerate genuinely-optional third-party deps; a missing
            # module of THIS package (typo'd import, broken refactor) must
            # fail loudly, not silently shrink the query surface.
            if (exc.name or "").startswith("distributed_mapreduce_in_docker_rpyc_spark"):
                raise
            import warnings

            warnings.warn(
                f"operator module {mod!r} skipped: missing optional dependency {exc.name!r}",
                stacklevel=2,
            )

