"""The benchmark's workloads, the layer functions the traced run wraps, and
the names of every metric the benchmark reports.

Each workload runs a fixed list of registered queries (``registry.QUERIES``)
back to back; one pass runs each once. Query metric names are
``<module>.<query>.<metric>``, the module being where the query's function
lives in the package, as in ``operators.pos.pos_counts.exec_s``.
"""

from __future__ import annotations

# workload -> [(module, registered query name)]
WORKLOADS: dict[str, list[tuple[str, str]]] = {
    # The reference's own pipelines over a Zipf corpus: per-token expression
    # work (tokenize, Porter stemming, POS rules) and the two aggregation
    # shuffles, pairs against stripes. Runs no connected components.
    "text_index": [
        ("operators.tfidf", "doc_freq_top100"),
        ("operators.tfidf", "tfidf"),
        ("operators.pos", "pos_counts"),
        ("operators.pos", "pos_counts_stripes"),
    ],
    # Near-duplicate clustering over planted clusters: wall is driver-side
    # rounds of small jobs (connected-components iterations), not data.
    # Runs no stemming and no POS tagging. Each query builds the MinHash-LSH
    # pairs itself; ``dedup_minhash_lsh`` and ``dedup_apply`` alone would
    # only repeat that work and the labelprop solver, which the run's time
    # budget has no room for.
    "dedup_rounds": [
        ("operators.dedup", "dedup_clusters"),
        ("operators.dedup", "dedup_clusters_twostar"),
    ],
}

# workload -> the (module, function) layers its queries reach on every pass.
# The traced run wraps each where it is defined and in every module that
# bound it with ``from ... import``.
_CORPUS = [("sources.corpus", "load_table"), ("sources.corpus", "spread")]
WORKLOAD_LAYERS: dict[str, list[tuple[str, str]]] = {
    "text_index": _CORPUS + [
        ("operators.tfidf", "stem_dictionary"),
        ("operators.tfidf", "stemmed_tokens_of"),
        ("operators.tfidf", "term_counts_of"),
        ("operators.tfidf", "tfidf_from_counts"),
    ],
    "dedup_rounds": _CORPUS + [
        ("operators.dedup", "minhash_signatures_with_sets"),
        ("operators.dedup", "connected_components"),
        ("operators.dedup", "connected_components_twostar"),
    ],
}
LAYER_FUNCTIONS = list(dict.fromkeys(f for fs in WORKLOAD_LAYERS.values() for f in fs))

# name, unit, bound: the share of the parent's median a change may worsen
# the metric by
END_TO_END: list[tuple[str, str, float]] = [
    ("setup_s", "s", 0.25),
    ("pass_s", "s", 0.25),
]

SPREAD_METRICS = [("sources.corpus.spread.calls", "count"),
                  ("sources.corpus.spread.repartitioned", "count")]
QUERY_METRICS = [("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                 ("shuffle_write_mb", "MB")]
PASS_METRICS = [
    ("session.get_spark_s", "s"),
    ("cold_pass_s", "s"),
    ("peak_rss_mb", "MB"),
    *[(f"{module}.{fn}.self_s", "s") for module, fn in LAYER_FUNCTIONS],
    *SPREAD_METRICS,
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.spill_mb", "MB"),
    ("trace.overhead_frac", "ratio"),
]


def _query_metrics(workload: str) -> list[tuple[str, str]]:
    return [(f"{module}.{query}.{m}", unit)
            for module, query in WORKLOADS[workload] for m, unit in QUERY_METRICS]


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric of a traced run, in report order."""
    out = list(PASS_METRICS)
    for workload in WORKLOADS:
        out += _query_metrics(workload)
    return out


def reached_metrics(workload: str) -> set[str]:
    """The per-layer metrics a traced run of ``workload`` must measure; the
    others belong to layers and queries it does not run, and read 0."""
    layers = {f"{module}.{fn}.self_s" for module, fn in WORKLOAD_LAYERS[workload]}
    return ({name for name, _unit in PASS_METRICS if not name.endswith(".self_s")} | layers
            | {name for name, _unit in _query_metrics(workload)})
