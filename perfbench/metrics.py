"""Metric names, units and directions. BENCHMARK.json lists the same
metrics (checked by test_perfbench.py)."""

from __future__ import annotations

# (name, unit, better, bound): bound is the share of the parent's median
# by which the metric may worsen before a change counts as a regression.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.24),
]

_TIME = ("s", "lower")
_COUNT = ("count", "lower")
_MB = ("MB", "lower")

# Traced-run metrics, named <module>.<function>.<measure>. A workload
# reports 0 for a layer it never calls.
PER_LAYER = [
    # kg_build: spine layers as differences of noop-sink prefixes
    ("lineage.enforce_sha_invariant.s", *_TIME),
    ("metadata.latest_commit_only.s", *_TIME),
    ("metadata.latest_commit_only.shuffle_write_mb", *_MB),
    ("mentions.detect_mentions.s", *_TIME),
    ("mentions.detect_mentions.exec_run_s", *_TIME),
    ("mentions.detect_mentions.exec_cpu_s", *_TIME),
    ("mentions.detect_mentions.python_s", *_TIME),
    ("mentions.detect_mentions.rows_out", "rows", "lower"),
    ("summaries.canonicalize.s", *_TIME),
    ("linking.link_mentions.s", *_TIME),
    # kg_build
    ("pipeline.run_pipeline.s", *_TIME),
    ("pipeline.run_pipeline.jobs", *_COUNT),
    ("pipeline.run_pipeline.outside_jobs_s", *_TIME),
    ("components.canonical_entities_local.s", *_TIME),
    ("triples.write_triples.s", *_TIME),
    ("triples.write_triples.jobs", *_COUNT),
    ("triples.write_triples.shuffle_write_mb", *_MB),
    ("triples.write_triples.files_written", *_COUNT),
    ("triples.write_triples.bytes_per_triple", "B/triple", "lower"),
    # single-thread driver timings of the mention stage's Python pieces
    ("text.clean_preprocess_series.us_per_doc", "us", "lower"),
    ("mentions.regex_model.us_per_doc", "us", "lower"),
    ("mentions.gazetteer_conll_model.us_per_doc", "us", "lower"),
    ("mentions.gazetteer_onto_model.us_per_doc", "us", "lower"),
    ("mentions.SentenceLookup.us_per_doc", "us", "lower"),
    # kg_build's traced run: deltas landing on a resumable copy of the
    # build, medians per delta
    ("lineage.read_lineage.s", *_TIME),
    ("lineage.pending_only.useful_ratio", "ratio", "higher"),
    ("pipeline.run_pipeline.delta_s", *_TIME),
    ("pipeline.run_pipeline.delta_jobs", *_COUNT),
    ("pipeline.run_pipeline.delta_outside_jobs_s", *_TIME),
    ("triples.write_triples.delta_s", *_TIME),
    ("triples.write_triples.delta_jobs", *_COUNT),
    ("triples.write_triples.delta_files_written", *_COUNT),
    ("lineage.record_done.s", *_TIME),
    ("lineage.record_done.files_written", *_COUNT),
    ("bench.delta_p50_s", *_TIME),
]
# chained_folds: each maintainer, measured through its register query
for _layer in (
    "dedup.maintain_overlap_index",
    "dedup.maintain_span_index",
    "graph_query.maintain_transitive_closure",
    "curation.maintain_domain_caps",
    "sampling.maintain_weighted_sample",
):
    PER_LAYER += [
        (f"{_layer}.s", *_TIME),
        (f"{_layer}.jobs", *_COUNT),
        (f"{_layer}.tasks", *_COUNT),
        (f"{_layer}.outside_jobs_s", *_TIME),
        (f"{_layer}.exec_run_s", *_TIME),
    ]
# graph kernels (chained_folds traced run)
PER_LAYER += [
    ("graph_query.bgp_match.s", *_TIME),
    ("graph_query.bgp_match.exec_cpu_s", *_TIME),
    ("graph_query.bgp_match.shuffle_write_mb", *_MB),
    ("graph_query.bgp_match.max_stage_rows", "rows", "lower"),
    ("graph_query.pagerank_micro.s", *_TIME),
    ("graph_query.pagerank_micro.exec_cpu_s", *_TIME),
    ("graph_query.pagerank_micro.shuffle_write_mb", *_MB),
    ("graph_query.pagerank_micro.jobs", *_COUNT),
    ("graph_query.triangle_count.exec_cpu_s", *_TIME),
    ("graph_query.edge_neighborhood_jaccard.exec_cpu_s", *_TIME),
    # every workload: the traced pass; kg_build: the build's wall the layers miss
    ("bench.traced_wall_s", *_TIME),
    ("bench.layer_residual_s", *_TIME),
]
