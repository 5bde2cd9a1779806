"""Every metric the benchmark reports: name, unit, direction.

``END_TO_END`` is printed with ``--trace 0`` and ``PER_LAYER`` with
``--trace 1``. BENCHMARK.json lists the same names (``selftest.py``
checks that the two agree). Per-layer values are those of the traced
run's warm pass, except ``session.*`` and the cold pass
``trace.first_pass_s``; a step or layer a workload does not run reads 0.
The cold pass is per-layer, not end to end: one sample per run, its
spread (quartile distance over median, ten seeds) was 0.03 on a quiet
4-core host but reached 0.21-0.28 on the same host in busy periods, at
or past the largest bound a benchmark may set (0.25).
"""

from __future__ import annotations

#: (name, unit, better, bound as a share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
    ("written_mb", "MB", "lower", 0.05),
]

#: step names per workload, in pass order
STEPS = {
    "prospect_etl": [
        "structuring_job", "deep_prospect_pipeline", "outbound_pipeline",
        "entity_resolution_pipeline",
    ],
    "corpus_dedup": [
        "minhash_lsh_dedup", "simhash_fingerprint", "dedup_jaccard_pairs",
        "ngram_contamination_check", "duplicated_ngram_spans",
        "pretraining_data_pipeline", "incremental_corpus_dedup",
    ],
    "vector_index": [
        "gen_index_append", "gen_index_probe_accreted", "gen_index_compact",
        "gen_index_probe_compacted", "gen_index_rollback",
        "embedding_ivf_indexed_topk", "embedding_ivf_index_append",
        "hybrid_retrieval_rrf", "bm25_retrieval",
    ],
}

#: the registered queries whose DuckDB oracle a workload's checks read
ORACLES = {
    "prospect_etl": ["flagship_prospect_pipeline", "deep_prospect_pipeline",
                     "entity_resolution_pipeline"],
    "corpus_dedup": STEPS["corpus_dedup"],
    "vector_index": ["gen_ivf_append", "embedding_ivf_indexed_topk",
                     "embedding_ivf_index_append", "hybrid_retrieval_rrf",
                     "bm25_retrieval"],
}

#: step counters the self-test requires to repeat exactly, for every step
#: at every pass, between two fresh sessions. Jobs, stages, tasks and
#: shuffle read bytes are reported, not required: entity_resolution_pipeline
#: sometimes runs one job fewer (results/determinism.json).
DETERMINISTIC = ("py4j", "shuffle_write_bytes")

_LAYERS = [
    ("session.import_s", "s", "lower"),
    ("session.get_spark_s", "s", "lower"),
    ("session.sentinel_s", "s", "lower"),
    ("session.sentinel_end_s", "s", "lower"),
    ("plans.construct_s", "s", "lower"),
    ("plans.py4j_calls", "count", "lower"),
    ("plans.eager_jobs", "count", "lower"),
    ("plans.share", "ratio", "lower"),
    ("operators.action_s", "s", "lower"),
    ("operators.jobs", "count", "lower"),
    ("operators.stages", "count", "lower"),
    ("operators.tasks", "count", "lower"),
    ("operators.run_s", "s", "lower"),
    ("operators.cpu_s", "s", "lower"),
    ("operators.gc_s", "s", "lower"),
    ("operators.slot_busy", "ratio", "higher"),
    ("operators.shuffle_write_mb", "MB", "lower"),
    ("operators.shuffle_read_mb", "MB", "lower"),
    ("operators.spill_mb", "MB", "lower"),
    ("sources.input_mb", "MB", "lower"),
    ("sources.input_rows", "count", "lower"),
    ("sources.output_mb", "MB", "lower"),
    ("sources.output_files", "count", "lower"),
    ("sources.output_rows", "count", "lower"),
    ("sources.bytes_per_row", "B", "lower"),
    ("jobs.structuring_s", "s", "lower"),
    ("jobs.structuring_jobs", "count", "lower"),
    ("jobs.outbound_s", "s", "lower"),
    ("jobs.outbound_jobs", "count", "lower"),
    ("jobs.catalog_partitions", "count", "higher"),
    ("index_store.append_s", "s", "lower"),
    ("index_store.probe_s", "s", "lower"),
    ("index_store.compact_s", "s", "lower"),
    ("index_store.rollback_s", "s", "lower"),
    ("index_store.written_mb", "MB", "lower"),
    ("index_store.files_written", "count", "lower"),
    ("index_store.probe_input_mb", "MB", "lower"),
    ("trace.first_pass_s", "s", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("error_rate", "ratio", "lower"),
]

_STEP_METRICS = [
    ("construct_s", "s"), ("action_s", "s"), ("jobs", "count"), ("py4j_calls", "count"),
]

PER_LAYER = _LAYERS + [
    (f"step.{step}.{m}", unit, "lower")
    for steps in STEPS.values()
    for step in steps
    for m, unit in _STEP_METRICS
]
