"""The per-layer metrics of the traced run: name, unit, and the
end-to-end metric and workload each should move. ``BENCHMARK.json``
lists the same names and units; a test keeps the two in step.

Every ``*_s`` metric of an engine layer is self time (the span minus
the spans nested in it), so the layers' self times and the harness's
add up to the traced wall.
"""

from __future__ import annotations

TEXT_FNS = (
    "minhash_pairs", "ngram_jaccard_pairs", "simhash_pairs", "line_dedup",
    "substring_dedup", "shared_shingle_frame",
)
SIMILARITY_FNS = (
    "embedding_near_dup_lsh", "embedding_semantic_dedup", "kmeans_centroids",
    "ivf_topk",
)
#: the five ERCOT jobs in the order the CLI runs them: the merge reads
#: the load queue before load_latest archives it
PIPELINES = (
    "fm_load_merge", "load_latest", "load_forecast", "spp_weather_merge",
    "merge_historical_weather",
)

#: (name, unit, what it should move)
LAYER_METRICS: tuple[tuple[str, str, str], ...] = (
    ("session.start_s", "s", "setup_s on every workload"),
    ("plans.build_s", "s", "wall_s and op_tail_s on curation"),
    ("plans.build_jobs", "count", "wall_s and op_tail_s on curation"),
    ("plans.action_s", "s", "wall_s on curation"),
    ("plans.action_jobs", "count", "wall_s on curation"),
    ("spark.catalyst_s", "s", "op_p50_s on curation"),
    ("spark.stages", "count", "op_p50_s on ingest and curation"),
    ("spark.tasks", "count", "op_p50_s on ingest and curation"),
    ("spark.executor_run_s", "s", "wall_s on every workload"),
    ("spark.executor_cpu_s", "s", "wall_s on every workload (run - cpu = waiting)"),
    ("spark.input_bytes", "bytes", "wall_s on curation and ingest"),
    ("spark.shuffle_write_bytes", "bytes", "wall_s on curation"),
    ("spark.shuffle_read_bytes", "bytes", "wall_s on curation"),
    ("spark.spill_bytes", "bytes", "wall_s on every workload (0 expected)"),
    ("operators.asof_join_s", "s", "op_p50_s and op_tail_s on ingest"),
    ("operators.band_join_s", "s", "op_p50_s and op_tail_s on ingest"),
    ("operators.dispatch_probes", "count", "op_tail_s on ingest"),
    ("operators.connected_components_s", "s", "wall_s on curation"),
    ("operators.connected_components_jobs", "count", "wall_s on curation"),
    *(
        (f"text.{fn}.{kind}", unit, "wall_s on curation")
        for fn in TEXT_FNS
        for kind, unit in (("self_s", "s"), ("jobs", "count"))
    ),
    *(
        (f"similarity.{fn}.{kind}", unit, "wall_s on curation")
        for fn in SIMILARITY_FNS
        for kind, unit in (("self_s", "s"), ("jobs", "count"))
    ),
    ("cache.bytes_peak", "bytes", "jvm_rss_peak_mb on curation"),
    ("cache.frames_released", "count", "jvm_rss_peak_mb on curation"),
    *((f"pipelines.{p}_s", "s", "op_p50_s on ingest") for p in PIPELINES),
    ("io.read_csv_s", "s", "op_tail_s on ingest"),
    ("io.upsert_s", "s", "op_tail_s on ingest"),
    ("io.archive_s", "s", "op_tail_s on ingest"),
    ("io.upsert_input_bytes", "bytes", "op_tail_s on ingest"),
    ("io.sink_bytes", "bytes", "stored bytes on ingest"),
    ("io.stored_bytes_per_input_byte", "ratio", "stored bytes on ingest"),
    ("harness.self_s", "s", "nothing: the benchmark's own time between spans"),
    ("trace.wall_s", "s", "nothing: traced wall; minus wall_s = tracing overhead"),
)
