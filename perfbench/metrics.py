"""Which end-to-end metric each per-layer metric should move, and where.

``BENCHMARK.json`` declares every metric's name, unit, direction and
bound; this map adds what its schema has no field for, so a speed claim
can be checked against the layer it names. ``selftest.py`` checks that
the map and ``BENCHMARK.json`` name the same per-layer metrics.
"""

from __future__ import annotations

ALL = "all workloads"
RESUMABLE = "resumable_pipeline"
MERGE = "merge_window"
INGEST = "ingest_route"

MOVES = {
    "session.start_s": f"setup_s, {ALL}",
    "session.warm_s": f"setup_s, {ALL}",
    "session.warmup_run_s": f"setup_s, {ALL}",
    "parse.vote_s": f"wall_s, {ALL}",
    "parse.py_run_s": f"wall_s and cpu_s, {MERGE} most",
    "parse.py_init_s": f"wall_s and cpu_s, {INGEST} most",
    "parse.arrow_in_bytes": f"wall_s and cpu_s, {INGEST} most",
    "parse.arrow_out_bytes": f"wall_s and cpu_s, {INGEST} most",
    "parse.rows_out": f"wall_s, {ALL}",
    "scan.time_s": f"wall_s, {ALL}",
    "scan.bytes": f"wall_s, {ALL}",
    "sessionize.shuffle_bytes": f"wall_s, {RESUMABLE}",
    "sessionize.fetch_wait_s": f"wall_s, {RESUMABLE}",
    "sessionize.py_run_s": f"wall_s, {RESUMABLE}",
    "yearfix.py_run_s": f"wall_s, {RESUMABLE}",
    "filters.rows_in": f"wall_s, {MERGE}",
    "filters.rows_out": f"wall_s, {MERGE}",
    "enrich.broadcast_collect_s": f"wall_s, {ALL}",
    "enrich.broadcast_build_s": f"wall_s, {ALL}",
    "merge.source_order_s": f"wall_s, {MERGE} and {RESUMABLE}",
    "merge.shuffle_bytes": f"wall_s, {MERGE} and {RESUMABLE}",
    "merge.sort_s": f"wall_s, {MERGE} and {RESUMABLE}",
    "merge.spill_bytes": f"wall_s, {MERGE} and {RESUMABLE}",
    "merge.partition_skew": f"wall_s, {MERGE} and {RESUMABLE}",
    "route.write_s": f"wall_s, {INGEST} and {RESUMABLE}",
    "route.count_s": f"wall_s, {INGEST} and {RESUMABLE}",
    "route.task_commit_s": f"wall_s, {INGEST} and {RESUMABLE}",
    "route.job_commit_s": f"wall_s, {INGEST} and {RESUMABLE}",
    "route.shuffle_bytes": f"wall_s, {INGEST} and {RESUMABLE}",
    "route.files": f"wall_s, {INGEST} and {RESUMABLE}",
    "route.bytes": f"wall_s, {INGEST} and {RESUMABLE}",
    "pipeline.jobs": f"wall_s, {RESUMABLE}",
    "pipeline.stages": f"wall_s, {RESUMABLE}",
    "pipeline.tasks": f"wall_s, {RESUMABLE}",
    "pipeline.lineage_s": f"wall_s, {RESUMABLE}",
    "pipeline.resume_s": f"wall_s, {RESUMABLE}",
    "exec.run_s": f"cpu_s, {ALL}",
    "exec.cpu_s": f"cpu_s, {ALL}",
    "exec.gc_s": f"cpu_s, {ALL}",
    "host.cpu_per_wall": f"cpu_s, {ALL}",
    "host.cores_before": f"none: host state before the workload, {ALL}",
    "host.cores_after": f"none: host state after the workload, {ALL}",
    "trace.overhead_s": f"none: traced minus untraced wall_s, {ALL}",
}
