"""Per-layer metrics of the traced run and the end-to-end metric each
one should move, on which workload.

A metric ending in ``_s`` whose stem is a span name is that span's
median self time over the traced operations; the others are medians of
per-operation counts recorded by the workload, or set-up measurements.
A layer a workload does not exercise reports 0.
"""

from __future__ import annotations

#: name -> (unit, better, "end-to-end metric @ workload" it should move)
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s @ all"),
    "catalog.register_s": ("s", "lower", "setup_s @ query_mix"),
    "streaming.batch_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ ingest_upsert"),
    "streaming.docs_per_batch": ("count", "higher", "op_cpu_s.p50, op_s.p50 @ ingest_upsert"),
    "pipeline.rows_in": ("count", "higher", "op_cpu_s.p50, op_s.p50 @ ingest_upsert"),
    "pipeline.rows_out": ("count", "higher", "op_cpu_s.p50, op_s.p50 @ ingest_upsert"),
    "pipeline.stage_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ ingest_upsert"),
    "merge.upsert_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ ingest_upsert"),
    "merge.read_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ ingest_upsert; op_cpu_s.p50, op_s.p50 @ query_mix (first query after a commit)"),
    "merge.overwrite_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ ingest_upsert"),
    "merge.spark_jobs": ("count", "lower", "op_spark_jobs @ query_mix (commit tick); op_cpu_s.p50, op_s.p50 @ ingest_upsert"),
    "merge.spark_stages": ("count", "lower", "op_cpu_s.p50, op_s.p50 @ ingest_upsert"),
    "merge.spark_tasks": ("count", "lower", "op_spark_tasks @ query_mix (commit tick); op_cpu_s.p50, op_s.p50 @ ingest_upsert"),
    "merge.failed_tasks": ("count", "lower", "op_cpu_s.p50, op_s.p50 @ ingest_upsert"),
    "merge.bytes_written": ("B", "lower", "op_io_mb @ query_mix (commit tick); op_cpu_s.p50, op_s.p50 @ ingest_upsert; must not raise op_cpu_s.p50, op_s.p50 @ query_mix"),
    "merge.rows_written_per_row_changed": ("ratio", "lower", "op_cpu_s.p50, op_s.p50 @ ingest_upsert; must not raise op_cpu_s.p50, op_s.p50 @ query_mix"),
    "storage.files_live": ("count", "lower", "op_cpu_s.p50, op_s.p50 @ query_mix"),
    "storage.bytes_live": ("B", "lower", "op_io_mb, op_cpu_s.p50, op_s.p50 @ query_mix"),
    "storage.versions_on_disk": ("count", "lower", "op_cpu_s.p50, op_s.p50 @ query_mix"),
    "storage.history_entries": ("count", "lower", "op_s tail @ ingest_upsert (parsed on every commit)"),
    "sql.plan_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ query_mix"),
    "sql.exec_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ query_mix"),
    "sql.spark_jobs": ("count", "lower", "op_spark_jobs, op_cpu_s.p50, op_s.p50 @ query_mix"),
    "sql.spark_tasks": ("count", "lower", "op_spark_tasks, op_cpu_s.p50, op_s.p50 @ query_mix"),
    "sql.point.exec_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ query_mix"),
    "sql.range.exec_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ query_mix"),
    "sql.rollup.exec_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ query_mix"),
    "sql.latest.exec_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ query_mix"),
    "sql.export.exec_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ query_mix"),
    "sql.flagship_q3.exec_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ query_mix"),
    "sql.b16_groupby_agg.exec_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ query_mix"),
    "dedup.exact_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ curation_batch"),
    "dedup.minhash_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ curation_batch"),
    "dedup.lsh_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ curation_batch"),
    "dedup.verify_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ curation_batch"),
    "dedup.lsh_candidates": ("count", "lower", "op_cpu_s.p50, op_s.p50 @ curation_batch"),
    "dedup.lsh_precision": ("ratio", "higher", "op_cpu_s.p50, op_s.p50 @ curation_batch"),
    "cluster.components_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ curation_batch"),
    "cluster.spark_jobs": ("count", "lower", "op_spark_jobs, op_cpu_s.p50, op_s.p50 @ curation_batch"),
    "similarity.ivf_topk_s": ("s", "lower", "op_cpu_s.p50, op_s.p50 @ curation_batch"),
    "trace.overhead_s": ("s", "lower", "none: traced minus untraced op_s.p50"),
}

#: Every sql.<kind>.exec span feeds the mix-wide sql.exec_s.
SQL_EXEC_KINDS = [n[len("sql."):-len(".exec_s")] for n in PER_LAYER
                  if n.startswith("sql.") and n.endswith(".exec_s") and n != "sql.exec_s"]
