"""The benchmark's metrics: names, units, direction, and what they move.

``BENCHMARK.json`` lists the same names; ``selftest.py`` checks that the
two agree and that one command prints every metric with its unit.

End-to-end metrics are printed by untraced runs (``--trace 0``), per-layer
metrics by traced runs (``--trace 1``). Every run prints every metric of
its kind; a per-layer metric of a layer the workload never calls reads 0,
which is itself the statement that the workload bypasses that layer.
"""

from __future__ import annotations

from typing import NamedTuple


class Metric(NamedTuple):
    name: str
    unit: str
    better: str
    meaning: str
    moves: str = ""  # per-layer only: the end-to-end metric it should move, and where


END_TO_END = (
    Metric("setup_s", "s", "lower",
           "process start until the workload is ready: the once-per-process part "
           "(Python and Spark session, registry import; Postgres start and the "
           "pipeline plan in ingest) plus the median of three runs of the "
           "workload's repeatable engine step (the warm-up scan of every table in "
           "query-mix; the history index build in ingest). The benchmark's own "
           "input generation is left out"),
    Metric("first_pass_s", "s", "lower",
           "the cold first pass in a fresh session, what a one-shot caller pays: "
           "all 15 queries collected (query-mix); the first pipeline run plus the "
           "first drain-and-probe cycle (ingest)"),
    Metric("ops_per_min", "1/min", "higher",
           "completed queries per minute of timed wall time (query-mix); stream "
           "triggers per minute of timed index-cycle time, drains and probes "
           "(ingest). With one closed-loop client, 60 / ops_per_min is the mean "
           "query latency (query-mix)"),
    Metric("items_per_s", "items/s", "higher",
           "work delivered per second: queries per second of timed wall time "
           "(query-mix); rows landed in Postgres per second of timed pipeline-run "
           "time (ingest)"),
    Metric("peak_rss_mb", "MB", "lower",
           "peak resident memory of the Python driver, the driver JVM (1 GB heap "
           "limit, grown on demand) and the Python workers, sampled from /proc "
           "every 0.1 s"),
)

_QM, _ING = "query-mix", "ingest"

PER_LAYER = (
    # session
    Metric("session.get_spark_s", "s", "lower", "get_spark call",
           "setup_s on all workloads"),
    Metric("session.release_persists_s", "s", "lower",
           "release_persists(blocking=True) time per pass (query-mix) or per probe",
           f"ops_per_min on {_QM}"),
    Metric("session.released_frames", "count", "lower",
           "frames release_persists unpersisted, per pass or per probe",
           f"ops_per_min on {_QM}"),
    # plans
    Metric("plans.build_s", "s", "lower", "time inside QuerySpec.builder calls, per pass",
           f"ops_per_min and first_pass_s on {_QM}"),
    Metric("plans.exec_s", "s", "lower", "time in the noop writes, per pass",
           f"ops_per_min on {_QM}"),
    Metric("plans.build_jobs", "count", "lower",
           "Spark jobs started inside builder calls, per pass (exact)",
           f"first_pass_s and ops_per_min on {_QM}"),
    Metric("plans.jobs", "count", "lower", "Spark jobs per pass (exact)",
           f"ops_per_min on {_QM}"),
    Metric("plans.stages", "count", "lower", "Spark stages per pass (exact)",
           f"ops_per_min on {_QM}"),
    Metric("plans.tasks", "count", "lower", "completed tasks per pass (exact)",
           f"ops_per_min on {_QM}"),
    Metric("plans.failed_tasks", "count", "lower", "failed tasks per pass",
           f"ops_per_min on {_QM}"),
    Metric("plans.executor_run_s", "s", "lower",
           "executor run time per pass, event log", f"ops_per_min on {_QM}"),
    Metric("plans.executor_cpu_s", "s", "lower",
           "executor CPU time per pass, event log", f"ops_per_min on {_QM}"),
    Metric("plans.gc_s", "s", "lower", "JVM GC time in tasks per pass, event log",
           f"ops_per_min on {_QM}"),
    Metric("plans.shuffle_read_bytes", "bytes", "lower", "per pass, event log",
           f"ops_per_min on {_QM}"),
    Metric("plans.shuffle_write_bytes", "bytes", "lower", "per pass, event log",
           f"ops_per_min on {_QM}"),
    Metric("plans.spill_bytes", "bytes", "lower", "memory+disk spill per pass, event log",
           f"ops_per_min and peak_rss_mb on {_QM}"),
    # catalog
    Metric("catalog.warm_scan_s", "s", "lower",
           "set-up touch of every corpus table (read_table + noop write), median "
           "of three",
           f"setup_s on {_QM}"),
    # sources.paginated
    Metric("paginated.scan_s", "s", "lower",
           "the paginated_table scans alone, written to noop, median",
           f"items_per_s on {_ING}"),
    Metric("paginated.partitions", "count", "higher", "scan tasks (one per page range)",
           f"items_per_s on {_ING}"),
    Metric("paginated.rows", "count", "higher", "rows the scans produce",
           f"items_per_s on {_ING}"),
    # operators.enrich
    Metric("enrich.s", "s", "lower",
           "scan+clean+dedup+enrich to noop minus the scan alone, medians",
           f"items_per_s and first_pass_s on {_ING}"),
    Metric("enrich.service_calls", "count", "lower", "geocoder calls per pipeline run (exact)",
           f"items_per_s and first_pass_s on {_ING}"),
    Metric("enrich.retries", "count", "lower", "calls that repeat an earlier failed call",
           f"items_per_s and first_pass_s on {_ING}"),
    Metric("enrich.exhausted", "count", "lower", "rows whose retry budget ran out (NULL)",
           f"items_per_s on {_ING}"),
    Metric("enrich.calls_per_guarded_row", "ratio", "lower",
           "service calls per useful outcome (guarded row that got coordinates)",
           f"items_per_s and first_pass_s on {_ING}"),
    # sources.pg_wire
    Metric("pg_wire.write_s", "s", "lower",
           "write_postgres_wire call (the whole pipeline runs inside it), median",
           f"items_per_s and first_pass_s on {_ING}"),
    Metric("pg_wire.rows", "count", "higher", "rows in the table after a run",
           f"items_per_s on {_ING}"),
    Metric("pg_wire.insert_batches", "count", "lower",
           "INSERT statements per run (pg_stat_database commits minus session "
           "start-ups and the two DDL statements; exact)",
           f"items_per_s on {_ING}"),
    Metric("pg_wire.connections", "count", "lower", "Postgres sessions per run",
           f"items_per_s and peak_rss_mb on {_ING}"),
    # sources.dedup_index
    Metric("dedup_index.build_s", "s", "lower",
           "persist_minhash_index over the history, in set-up, median of three",
           f"setup_s on {_ING}"),
    Metric("dedup_index.probe_s", "s", "lower",
           "load_minhash_index + minhash_near_dup_pairs probe of one arriving batch, median",
           f"ops_per_min on {_ING}"),
    Metric("dedup_index.files", "count", "lower",
           "parquet files of the grown index after the drain (directory listing)",
           f"ops_per_min on {_ING}"),
    Metric("dedup_index.bytes", "bytes", "lower",
           "bytes of the grown index after the drain (directory listing)",
           f"ops_per_min on {_ING}"),
    # streaming
    Metric("streaming.triggers", "count", "higher",
           "triggers that appended a file, timed window (recentProgress; exact)",
           f"ops_per_min on {_ING}"),
    Metric("streaming.trigger_p50_s", "s", "lower",
           "median triggerExecution (recentProgress)", f"ops_per_min on {_ING}"),
    Metric("streaming.add_batch_p50_s", "s", "lower",
           "median addBatch: the index append inside the trigger (recentProgress)",
           f"ops_per_min on {_ING}"),
    Metric("streaming.wal_commit_p50_s", "s", "lower",
           "median walCommit (recentProgress)", f"ops_per_min on {_ING}"),
)

#: Layers whose self time (span duration minus child spans) a traced run
#: reports as ``<layer>.self_s``. ``bench`` is the harness's own op spans.
LAYERS = ("session", "plans", "catalog", "paginated", "enrich", "pg_wire",
          "dedup_index", "streaming", "bench")

PER_LAYER = PER_LAYER + tuple(
    Metric(f"{layer}.self_s", "s", "lower",
           f"self time of the {layer} spans in the run (duration minus child spans)",
           "the layer's other metrics")
    for layer in LAYERS
)
