"""``ingest``: the reference ETL pipeline and incremental index maintenance.

Both ingestion paths share one process (see ``etl_load.py`` and
``index_ingest.py`` for each). The timed window runs rounds until
``--seconds`` have elapsed, and at least ``MIN_ROUNDS``; a round is
``RUNS_PER_ROUND`` pipeline runs (paginated scan to Postgres) followed
by one index cycle (a stream drain of three files, one trigger each,
then a probe). The operations are the pipeline runs and the stream
triggers.

The two rates each read one half, over that half's own share of the
window, so a change in one half does not hide in the other:

- pipeline: ``items_per_s`` is rows landed in Postgres per second of
  timed pipeline-run time;
- index: ``ops_per_min`` is stream triggers per minute of timed cycle
  time (the drains and the probes).

``first_pass_s`` is the cold pass of both halves, the first pipeline
run plus the first cycle, as a one-shot caller pays it. The cold
pipeline run alone (in the detail line, ``first_run_s``) spread by a
quarter of its median over ten seeds on a shared 4-core host; the
longer sum spread less.
"""

from __future__ import annotations

import time

from etl_load import EtlLoad
from index_ingest import FILES_PER_CYCLE, IndexIngest

#: Pipeline runs per round: a run takes about a third of a cycle, so two
#: runs give the pipeline half a comparable share of the window.
RUNS_PER_ROUND = 2
#: Rounds the window runs at least. Two rounds take longer than the
#: benchmark's ``run_seconds`` on a 4-core host, so every run times the
#: same operations; a window that sometimes ends after one round and
#: sometimes after two would spread the metrics by its operation count.
MIN_ROUNDS = 2


def _guarded(ctx, what: str, fn, n_ops: int):
    """Run ``fn``; an exception fails its ``n_ops`` operations."""
    try:
        return fn()
    except Exception as e:  # an operation that raises is a failed operation
        ctx.fail(f"{what}: {type(e).__name__}: {e}", n_ops)
        return None


def run(ctx) -> None:
    etl = EtlLoad(ctx)
    idx = IndexIngest(ctx)
    ctx.setup_done()
    t0 = time.perf_counter()
    idx.prepare()
    ctx.detail["inputs_s"] = time.perf_counter() - t0
    ctx.layer["dedup_index.build_s"] = ctx.repeat_setup(idx.build)

    first_run = _guarded(ctx, "first pipeline run", etl.first, 1)
    ctx.mark("first_run")
    first_cycle = _guarded(ctx, "first cycle", idx.first, FILES_PER_CYCLE + 1)
    ctx.e2e["first_pass_s"] = (first_run or 0.0) + (first_cycle or 0.0)
    ctx.detail.update({"first_run_s": first_run, "first_cycle_s": first_cycle})

    ctx.calib_before()
    rounds = 0
    t_start = time.perf_counter()
    while rounds < MIN_ROUNDS or time.perf_counter() - t_start < ctx.seconds:
        for _ in range(RUNS_PER_ROUND):
            _guarded(ctx, "pipeline run", lambda: etl.run_once(timed=True), 1)
        if _guarded(ctx, "cycle", idx.next_cycle, FILES_PER_CYCLE + 1) is None:
            break  # arriving files used up (or the cycle failed)
        rounds += 1
    wall = time.perf_counter() - t_start
    ctx.calib_after()
    etl.finish()
    idx.finish()

    pipeline_s = sum(r["latency"] for r in etl.runs)
    cycle_s = sum(c["cycle_s"] for c in idx.cycles)
    triggers = len(idx.triggers())
    ctx.e2e.update({
        "ops_per_min": triggers / cycle_s * 60.0 if cycle_s else 0.0,
        "items_per_s": sum(r["landed"] for r in etl.runs) / pipeline_s if pipeline_s else 0.0,
    })
    ctx.detail.update({"timed_units": max(1, rounds),
                       "timed_ops": len(etl.runs) + triggers,
                       "timed_wall_s": wall, "pipeline_s": pipeline_s, "cycle_s": cycle_s})
