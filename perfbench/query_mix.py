"""``query-mix``: passes over 15 oracle-backed registry queries.

One operation is ``QuerySpec.builder`` + ``write.format("noop")`` +
``release_persists(blocking=True)``. The seed decides the query order of
every pass. The corpus is generated once per run with a fixed corpus
seed, so the work counters do not depend on ``--seed``.

The cold first pass collects each query and compares it with its DuckDB
oracle (``tests/oracle.py``); that pass is ``first_pass_s``. The timed
window then runs whole passes until ``--seconds`` have elapsed. A pass
takes longer than the benchmark's ``run_seconds`` on a 4-core host, so
every run times one pass of all 15 queries: a window that ran two
passes in some runs would read faster in those, by the warmer second
pass and the larger sample.
"""

from __future__ import annotations

import os
import random
import time

import corpus
import harness

QUERIES = (
    "pipeline_flagship",
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q_window_top3_orders_per_customer",
    "q_sessionize_users",
    "q_asof_last_order_before_event",
    "q_copurchase_association_rules",
    "q_monthly_cohort_retention",
    "q_max_concurrent_open_orders",
    "q_training_corpus_pipeline",
    "q_bm25_query_scores",
    "q_simhash_near_dup_pairs",
    "q_pagerank_order_graph",
    "q_kcore_trading_graph",
)
#: Driver corpus scale factor the benchmark generates (lineitem = 60k rows).
SCALE = 0.01
SMALL_SCALE = 0.002
CORPUS_SEED = 42


class _Collected:
    """Adapter: ``oracle.compare`` takes a frame with ``toPandas``."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def run(ctx) -> None:
    from tests.oracle import compare, run_oracle

    from etl_project_spark.catalog import TABLES, read_table
    from etl_project_spark.plans.registry import all_specs
    from etl_project_spark.session import release_persists

    spark, tracer = ctx.spark, ctx.tracer
    specs = all_specs()
    ctx.setup_done()

    sf_dir = os.path.join(ctx.work, "corpus")
    scale = SMALL_SCALE if ctx.args.small else SCALE
    t0 = time.perf_counter()
    corpus.write_corpus(sf_dir, scale=scale, seed=CORPUS_SEED)
    ctx.detail["inputs_s"] = time.perf_counter() - t0

    def warm_scan():
        for name in TABLES:
            with tracer.span("catalog.warm_scan", tag=True, table=name):
                read_table(spark, sf_dir, name).write.format("noop").mode("overwrite").save()

    ctx.layer["catalog.warm_scan_s"] = ctx.repeat_setup(warm_scan)
    expected = {q: run_oracle(specs[q].oracle, sf_dir) for q in QUERIES}
    rng = random.Random(ctx.seed)

    # Cold first pass: collect and check every query.
    first_pass = 0.0
    for q in rng.sample(QUERIES, len(QUERIES)):
        ctx.attempted += 1
        try:
            t0 = time.perf_counter()
            with tracer.span("bench.first_pass_query", query=q):
                with tracer.span("plans.build", tag=True, query=q):
                    df = specs[q].builder(spark, sf_dir)
                with tracer.span("plans.collect", tag=True, query=q):
                    pdf = df.toPandas()
                with tracer.span("session.release_persists"):
                    release_persists(blocking=True)
            first_pass += time.perf_counter() - t0
        except Exception as e:  # an operation that raises is a failed operation
            ctx.fail(f"{q}: {type(e).__name__}: {e}")
            continue
        if ctx.args.corrupt and q == "q01_pricing_summary":
            pdf = pdf.iloc[1:]
        problems = compare(_Collected(pdf), expected[q])
        if problems:
            ctx.fail(f"{q}: oracle mismatch: {problems[0]}")

    # Timed window: whole passes, closed loop.
    latencies: list[float] = []
    build_s = exec_s = release_s = 0.0
    released = 0
    work: dict[str, int] = {}
    build_jobs = 0
    per_query_work: dict[str, dict] = {}
    passes = 0
    ctx.calib_before()
    t_start = time.perf_counter()
    while passes == 0 or time.perf_counter() - t_start < ctx.seconds:
        for q in rng.sample(QUERIES, len(QUERIES)):
            ctx.attempted += 1
            try:
                t0 = time.perf_counter()
                with tracer.span("bench.query", query=q, timed=True):
                    with tracer.span("plans.build", tag=True, query=q) as b:
                        df = specs[q].builder(spark, sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("plans.exec", tag=True, query=q) as x:
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    with tracer.span("session.release_persists"):
                        released += release_persists(blocking=True)
                t3 = time.perf_counter()
            except Exception as e:
                ctx.fail(f"{q}: {type(e).__name__}: {e}")
                continue
            latencies.append(t3 - t0)
            build_s += t1 - t0
            exec_s += t2 - t1
            release_s += t3 - t2
            if ctx.trace:
                bw, xw = ctx.op_work(b), ctx.op_work(x)
                build_jobs += bw["jobs"]
                harness.add_work(work, bw)
                harness.add_work(work, xw)
                if passes == 0:
                    per_query_work[q] = {"build_jobs": bw["jobs"],
                                         **{k: bw[k] + xw[k] for k in bw}}
        passes += 1
    wall = time.perf_counter() - t_start
    ctx.calib_after()

    ctx.e2e.update({
        "first_pass_s": first_pass,
        "ops_per_min": len(latencies) / wall * 60.0,
        "items_per_s": len(latencies) / wall,
    })
    ctx.detail.update({"timed_units": passes, "timed_ops": len(latencies),
                       "op_latencies_s": latencies,
                       "timed_wall_s": wall, "per_query_work": per_query_work})
    ctx.layer.update({
        "session.release_persists_s": release_s / passes,
        "session.released_frames": released / passes,
        "plans.build_s": build_s / passes,
        "plans.exec_s": exec_s / passes,
        "plans.build_jobs": build_jobs / passes,
        **{f"plans.{k}": v / passes for k, v in work.items()},
    })
