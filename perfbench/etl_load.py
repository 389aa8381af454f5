"""The reference pipeline, paginated source to Postgres (``ingest`` workload).

One pipeline run is one operation and runs, as one Spark plan:

1. two scans of the ``paginated_table`` source (``SyntheticShopFetcher``):
   the full shop table and an overlapping first half, like the
   reference's two category pages;
2. sentinel classification and ``cleaning.nullify_sentinels``;
3. full-row ``dropDuplicates``;
4. ``enrich_with_service`` on the ``"No disponible"`` rows, with a
   geocoder the benchmark owns: deterministic coordinates, and a seeded
   share of calls that fail transiently so the retry/backoff path runs;
5. ``cleaning.split_latlng`` and ``write_postgres_wire`` (overwrite,
   5,000-row INSERT batches) into a throwaway Postgres server.

Checks, outside the timed operations: every run must land exactly the
expected row count and make exactly the geocoder calls the failure
schedule implies, and the first and last runs must match a DuckDB
mirror of the source, the cleaning and the geocoder (an MD5 over the
sorted rows, computed by Postgres and by DuckDB).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import harness
from pg import PgServer

N_ROWS = 50_000
SMALL_N_ROWS = 4_000
ROWS_PER_PAGE = 250
TABLE = "shops"
BATCH_ROWS = 5_000
#: Geocoder failure schedule: a call fails when md5(seed:attempt:query)
#: falls under this share (per mille). With 4 attempts a row is
#: exhausted with probability 0.15^4 = 0.05%.
FAIL_PER_MILLE = 150
MAX_ATTEMPTS = 4
BACKOFF_S = 0.0005
#: Layer-isolation runs per traced run (scan alone, scan through enrich).
ISOLATION_RUNS = 2


def _fails(seed: int, attempt: int, query: str) -> bool:
    h = int(hashlib.md5(f"{seed}:{attempt}:{query}".encode()).hexdigest()[:8], 16)
    return h % 1000 < FAIL_PER_MILLE


class FlakyGeocoder:
    """The enrichment service: ``deterministic_geocoder`` behind a seeded
    transient-failure schedule. Counts calls, failures, first calls and
    exhausted rows in Spark accumulators (added up from the Python
    workers).

    The retry loop calls the service again with the same query after a
    failure, so the attempt number is the run of consecutive failed
    calls for this query; it resets on success and after the last
    attempt."""

    def __init__(self, seed: int, counters: dict):
        self.seed = seed
        self.counters = counters
        self._query = None
        self._attempt = 0

    def __call__(self, query: str) -> str:
        from etl_project_spark.operators.enrich import deterministic_geocoder

        c = self.counters
        if query == self._query:
            self._attempt += 1
        else:
            self._query, self._attempt = query, 0
            c["rows"].add(1)
        c["calls"].add(1)
        if _fails(self.seed, self._attempt, query):
            c["failures"].add(1)
            if self._attempt == MAX_ATTEMPTS - 1:
                c["exhausted"].add(1)
                self._query = None
            raise ConnectionError("transient geocoder failure")
        self._query = None
        return deterministic_geocoder(query)


def _mirror_sql(n_rows: int, seed: int) -> str:
    """DuckDB mirror of the loaded table, rows as digest lines."""
    fail = " AND ".join(
        f"CAST(('0x' || substr(md5('{seed}:{a}:' || q), 1, 8)) AS BIGINT) % 1000 "
        f"< {FAIL_PER_MILLE}"
        for a in range(MAX_ATTEMPTS)
    )
    first_ok = " ".join(
        f"WHEN NOT CAST(('0x' || substr(md5('{seed}:{a}:' || q), 1, 8)) AS BIGINT) "
        f"% 1000 < {FAIL_PER_MILLE} THEN {a + 1}"
        for a in range(MAX_ATTEMPTS - 1)
    )
    return f"""
WITH src AS (
  SELECT 'Shop ' || lpad(CAST(i AS VARCHAR), 5, '0') AS shop,
         (i * 2654435761) % 4294967296 AS h
  FROM generate_series(0, {n_rows - 1}) t(i)
), rows_ AS (
  SELECT shop,
         'Street ' || CAST(h % 5000 AS VARCHAR) || ' No. ' || CAST(h % 900 + 100 AS VARCHAR) AS direccion,
         'Locality ' || CAST(h % 50 AS VARCHAR) AS localidad,
         CASE WHEN h % 10 < 7 THEN 'packed' WHEN h % 10 < 8 THEN 'regex_miss'
              ELSE 'no_button' END AS coord_status,
         ROUND(-34.0 - (h % 1000) / 1000.0, 6) AS src_lat,
         ROUND(-58.0 - (h % 997) / 997.0, 6) AS src_lng
  FROM src
), q AS (
  SELECT *, direccion || ', ' || localidad || ', ARGENTINA' AS q FROM rows_
), geo AS (
  SELECT *,
         CAST(('0x' || substr(md5(q), 1, 8)) AS BIGINT) AS gh,
         coord_status = 'no_button' AND {fail} AS exhausted,
         CASE WHEN coord_status <> 'no_button' THEN 0 {first_ok} ELSE {MAX_ATTEMPTS} END
           AS calls
  FROM q
), out AS (
  SELECT shop, direccion, localidad, coord_status, calls,
         CASE WHEN coord_status = 'packed' THEN src_lat
              WHEN coord_status = 'no_button' AND NOT exhausted
                THEN ROUND(gh % 18000 / 100.0 - 90.0, 2) END AS lat,
         CASE WHEN coord_status = 'packed' THEN src_lng
              WHEN coord_status = 'no_button' AND NOT exhausted
                THEN ROUND(gh % 36000 / 100.0 - 180.0, 2) END AS lng,
         coord_status = 'no_button' AS was_enriched
  FROM geo
)
"""


#: One digest line per row; the same expression text runs in Postgres
#: and DuckDB. Coordinates are compared in micro-degrees, as integers.
_LINE = ("concat_ws('|', shop, direccion, localidad, coord_status, "
         "coalesce(CAST(CAST(round(lat * 1000000) AS BIGINT) AS VARCHAR), '-'), "
         "coalesce(CAST(CAST(round(lng * 1000000) AS BIGINT) AS VARCHAR), '-'), "
         "CASE WHEN was_enriched THEN 't' ELSE 'f' END)")
_DIGEST = f"SELECT count(*), md5(string_agg({_LINE}, chr(10) ORDER BY shop))"


def _expected(n_rows: int, seed: int) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        count, digest, calls, exhausted = con.execute(
            f"{_mirror_sql(n_rows, seed)} {_DIGEST}, sum(calls), "
            "count(*) FILTER (WHERE was_enriched AND lat IS NULL) FROM out"
        ).fetchone()
    finally:
        con.close()
    return {"rows": int(count), "digest": digest, "calls": int(calls),
            "exhausted": int(exhausted)}


def _pipeline(spark, n_rows: int, cpus: int, service):
    """(raw scan frame, frame through enrichment, output frame)."""
    from pyspark.sql import functions as F

    from etl_project_spark.cleaning import nullify_sentinels, split_latlng
    from etl_project_spark.operators.enrich import enrich_with_service
    from etl_project_spark.sources.paginated import register_paginated_source

    register_paginated_source(spark)

    def scan(n: int):
        return (spark.read.format("paginated_table")
                .option("n_rows", n).option("rows_per_page", ROWS_PER_PAGE)
                .option("max_concurrency", cpus).load())

    raw = scan(n_rows).unionByName(scan(n_rows // 2))
    status = (F.when(F.col("Localizar") == "No disponible", "no_button")
              .when(F.col("Localizar") == "", "regex_miss").otherwise("packed"))
    clean = nullify_sentinels(raw.withColumn("coord_status", status), ["Localizar"])
    deduped = clean.dropDuplicates().withColumn(
        "__q", F.concat_ws(", ", "Dirección", "Localidad", F.lit("ARGENTINA"))
    ).withColumn("needs_geo", F.col("coord_status") == "no_button")
    enriched = enrich_with_service(
        deduped, "__q", "geo", service, guard_col="needs_geo",
        max_attempts=MAX_ATTEMPTS, base_timeout_s=BACKOFF_S,
    )
    lat, lng = split_latlng(F.coalesce("Localizar", "geo"))
    out = enriched.select(
        F.col("Comercio").alias("shop"), F.col("Dirección").alias("direccion"),
        F.col("Localidad").alias("localidad"), "coord_status",
        lat.alias("lat"), lng.alias("lng"), F.col("needs_geo").alias("was_enriched"),
    )
    return raw, enriched, out


class EtlLoad:
    """Pipeline runs against one Postgres server, within one run of the
    benchmark. ``__init__`` is the once-per-process set-up: the server
    and the pipeline's plan."""

    def __init__(self, ctx):
        from pyspark import cloudpickle

        # Python workers cannot import this module; ship the geocoder by value.
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        self.ctx = ctx
        self.n_rows = SMALL_N_ROWS if ctx.args.small else N_ROWS
        self.pg = PgServer(os.path.join(ctx.work, "pg"))
        ctx.cleanups.append(self.pg.stop)
        self.pg.start()
        ctx.rss.exclude.add(self.pg.pid)
        sc = ctx.spark.sparkContext
        self.acc = {k: sc.accumulator(0) for k in ("calls", "failures", "rows", "exhausted")}
        self.runs: list[dict] = []
        self.expected: dict = {}
        service = FlakyGeocoder(ctx.seed, self.acc)
        self.raw, self.enriched, self.out = _pipeline(
            ctx.spark, self.n_rows, ctx.cpus, service)

    def _digest(self, what: str) -> None:
        count, md5 = self.pg.query(f"{_DIGEST} FROM {TABLE}")[0]
        want = (self.expected["rows"], self.expected["digest"])
        if (int(count), md5) != want:
            self.ctx.fail(f"{what}: Postgres digest {(count, md5)} != mirror {want}")

    def run_once(self, timed: bool) -> dict:
        """One pipeline run plus its cheap checks; returns its record."""
        from etl_project_spark.sources.pg_wire import write_postgres_wire

        ctx, pg, acc = self.ctx, self.pg, self.acc
        ctx.attempted += 1
        before = {k: a.value for k, a in acc.items()}
        stats0 = pg.sink_stats() if ctx.trace else None
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.pipeline", timed=timed):
            with ctx.tracer.span("pg_wire.write", tag=True) as w:
                write_postgres_wire(self.out, **pg.conn_kwargs(), table=TABLE,
                                    mode="overwrite", batch_rows=BATCH_ROWS)
        rec = {"latency": time.perf_counter() - t0,
               **{k: a.value - before[k] for k, a in acc.items()}}
        if ctx.trace:
            stats1 = pg.sink_stats()
            delta = {k: stats1[k] - stats0[k] for k in stats1}
            rec.update(work=ctx.op_work(w), sessions=delta["sessions"],
                       # every session opens with one catalog transaction;
                       # overwrite mode adds DROP TABLE and CREATE TABLE
                       batches=delta["commits"] - delta["sessions"] - 2)
        if ctx.args.corrupt and not timed:
            pg.query(f"DELETE FROM {TABLE} WHERE shop = (SELECT min(shop) FROM {TABLE})")
        rec["landed"] = int(pg.query(f"SELECT count(*) FROM {TABLE}")[0][0])
        if rec["landed"] != self.expected["rows"]:
            ctx.fail(f"run landed {rec['landed']} rows, expected {self.expected['rows']}")
        elif rec["calls"] != self.expected["calls"]:
            ctx.fail(f"geocoder called {rec['calls']} times, "
                     f"expected {self.expected['calls']}")
        if timed:
            self.runs.append(rec)
        return rec

    def first(self) -> float:
        """The expected result (DuckDB mirror), then the cold first run
        and its full check; returns the run's latency."""
        self.expected = _expected(self.n_rows, self.ctx.seed)
        rec = self.run_once(timed=False)
        self._digest("first run")
        return rec["latency"]

    def finish(self) -> None:
        """After the window: the full check of the last run, and (traced
        runs) the layer metrics, with layer-isolation runs."""
        ctx, tracer, runs = self.ctx, self.ctx.tracer, self.runs
        if runs:
            self._digest("last run")
        ctx.detail["etl"] = {"expected": self.expected,
                             "op_latencies_s": [r["latency"] for r in runs]}
        if not ctx.trace or not runs:
            return
        last = runs[-1]
        ctx.layer.update({
            "pg_wire.write_s": harness.median([r["latency"] for r in runs]),
            "pg_wire.rows": last["landed"],
            "pg_wire.insert_batches": last["batches"],
            "pg_wire.connections": last["sessions"],
            "enrich.service_calls": last["calls"],
            "enrich.retries": last["calls"] - last["rows"],
            "enrich.exhausted": last["exhausted"],
            "enrich.calls_per_guarded_row":
                last["calls"] / max(1, last["rows"] - last["exhausted"]),
        })
        ctx.detail["etl"]["run_work"] = [r["work"] for r in runs]

        # Layer isolation, after the window: the scans alone, and the plan
        # up to and including enrichment, each written to noop.
        scan_s, enrich_s = [], []
        for _ in range(ISOLATION_RUNS):
            with tracer.span("paginated.scan", tag=True) as s:
                t0 = time.perf_counter()
                self.raw.write.format("noop").mode("overwrite").save()
                scan_s.append(time.perf_counter() - t0)
            with tracer.span("enrich.through", tag=True):
                t0 = time.perf_counter()
                self.enriched.write.format("noop").mode("overwrite").save()
                enrich_s.append(time.perf_counter() - t0)
        scan, through = harness.median(scan_s), harness.median(enrich_s)
        ctx.layer.update({
            "paginated.scan_s": scan,
            "paginated.partitions": ctx.op_work(s)["tasks"],
            "paginated.rows": self.raw.count(),
            "enrich.s": through - scan,
        })
        # The whole plan runs inside write_postgres_wire; split one run's
        # time with the isolation runs: scans, enrichment on top, the sink.
        ctx.detail.setdefault("self_s", {}).update({
            "paginated.self_s": scan, "enrich.self_s": through - scan,
            "pg_wire.self_s": ctx.layer["pg_wire.write_s"] - through})
