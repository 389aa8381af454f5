"""Incremental MinHash index maintenance (``ingest`` workload).

Set-up writes the history and the arriving documents as parquet files,
one directory per cycle, then builds the history index with
``persist_minhash_index(docs=history)``, three times (``setup_s`` counts
the median build; the stream grows the last one). The seed decides
which documents arrive and which history documents get a planted clone
in the arriving batch (a prefix-insertion copy, id + 50,000,000, the
``q_minhash_batch_probe_pairs`` convention), so every cycle has known
near-duplicate pairs.

A cycle is an ``availableNow`` drain of its directory through
``stream_minhash_index_append`` with ``maxFilesPerTrigger=1`` (one
operation per trigger, one file per trigger), then one probe of the
cycle's documents against the grown index (``load_minhash_index`` +
``minhash_near_dup_pairs(signed=..., probe_ids=...)``). The first cycle
is the cold pass.

Checks, outside the timed window: every probe finds every planted pair
of its cycle, and after the window the grown index has the same MD5
(over its sorted rows, computed by DuckDB from the parquet files) as a
one-shot build over the history plus everything that arrived.
"""

from __future__ import annotations

import os
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import corpus
import harness

N_DOCS = 800
CORPUS_SEED = 42
#: Every document has the same word count, so which documents the seed
#: picks to arrive does not change how much work a trigger does.
WORDS_PER_DOC = (50, 50)
MAX_CYCLES = 4  # cold cycle + up to 3 timed
FILES_PER_CYCLE = 3
DOCS_PER_FILE = 15
CLONES_PER_FILE = 4
CLONE_OFFSET = 50_000_000
CLONE_PREFIX = "INSERTED PREFIX BYTES SHIFT EVERYTHING "
#: Index and probe parameters (q_minhash_batch_probe_pairs' settings).
INDEX_KW = {"n_hashes": 64, "shingle_k": 3, "use_token_ngrams": True}
PROBE_KW = {"n_hashes": 64, "bands": 32, "shingle_k": 3, "threshold": 0.5,
            "use_token_ngrams": True, "prefilter": False}


def _arrivals(docs: pa.Table, seed: int, n_cycles: int):
    """(history table, [per-cycle list of file tables], [per-cycle planted pairs])."""
    rng = np.random.default_rng(seed)
    n = docs.num_rows
    per_cycle = FILES_PER_CYCLE * DOCS_PER_FILE
    order = rng.permutation(n)
    arriving = order[: n_cycles * per_cycle]
    history_idx = np.sort(order[n_cycles * per_cycle:])
    history = docs.take(pa.array(history_idx))
    cloned = rng.choice(history_idx, n_cycles * FILES_PER_CYCLE * CLONES_PER_FILE,
                        replace=False)
    cycles, planted = [], []
    for c in range(n_cycles):
        files, pairs = [], []
        for f in range(FILES_PER_CYCLE):
            k = c * FILES_PER_CYCLE + f
            part = docs.take(pa.array(np.sort(
                arriving[k * DOCS_PER_FILE:(k + 1) * DOCS_PER_FILE])))
            src = docs.take(pa.array(np.sort(
                cloned[k * CLONES_PER_FILE:(k + 1) * CLONES_PER_FILE])))
            texts = [CLONE_PREFIX + t for t in src.column("text").to_pylist()]
            clones = pa.table({
                "doc_id": pc.add(src.column("doc_id"), CLONE_OFFSET),
                "text": texts,
                "lang": src.column("lang"),
                "source": src.column("source"),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            })
            files.append(pa.concat_tables([part, clones]))
            pairs += [(i, i + CLONE_OFFSET) for i in src.column("doc_id").to_pylist()]
        cycles.append(files)
        planted.append(set(pairs))
    return history, cycles, planted


def _frame_md5(path: str) -> str:
    """MD5 over the sorted rows of every parquet file under ``path``."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT md5(string_agg(r, chr(10) ORDER BY r)) FROM "
            f"(SELECT CAST(t AS VARCHAR) AS r FROM read_parquet('{path}/**/*.parquet') t)"
        ).fetchone()[0]
    finally:
        con.close()


def _dir_size(paths) -> tuple[int, int]:
    files = size = 0
    for p in paths:
        for root, _dirs, names in os.walk(p):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return files, size


def _progress(q) -> list[dict]:
    """Triggers that processed input, from ``StreamingQuery.recentProgress``."""
    out = []
    for p in q.recentProgress:
        if p["numInputRows"] > 0:
            d = p["durationMs"]
            out.append({"start": datetime.fromisoformat(p["timestamp"]).timestamp(),
                        "trigger_s": d["triggerExecution"] / 1e3,
                        "add_batch_s": d.get("addBatch", 0) / 1e3,
                        "wal_commit_s": d.get("walCommit", 0) / 1e3})
    return out


class IndexIngest:
    """Cycles against one growing index, within one run of the benchmark.
    ``prepare`` writes the inputs, ``build`` builds the history index."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.base = os.path.join(ctx.work, "index")
        self.n_built = 0
        self.cycles: list[dict] = []
        self.arrived: list[str] = []

    def prepare(self) -> None:
        """The inputs: the history file and the arriving files."""
        history, cycles, self.planted = _arrivals(
            corpus.documents(N_DOCS, CORPUS_SEED, WORDS_PER_DOC),
            self.ctx.seed, MAX_CYCLES)
        os.makedirs(self.base)
        self.hist_path = os.path.join(self.base, "history.parquet")
        pq.write_table(history, self.hist_path)
        self.dirs = []
        for c, files in enumerate(cycles):
            d = os.path.join(self.base, "arriving", f"cycle{c}")
            os.makedirs(d)
            for f, table in enumerate(files):
                pq.write_table(table, os.path.join(d, f"part-{f:03d}.parquet"))
            self.dirs.append(d)

    def build(self) -> None:
        """Build the history index, each call into a new directory; the
        stream grows the last one built."""
        from etl_project_spark.sources.dedup_index import persist_minhash_index

        ctx = self.ctx
        self.n_built += 1
        with ctx.tracer.span("dedup_index.build", tag=True):
            self.idx = persist_minhash_index(
                ctx.spark, self.base, path=os.path.join(self.base, f"index{self.n_built}"),
                register=False, docs=ctx.spark.read.parquet(self.hist_path), **INDEX_KW)

    def cycle(self, c: int, timed: bool) -> dict:
        """Drain cycle ``c`` through the stream, then probe its documents."""
        from pyspark.sql import functions as F

        from etl_project_spark.operators.dedup import minhash_near_dup_pairs
        from etl_project_spark.session import release_persists
        from etl_project_spark.sources.dedup_index import load_minhash_index
        from etl_project_spark.streaming.dedup import stream_minhash_index_append

        ctx, spark, tracer = self.ctx, self.ctx.spark, self.ctx.tracer
        ctx.attempted += FILES_PER_CYCLE + 1
        t0 = time.perf_counter()
        with tracer.span("bench.cycle", cycle=c, timed=timed):
            with tracer.span("streaming.drain", tag=True) as drain:
                stream = (spark.readStream.schema(spark.read.parquet(self.hist_path).schema)
                          .option("maxFilesPerTrigger", 1).parquet(self.dirs[c]))
                q = stream_minhash_index_append(
                    stream, self.idx, checkpoint=os.path.join(self.base, "ckpt", f"cycle{c}"))
                drain["stream_run"] = str(q.runId)
                if not q.awaitTermination(120):
                    q.stop()
                    raise TimeoutError(f"cycle {c} did not drain in 120 s")
            t1 = time.perf_counter()
            self.arrived.append(self.dirs[c])
            with tracer.span("dedup_index.probe", tag=True):
                docs = spark.read.parquet(self.hist_path, *self.arrived)
                batch = spark.read.parquet(self.dirs[c]).select(F.col("doc_id").alias("_id"))
                pairs = minhash_near_dup_pairs(
                    docs, "doc_id", "text", signed=load_minhash_index(spark, self.idx),
                    probe_ids=batch, **PROBE_KW).select("id_a", "id_b").collect()
                with tracer.span("session.release_persists"):
                    released = release_persists(blocking=True)
        t2 = time.perf_counter()
        progress = _progress(q)
        if ctx.trace:
            # The engine's own trigger timings, as spans under the drain:
            # each trigger, and the index append (addBatch) inside it.
            for i, p in enumerate(progress):
                trig = {"id": f"{drain['id']}-t{i}", "name": "streaming.trigger",
                        "parent": drain["id"], "run": tracer.run_id,
                        "start": p["start"], "end": p["start"] + p["trigger_s"]}
                tracer.spans += [trig, {
                    "id": trig["id"] + "-a", "name": "dedup_index.append",
                    "parent": trig["id"], "run": tracer.run_id,
                    "start": p["start"], "end": p["start"] + p["add_batch_s"]}]
        found = {(r.id_a, r.id_b) for r in pairs}
        if ctx.args.corrupt and not timed:
            found.discard(min(self.planted[c]))
        missing = self.planted[c] - found
        if missing:
            ctx.fail(f"cycle {c}: probe missed {len(missing)} planted pairs")
        rec = {"drain_s": t1 - t0, "probe_s": t2 - t1, "cycle_s": t2 - t0,
               "progress": progress, "released": released,
               "docs": FILES_PER_CYCLE * (DOCS_PER_FILE + CLONES_PER_FILE),
               "extra_pairs": len(found - self.planted[c])}
        if timed:
            self.cycles.append(rec)
        return rec

    def first(self) -> float:
        return self.cycle(0, timed=False)["cycle_s"]

    def next_cycle(self) -> dict | None:
        """The next timed cycle, or None when the arriving files ran out."""
        c = len(self.arrived)
        return self.cycle(c, timed=True) if c < MAX_CYCLES else None

    def finish(self) -> None:
        """The grown index must equal a one-shot build over everything it
        holds; then (traced runs) the layer metrics."""
        from etl_project_spark.sources.dedup_index import persist_minhash_index

        ctx, idx, cycles = self.ctx, self.idx, self.cycles
        grown = (_frame_md5(idx.sig_path), _frame_md5(idx.rows_path))
        files, size = _dir_size([idx.sig_path, idx.rows_path])
        oneshot = persist_minhash_index(
            ctx.spark, self.base, path=os.path.join(self.base, "oneshot"), register=False,
            docs=ctx.spark.read.parquet(self.hist_path, *self.arrived), **INDEX_KW)
        if grown != (_frame_md5(oneshot.sig_path), _frame_md5(oneshot.rows_path)):
            ctx.fail("grown index differs from a one-shot build",
                     len(self.arrived) * FILES_PER_CYCLE)
        triggers = self.triggers()
        ctx.detail["index"] = {
            "trigger_s": [p["trigger_s"] for p in triggers],
            "probe_s": [c["probe_s"] for c in cycles],
            "extra_pairs": [c["extra_pairs"] for c in cycles],
        }
        if not ctx.trace or not cycles:
            return
        n = len(cycles)
        ctx.layer.update({
            "dedup_index.probe_s": harness.median([c["probe_s"] for c in cycles]),
            "dedup_index.files": files,
            "dedup_index.bytes": size,
            "streaming.triggers": len(triggers) / n,
            "streaming.trigger_p50_s": harness.median([p["trigger_s"] for p in triggers]),
            "streaming.add_batch_p50_s": harness.median([p["add_batch_s"] for p in triggers]),
            "streaming.wal_commit_p50_s": harness.median([p["wal_commit_s"] for p in triggers]),
            "session.released_frames": sum(c["released"] for c in cycles) / n,
        })

    def triggers(self) -> list[dict]:
        return [p for c in self.cycles for p in c["progress"]]
