#!/usr/bin/env python
"""Streaming index-maintenance equality AT SCALE (round-16 verdict
#5): drain the ``stream_minhash_index_append`` twin (availableNow,
one file per trigger) over the sf1 src19 batch and assert the grown
index is bit-identical to the batch ``append_minhash_index`` over the
same rows — the equality tests/test_dedup_index.py pins at toy SF,
promoted to the sweep corpus and recorded as round evidence
(records/streaming_index_sf1_r17.txt format).

Usage:  python tools/streaming_index_sf1.py [sf_dir]   (default /tmp/sf1)

Prints the per-path timings, a sorted-rows MD5 for each frame of each
index, and a MATCH/MISMATCH verdict; exits nonzero on mismatch.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def frame_md5(df) -> str:
    rows = sorted(tuple(r) for r in df.collect())
    h = hashlib.md5()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"

    from etl_project_spark.catalog import read_table
    from etl_project_spark.session import get_spark
    from etl_project_spark.sources import dedup_index as DX
    from etl_project_spark.streaming.dedup import stream_minhash_index_append

    spark = get_spark("streaming-index-sf1-evidence")
    docs = read_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="stream_idx_sf1_")
    print(f"sf_dir: {sf_dir}")
    try:
        batch_dir = os.path.join(work, "arriving")
        # 8 files -> 8 micro-batches with maxFilesPerTrigger=1: the
        # per-epoch appends must COMPOSE to the one-shot batch append
        docs.filter("source = 'src19'").repartition(8).write.parquet(batch_dir)

        t0 = time.perf_counter()
        hist = DX.persist_minhash_index(
            spark, sf_dir, path=os.path.join(work, "hist_stream"),
            docs=DX._history_docs(spark, sf_dir),
        )
        build_s = round(time.perf_counter() - t0, 1)
        # bit-identical starting point for the batch twin: copy the dirs
        shutil.copytree(
            os.path.join(work, "hist_stream"), os.path.join(work, "hist_batch")
        )
        bidx = DX.MinHashIndex(
            hist.sig_path.replace("hist_stream", "hist_batch"),
            hist.rows_path.replace("hist_stream", "hist_batch"),
            hist.n_hashes, hist.shingle_k, hist.use_token_ngrams,
        )

        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(batch_dir)
        )
        q = stream_minhash_index_append(
            stream, hist, checkpoint=os.path.join(work, "ckpt")
        )
        if not q.awaitTermination(1800):
            print("FAIL: stream did not drain within 1800s")
            return 2
        stream_s = round(time.perf_counter() - t0, 1)
        n_triggers = len(q.recentProgress)

        t0 = time.perf_counter()
        DX.append_minhash_index(spark, sf_dir, bidx)
        batch_s = round(time.perf_counter() - t0, 1)

        ssig, srows = DX.load_minhash_index(spark, hist)
        bsig, brows = DX.load_minhash_index(spark, bidx)
        s_md5 = (frame_md5(ssig), frame_md5(srows))
        b_md5 = (frame_md5(bsig), frame_md5(brows))
        print(
            f"history build: {build_s}s; stream append: {stream_s}s over "
            f"{n_triggers} triggers; batch append: {batch_s}s"
        )
        print(f"stream index: sig {s_md5[0]}  rows {s_md5[1]}")
        print(f"batch  index: sig {b_md5[0]}  rows {b_md5[1]}")
        print(f"sig rows: {ssig.count()}, gram rows: {srows.count()}")
        if s_md5 == b_md5:
            print(
                "MATCH: drained streaming index append equals the batch "
                "append frame-for-frame at sf1"
            )
            return 0
        print("MISMATCH")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
