"""Persisted near-dup indexes for the documents table — the
amortization layer the one-shot dedup queries lack (round-12 verdict
task #7).

``q_incremental_dedup_new_batch`` and the stream-static twins re-derive
the HISTORY side's fingerprints on every run: the gram inverted index
(``doc_gram_index``) and the SimHash postings (``history_simhash_index``)
are both pure functions of the history corpus, which in the incremental
topology changes far more slowly than the arriving batches. A real
100 TB serving workload pays the history scan ONCE and answers every
subsequent batch from the persisted index — the same asymmetric
economics as the PQ/IVF layer (:mod:`etl_project_spark.sources.ann_index`).

Every index is a handle the caller holds: ``persist_*_index`` builds
the frame once with THE shared builder (so persisted and inflight rows
are definitionally identical), writes it under the caller's ``path``
and returns the handle; ``load_*_index`` reads it back, and the
append/delete/compact functions maintain it in place. Nothing is
looked up by corpus dir, so a persisted index never changes what
another query computes: the registry queries that serve from an index
build one in a ``query_scoped_index_dir`` and pass its handle, and
the inflight queries always run their self-contained plan. Parity
between the two is asserted by ``tests/test_dedup_index.py``.

Every persisted frame of the four families is one :class:`IndexTable`
— the single owner of write, append, read, retract and compact. The
MinHash gram rows and the nkey ledger are key-bucketed external tables
(``_id``; ``nkey``), so their key-clustered consumers run
exchange-free. The gram and SimHash postings are still plain parquet;
in production they too would be bucketed by their join key (``_g``;
``(_cmask, _key)``) so the per-batch probe join is shuffle-free on the
history side.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import urllib.parse
import urllib.request
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The history predicate of the incremental topology: everything that
#: is not the arriving batch. One definition shared by the persist
#: builders and the batch plan so they can never disagree about what
#: "history" means.
BATCH_SOURCE = "src19"


def _index_table_name(path: str) -> str:
    """Catalog name for an index table: per-(pid, path-digest) so two
    processes sharing a warehouse can never cross-wire each other's
    builds (the query_scoped_index_dir race note, catalog edition) and
    repeat builds in one session resolve to the same name (the
    overwrite path drops + recreates it)."""
    tag = hashlib.sha1(os.path.abspath(path).encode()).hexdigest()[:8]
    return f"idx_{os.getpid()}_{tag}"


class IndexTable:
    """One persisted index frame: a parquet directory ``path``, plain
    when ``key`` is None, else an EXTERNAL table ``table`` bucketed on
    ``key`` into ``n_buckets`` at that location.

    Bucketing is the pay-once shuffle that makes every later
    ``key``-clustered consumer (groupBy/dropDuplicates/equi-join on
    ``key``) exchange-free (guide §2.4; the sources/bucketed.py
    pattern, pointed at an explicit location so the per-(pid, corpus)
    temp-dir isolation contract is unchanged). The bucket count only
    affects layout, never results: a session whose catalog does not
    know the table reads (and appends to) the same directory as plain
    parquet — identical rows, just re-clustered per consumer.
    """

    __slots__ = ("path", "key", "n_buckets", "table")

    def __init__(self, path: str, key: str | None = None, n_buckets: int = 0) -> None:
        self.path = path
        self.key = key
        self.n_buckets = n_buckets
        self.table = None if key is None else _index_table_name(path)

    def write(self, df: DataFrame, *, mode: str = "overwrite") -> None:
        """Write ``df`` in this table's layout (``mode="overwrite"``
        replaces directory and catalog entry; ``"append"`` requires the
        bucketed table to exist with the same spec, which holds because
        the spec lives on this one object).

        No ``sortBy``: every consumer of these frames is a hash aggregate
        or hash join on ``key`` — nothing needs ordered runs, and the
        per-task sort was measurable build cost at bench scale for zero
        read benefit. No repartition either: the build/append input is
        already hash(key)-clustered by the signing pipeline (the
        bucketed write is CORRECT under any input partitioning —
        misalignment only costs extra files per bucket, which
        compaction folds)."""
        if self.key is None:
            df.write.mode(mode).parquet(self.path)
            return
        writer = (
            df.write.format("parquet").mode(mode).bucketBy(self.n_buckets, self.key)
        )
        if mode == "overwrite":
            df.sparkSession.sql(f"DROP TABLE IF EXISTS {self.table}")
            shutil.rmtree(self.path, ignore_errors=True)
            writer = writer.option("path", self.path)
        writer.saveAsTable(self.table)

    def _cataloged(self, spark: SparkSession) -> bool:
        """Whether this session's catalog knows the bucketed table, its
        file listing refreshed. The refresh is load-bearing:
        appends/deletes/compactions mutate the table's FILES (possibly
        from a foreachBatch-cloned session or via directory swaps), and
        a session that scanned the table earlier holds a cached file
        listing that would silently serve the pre-mutation snapshot
        (measured: a streamed append was invisible to the builder
        session until refreshed). Cheap local re-list here; a manifest
        table format does this bookkeeping transactionally at scale."""
        if self.table is None or not spark.catalog.tableExists(self.table):
            return False
        spark.catalog.refreshTable(self.table)
        return True

    def append(self, df: DataFrame) -> None:
        """Append ``df`` into the SAME bucket spec when the catalog
        knows the table, so the grown table keeps its exchange-free
        scan (each append adds one file per bucket; :meth:`compact`
        folds them); else a plain parquet append into the directory."""
        target = self if self._cataloged(df.sparkSession) else IndexTable(self.path)
        target.write(df, mode="append")

    def read(self, spark: SparkSession) -> DataFrame:
        """The frame, through the bucketed table when this session's
        catalog knows it, else plain parquet."""
        if self._cataloged(spark):
            return spark.table(self.table)
        return spark.read.parquet(self.path)

    def _stage(self, df: DataFrame, staging: str, n_buckets: int) -> None:
        """Write ``df`` to the sibling directory ``staging`` in this
        table's layout at ``n_buckets``, leaving no catalog entry
        behind: moved-in bucketed part-files must carry valid bucket-id
        suffixes (a plain staging write would strip the bucket mapping
        and silently corrupt every clustered read). The maintenance
        inputs arrive arbitrarily partitioned, so a bucketed stage is
        repartitioned on ``key`` first to land one file per bucket."""
        stg = IndexTable(staging, self.key, n_buckets)
        if stg.table is None:
            stg.write(df)
            return
        stg.write(df.repartition(n_buckets, self.key))
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {stg.table}")

    def retract_ids(self, spark: SparkSession, tombstone_ids: DataFrame) -> None:
        """Rewrite the part-files holding a tombstoned ``_id`` without
        those rows (see :func:`_affected_index_files`); every other file
        is left untouched. Survivors are staged to a sibling dir, moved
        in, and only then are the originals removed.

        That order makes the crash window's failure state benign
        DUPLICATES (survivor rows present twice until the originals go),
        which every consumer collapses (``dropDuplicates`` on gram rows;
        banded/candidate ``distinct()`` over signature rows) — never
        missing rows, which the delete-first order would risk. Same
        single-writer exactly-once seam as the appends; on a real object
        store this is one atomic manifest swap (Delta/Iceberg
        rewrite-and-commit). Bucketed survivors re-hash into exactly
        their original buckets (same murmur3, same count), so merging
        them back is layout-exact."""
        files = _affected_index_files(spark, self.path, tombstone_ids)
        if not files:
            return
        staging = self.path.rstrip("/") + ".staging_delete"
        survivors = spark.read.parquet(*files).join(
            tombstone_ids.select("_id"), "_id", "left_anti"
        )
        self._stage(survivors, staging, self.n_buckets)
        for name in os.listdir(staging):
            if name.startswith("part-"):
                # staged part names carry Spark's per-job UUID, so moving
                # them in cannot collide with existing part-files
                shutil.move(
                    os.path.join(staging, name), os.path.join(self.path, name)
                )
        for f in files:
            try:
                os.remove(urllib.request.url2pathname(urllib.parse.urlparse(f).path))
            except FileNotFoundError:
                pass
        shutil.rmtree(staging, ignore_errors=True)

    def compact(
        self, spark: SparkSession, fold: Callable[[DataFrame], DataFrame], n: int
    ) -> None:
        """Rewrite the whole frame as ``fold(frame)`` in ``n`` files (one
        per bucket when bucketed), staged and atomically swapped in
        (``os.rename`` of the directory — the manifest-commit seam the
        append docstrings name; on an object store this is the
        Delta/Iceberg OPTIMIZE + snapshot swap, since object stores have
        no atomic rename). A bucketed table is then re-registered at
        ``n`` buckets, so the compacted frame keeps the exchange-free
        scan; the count only affects layout."""
        staging = self.path.rstrip("/") + ".staging_compact"
        old = self.path.rstrip("/") + ".pre_compact"
        shutil.rmtree(old, ignore_errors=True)
        folded = fold(spark.read.parquet(self.path))
        self._stage(folded.coalesce(n) if self.key is None else folded, staging, n)
        os.rename(self.path, old)
        os.rename(staging, self.path)
        shutil.rmtree(old, ignore_errors=True)
        if self.key is not None:
            self.n_buckets = n
            spark.sql(f"DROP TABLE IF EXISTS {self.table}")
            cols = ", ".join(
                f"`{c.name}` {c.dataType.simpleString()}" for c in folded.schema
            )
            spark.sql(
                f"CREATE TABLE {self.table} ({cols}) USING parquet "
                f"CLUSTERED BY ({self.key}) INTO {n} BUCKETS "
                f"LOCATION '{self.path}'"
            )


class _Handle:
    """What every family handle shares: its :class:`IndexTable` frames,
    all under the directory the caller passed to the build (the caller
    owns it; nothing here deletes it)."""

    __slots__ = ("tables",)

    def __init__(self, *tables: IndexTable) -> None:
        self.tables = tables

    @property
    def path(self) -> str:
        """The first frame's directory; its parent is the build dir."""
        return self.tables[0].path


class GramIndex(_Handle):
    """Handle for one persisted gram inverted index."""

    __slots__ = ("n",)

    def __init__(self, path: str, n: int) -> None:
        super().__init__(IndexTable(path))
        self.n = n

    @property
    def grams(self) -> IndexTable:
        return self.tables[0]


class SimHashIndex(_Handle):
    """Handle for one persisted SimHash posting index."""

    __slots__ = ("max_hamming", "eq_blocks")

    def __init__(self, path: str, max_hamming: int, eq_blocks: int) -> None:
        super().__init__(IndexTable(path))
        self.max_hamming = max_hamming
        self.eq_blocks = eq_blocks

    @property
    def postings(self) -> IndexTable:
        return self.tables[0]


class MinHashIndex(_Handle):
    """Handle for one persisted MinHash signing pass: the signature
    frame (``_id, _h0.._h{n-1}``) plus the DISTINCT hashed-gram
    inverted index (``_id, _gram``) the exact-Jaccard verify needs —
    both written by the shared :func:`minhash_sig_rows` builder over
    the FULL corpus (the near-dup sweep topology, unlike the
    batch/history split above). ``bands`` is deliberately NOT a key
    parameter: band hashes derive from the signature downstream, so one
    signing serves any banding.

    Round-18 layout change (VERDICT r17 #4): the gram rows are written
    as an ``_id``-BUCKETED external table (``n_buckets``) instead of
    plain parquet. Every served consumer keys on ``_id``
    (the signature derivation's groupBy, the verify stage's
    dropDuplicates and sizes aggregate), so the bucketed scan's
    reported hash(_id) partitioning satisfies them all with ZERO
    exchanges — the shuffle is paid once at index-write time and
    amortized over every probe, which is the 100 TB economics the
    plain layout was missing (at sf0.1 the columnar re-reads were
    cheap; at scale each re-read was also a full re-cluster).
    ``n_buckets=0`` (e.g. a handle constructed directly in tests)
    means plain parquet and every consumer degrades gracefully —
    bucketing is pure layout, never semantics.
    """

    __slots__ = ("n_hashes", "shingle_k", "use_token_ngrams")

    def __init__(
        self,
        sig_path: str,
        rows_path: str,
        n_hashes: int,
        shingle_k: int,
        use_token_ngrams: bool,
        n_buckets: int = 0,
    ) -> None:
        super().__init__(
            IndexTable(sig_path),
            IndexTable(rows_path, "_id" if n_buckets else None, n_buckets),
        )
        self.n_hashes = n_hashes
        self.shingle_k = shingle_k
        self.use_token_ngrams = use_token_ngrams

    @property
    def sig(self) -> IndexTable:
        return self.tables[0]

    @property
    def rows(self) -> IndexTable:
        return self.tables[1]

    @property
    def sig_path(self) -> str:
        return self.sig.path

    @property
    def rows_path(self) -> str:
        return self.rows.path


class NkeyIndex(_Handle):
    """Handle for one persisted canonical-key (``nkey``) OWNER-COUNT
    LEDGER of the history corpus — the static side of the incremental
    curation pipeline's dedup stage. No build parameters: the
    canonicalization is THE shared ``canonical_nkey`` contract, so
    there is nothing to mismatch.

    Round-17 format change (the delete path forced it): the parquet
    stores ``(nkey, _n)`` signed owner-count DELTAS, not the bare
    distinct set. The live set is the FOLD — ``GROUP BY nkey HAVING
    SUM(_n) > 0`` — which :func:`load_nkey_index` applies, so every
    consumer still sees exactly ``history_nkey_index``'s one-column
    distinct frame. The bare set was unfixably delete-blind: an nkey
    may be owned by several documents, and retracting one of them must
    remove the key only when its LAST owner goes — which the set
    cannot know without re-canonicalizing history, the O(corpus) text
    scan maintenance exists to avoid. With counts, append = +owners of
    the batch (O(batch), no read of the index at all — the r16
    anti-join is gone), delete = −owners of the tombstones (O(tomb)),
    and the fold resolves last-owner exactly. This is the
    log-structured merge-on-read ledger (Delta/Iceberg deletion
    vectors play the same role); :func:`compact_nkey_index` is the
    periodic fold-in that keeps the probe-side aggregate O(live set).
    Counts are correct under the modeled exactly-once single-writer
    seam; a replayed epoch would double-count owners (set membership
    survives, delete accuracy does not) — the same contract the
    MinHash appends document.

    The ledger is an nkey-BUCKETED external table (round 18, same
    rationale as the MinHash gram rows): the live-set fold is a groupBy
    on nkey, so the bucketed scan makes it shuffle-free.
    ``n_buckets=0`` = plain parquet, graceful fallback."""

    __slots__ = ()

    def __init__(self, path: str, n_buckets: int = 0) -> None:
        super().__init__(IndexTable(path, "nkey" if n_buckets else None, n_buckets))

    @property
    def ledger(self) -> IndexTable:
        return self.tables[0]


def query_scoped_index_dir(kind: str, sf_dir: str) -> str:
    """Deterministic per-(process, corpus) temp directory for a
    caller-scoped index build inside a registry query.

    Per-PID so two sessions in different processes can never overwrite
    part-files under each other's in-flight probe scan (the IVF race
    note), and keyed by a short hash of the ABSOLUTE corpus path, not
    its basename (ADVICE r15: two corpora named ``sf1`` under different
    parents collided within one process — exactly the overwrite race
    the unique dir exists to prevent, just one level up). The basename
    stays in the path for human-readable /tmp listings. The few-MB leak
    per (pid, corpus) is bounded and lives under the OS-reaped /tmp.
    """
    ap = os.path.abspath(sf_dir)
    tag = hashlib.sha1(ap.encode()).hexdigest()[:8]
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(
        tempfile.gettempdir(),
        f"etl_project_spark_{kind}_{os.getpid()}",
        f"{base}_{tag}",
    )


def _history_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_project_spark.catalog import read_table

    return read_table(spark, sf_dir, "documents").filter(
        F.col("source") != BATCH_SOURCE
    )


def _batch_docs(spark: SparkSession, sf_dir: str, batch_source: str) -> DataFrame:
    """The arriving batch: one documents scan carrying the pushed
    ``source = batch_source`` filter, so history text is never read."""
    from etl_project_spark.catalog import read_table

    return read_table(spark, sf_dir, "documents").filter(
        F.col("source") == batch_source
    )


def persist_gram_index(
    spark: SparkSession, sf_dir: str, *, n: int = 3, path: str
) -> GramIndex:
    """Build the history gram inverted index ``(_hid, _szh, _g)`` once
    (``history_gram_index``'s codegen row form over every non-batch
    source) and write it under ``path``. The returned handle is the
    static side of ``stream_incremental_dedup_scores`` via
    :func:`load_gram_index`."""
    from etl_project_spark.streaming.dedup import history_gram_index

    idx = GramIndex(os.path.join(path, f"grams_n{n}"), n)
    idx.grams.write(history_gram_index(_history_docs(spark, sf_dir), n=n))
    return idx


def load_gram_index(spark: SparkSession, idx: GramIndex) -> DataFrame:
    return idx.grams.read(spark)


def persist_simhash_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_hamming: int = 3,
    eq_blocks: int = 2,
    path: str,
    docs: DataFrame | None = None,
) -> SimHashIndex:
    """Build the history SimHash posting index ``(_hid, _hsim, _cmask,
    _key)`` once (the shared ``history_simhash_index`` layout) and
    write it under ``path``.

    ``docs`` overrides the indexed corpus (default: ``_history_docs``).
    Partial builds are grown with :func:`append_simhash_index`."""
    from etl_project_spark.streaming.dedup import history_simhash_index

    idx = SimHashIndex(
        os.path.join(path, f"postings_h{max_hamming}b{eq_blocks}"),
        max_hamming, eq_blocks,
    )
    idx.postings.write(
        history_simhash_index(
            _history_docs(spark, sf_dir) if docs is None else docs,
            max_hamming=max_hamming,
            eq_blocks=eq_blocks,
        )
    )
    return idx


def append_simhash_frames(idx: SimHashIndex, docs: DataFrame) -> None:
    """Incremental maintenance for the SimHash posting index (round-16
    verdict #8): fingerprint + posting-explode ONLY the arriving docs
    with the index's own block layout (the shared
    ``history_simhash_index`` builder) and append the rows. The same
    per-doc purity argument as the MinHash appends: every posting row
    carries its owner's ``_hid`` and is a pure function of that one
    document's text and the (max_hamming, eq_blocks) layout, so a
    history-built index grown by batch appends is row-identical to a
    whole-corpus build — O(batch) per cycle, never an O(corpus)
    re-fingerprint. Single-writer exactly-once append seam, as ever."""
    from etl_project_spark.streaming.dedup import history_simhash_index

    idx.postings.append(
        history_simhash_index(
            docs, max_hamming=idx.max_hamming, eq_blocks=idx.eq_blocks
        )
    )


def append_simhash_index(
    spark: SparkSession,
    sf_dir: str,
    idx: SimHashIndex,
    *,
    batch_source: str = BATCH_SOURCE,
) -> SimHashIndex:
    """Fold one arriving batch (``source == batch_source``) into the
    persisted posting index via :func:`append_simhash_frames` — the
    batch's one documents scan carries the pushed source filter;
    history text is never re-read (asserted in
    tests/test_dedup_index.py)."""
    append_simhash_frames(idx, _batch_docs(spark, sf_dir, batch_source))
    return idx


def load_simhash_index(spark: SparkSession, idx: SimHashIndex) -> DataFrame:
    return idx.postings.read(spark)


def persist_minhash_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_hashes: int = 64,
    shingle_k: int = 3,
    use_token_ngrams: bool = True,
    path: str,
    docs: DataFrame | None = None,
    register: bool = False,
) -> MinHashIndex:
    """Pay the MinHash signing pass once for the FULL documents corpus
    at ``sf_dir``: write the signature frame and the distinct
    hashed-gram rows (built by the SAME ``minhash_sig_rows`` the
    inflight plan uses) under ``path``. Sweeps that pass the returned
    handle (``signed=load_minhash_index(...)``) then skip the shingle
    explode + 64-way min aggregation — the dominant cost of
    ``q_minhash_near_dup_pairs`` (the #1 sf10 in-sweep cost, 394–454 s,
    re-signed on every run before this).

    ``docs`` overrides the signed corpus (default: the full documents
    table at ``sf_dir``) — the incremental topology builds the index
    over HISTORY only (``_history_docs``) and then grows it with
    :func:`append_minhash_index`.

    ``register`` is a compatibility shim and accepts only ``False``:
    there is no serving registry (an index travels by its handle), but
    the benchmark harness (``perfbench/index_ingest.py``) passes
    ``register=False``, so the keyword stays for it."""
    from etl_project_spark.catalog import read_table
    from etl_project_spark.operators.dedup import (
        minhash_sig_from_rows,
        minhash_sig_rows,
    )

    if register is not False:
        raise ValueError("persist_minhash_index: register must be False")
    tag = f"nh{n_hashes}_k{shingle_k}_{'tok' if use_token_ngrams else 'char'}"
    idx = MinHashIndex(
        os.path.join(path, f"sig_{tag}"), os.path.join(path, f"grams_{tag}"),
        n_hashes, shingle_k, use_token_ngrams,
        n_buckets=spark.sparkContext.defaultParallelism,
    )
    _, rows = minhash_sig_rows(
        read_table(spark, sf_dir, "documents") if docs is None else docs,
        "doc_id",
        "text",
        n_hashes=n_hashes,
        shingle_k=shingle_k,
        use_token_ngrams=use_token_ngrams,
    )
    # Distinct here is idempotent for the verify stage (it re-applies
    # dropDuplicates) and shrinks the persisted index. Written
    # _id-BUCKETED (r18, VERDICT r17 #4): the one shuffle the bucketed
    # write pays replaces a re-cluster per consumer per probe — the
    # sig derivation below and every served verify's dropDuplicates /
    # sizes agg read the bucketed scan's hash(_id) layout
    # exchange-free. Rows first, signatures last (the append order).
    idx.rows.write(rows.dropDuplicates(["_id", "_gram"]))
    # Derive the signature FROM the written gram table instead of
    # re-running the text scan + shingle explode a second time (the
    # append path's minhash_frames_for already does this): min is
    # duplicate-insensitive, so sig over the distinct rows is
    # bit-identical to sig over raw rows (pinned in
    # tests/test_dedup_index.py), and the agg input is the narrow
    # (_id, _gram int64) bucketed parquet, not the documents text —
    # with the bucketed layout the groupBy(_id) now runs with zero
    # exchanges.
    idx.sig.write(minhash_sig_from_rows(idx.rows.read(spark), n_hashes=n_hashes))
    return idx


def load_minhash_index(
    spark: SparkSession, idx: MinHashIndex
) -> tuple[DataFrame, DataFrame]:
    """(sig, distinct gram rows) — the ``signed=`` input of
    :func:`minhash_near_dup_pairs`. The rows side resolves through the
    bucketed table when one exists IN THIS SESSION'S CATALOG, so every
    _id-keyed consumer is exchange-free; otherwise (direct-constructed
    handles, a different session) it falls back to the plain parquet
    read — identical rows, just re-clustered per consumer."""
    return idx.sig.read(spark), idx.rows.read(spark)


def batch_minhash_frames(
    spark: SparkSession,
    sf_dir: str,
    idx: MinHashIndex,
    *,
    batch_source: str = BATCH_SOURCE,
) -> tuple[DataFrame, DataFrame]:
    """The signature + distinct hashed-gram frames of ONLY the arriving
    batch (``source == batch_source``), signed with the index's own
    parameters by the shared :func:`minhash_sig_rows` builder — the
    unit of work an index APPEND pays. Factored out of
    :func:`append_minhash_index` so tests can pin the
    no-history-rescan property on the exact frames the append writes:
    the only documents scan in either plan carries the pushed
    ``source = batch_source`` filter.

    MinHash signatures are per-document pure functions of the text, so
    batch signatures computed in isolation are bit-identical to the
    same documents' rows in a whole-corpus signing — appending them to
    a history-built index yields EXACTLY the full-corpus index
    (doc_id is unique corpus-wide, so the signature frame stays one
    row per doc and the per-doc distinct gram set is unchanged).
    """
    return minhash_frames_for(_batch_docs(spark, sf_dir, batch_source), idx)


def minhash_frames_for(
    docs: DataFrame, idx: MinHashIndex
) -> tuple[DataFrame, DataFrame]:
    """(signature, distinct gram rows) for an ARBITRARY docs frame,
    signed with the index's own parameters. The signature is derived
    FROM the distinct rows (min is duplicate-insensitive, so values
    are unchanged), which is what lets an append sign from the gram
    rows it has just written instead of re-running the shingle
    explode."""
    from etl_project_spark.operators.dedup import (
        minhash_sig_from_rows,
        minhash_sig_rows,
    )

    _, rows = minhash_sig_rows(
        docs,
        "doc_id",
        "text",
        n_hashes=idx.n_hashes,
        shingle_k=idx.shingle_k,
        use_token_ngrams=idx.use_token_ngrams,
    )
    rows = rows.dropDuplicates(["_id", "_gram"])
    return minhash_sig_from_rows(rows, n_hashes=idx.n_hashes), rows


def append_minhash_frames(idx: MinHashIndex, docs: DataFrame) -> None:
    """The shared append WRITE body: sign ``docs`` with the index's
    parameters and append both frames into the persisted parquet. Both
    the batch maintenance path (:func:`append_minhash_index`) and the
    streaming twin (``streaming.dedup.stream_minhash_index_append``'s
    per-epoch fold) call exactly this, so the two cannot drift.

    The two appends are separate non-transactional parquet writes; the
    ORDER is part of the contract (ADVICE r16): gram rows first,
    signatures LAST. A crash between them leaves sig-less docs — the
    benign failure state: a doc with grams but no signature is never
    banded, so it is simply invisible to every probe (exactly its
    pre-append visibility); the reverse order would band docs whose
    verify-side grams are missing. A retry that re-appends the epoch
    leaves duplicate gram rows, which every consumer collapses
    (``dropDuplicates(["_id", "_gram"])`` is re-applied at probe time)
    — though on-disk frame equality with a rebuild is then lost until
    :func:`compact_minhash_index` folds the dir. On a real object
    store both writes land behind one manifest commit (Delta/Iceberg);
    single-writer exactly-once append is the modeled seam here.

    The signature job reads back ONLY the part-files the rows append
    just wrote (dir-listing delta — the local-FS stand-in for the
    manifest's added-files list) instead of caching the batch rows
    across both writes: the r16 persist form paid the MEMORY_AND_DISK
    materialization plus an agg over the cached shuffle partitioning,
    while the read-back agg runs off the freshly-written columnar
    parquet (measured 1.27 s → 0.84 s warm per append at sf0.1, with
    zero cache residency during the sig write). The one-text-scan
    property is unchanged — the batch is shingled exactly once, by the
    rows write; the sig job scans narrow ``(_id, _gram)`` parquet."""
    from etl_project_spark.operators.dedup import minhash_sig_from_rows

    sig, rows = minhash_frames_for(docs, idx)
    before = _data_files(idx.rows_path)
    idx.rows.append(rows)
    new = sorted(_data_files(idx.rows_path) - before)
    if new:
        sig = minhash_sig_from_rows(
            docs.sparkSession.read.parquet(*new), n_hashes=idx.n_hashes
        )
    # else: empty-batch append wrote no data files — the in-memory sig
    # (itself empty) is written as-is, trivially cheap.
    idx.sig.append(sig)


def _data_files(path: str) -> set[str]:
    """Parquet data part-files directly under ``path`` (local FS; the
    index dirs are always local here — an object-store deployment would
    take this list from the manifest commit instead)."""
    try:
        return {
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }
    except FileNotFoundError:
        return set()


def append_minhash_index(
    spark: SparkSession,
    sf_dir: str,
    idx: MinHashIndex,
    *,
    batch_source: str = BATCH_SOURCE,
) -> MinHashIndex:
    """Incremental index MAINTENANCE (round-15 verdict #1 — the last
    missing 100 TB operator class): sign ONLY the arriving batch and
    APPEND its signature + distinct-gram parquet into the persisted
    index, instead of re-signing the whole corpus.

    This is the economics a real incremental pipeline runs on: history
    is signed once (``persist_minhash_index`` over ``_history_docs``),
    and each arriving batch pays O(batch) signing + an append write —
    never an O(corpus) rebuild. The grown index is bit-identical to a
    full rebuild (see :func:`batch_minhash_frames` for why), so every
    downstream consumer — ``signed=`` probes, the banding + verify
    query, the served sweeps — is oblivious to how the index was
    grown. Parquet ``append`` adds new part-files without touching
    existing ones, so a concurrent reader of the pre-append snapshot
    keeps a consistent (history-only) view; on a real object store the
    append would land behind a manifest commit (Delta/Iceberg style)
    for atomicity — single-writer append is the modeled contract here,
    matching the one-ingest-pipeline topology.

    The batch is shingled exactly once, by the gram-rows write; the
    signature is then aggregated from the part-files that write added
    (see :func:`append_minhash_frames`), so nothing is cached across
    the two writes.

    Returns the same (mutated-on-disk) handle for chaining.
    """
    append_minhash_frames(idx, _batch_docs(spark, sf_dir, batch_source))
    return idx


def _affected_index_files(
    spark: SparkSession, path: str, tombstone_ids: DataFrame
) -> list[str]:
    """The part-files of a per-doc index frame that contain at least
    one tombstoned ``_id`` — the unit of a file-granularity delete.

    The scan is column-pruned to ``_id`` + the virtual file name, so
    finding the affected files costs one cheap id-column pass; the
    collect is bounded metadata (distinct file PATHS, not rows — at
    most the directory's part-file count). Because appends land each
    batch in its own part-files, a delete targeting a recent batch
    touches only that batch's files: the rewrite is O(affected files),
    not O(index) — the hand-rolled form of Delta/Iceberg's
    file-level delete planning.
    """
    return [r["_file"] for r in _affected_files_frame(spark, path, tombstone_ids).collect()]


def _affected_files_frame(
    spark: SparkSession, path: str, tombstone_ids: DataFrame
) -> DataFrame:
    """The distinct-file-paths frame behind
    :func:`_affected_index_files` — factored out so tests can assert
    the executed plan (column-pruned to ``_id``; no text anywhere)."""
    return (
        spark.read.parquet(path)
        .select("_id", F.input_file_name().alias("_file"))
        .join(tombstone_ids.select("_id"), "_id", "left_semi")
        .select("_file")
        .distinct()
    )


def delete_from_minhash_index(
    spark: SparkSession, idx: MinHashIndex, tombstone_ids: DataFrame
) -> MinHashIndex:
    """Index DELETE — the retraction half of incremental maintenance
    (round-16 verdict #1): remove tombstoned documents (takedowns,
    opt-outs, licensing reversals) from the persisted signature +
    gram parquet WITHOUT re-signing anything.

    ``tombstone_ids`` is a one-column ``_id`` frame. Both MinHash
    frames are strictly per-doc (signatures and distinct grams carry
    their owner's ``_id``), so retraction is a pure anti-join — no
    last-owner subtlety, unlike the nkey set
    (:func:`delete_from_nkey_index`). Mechanism: find the part-files
    that contain a tombstoned row (one column-pruned id pass), rewrite
    ONLY those files minus the tombstones, leave every other file
    untouched. Nothing in the job reads document text — not history's,
    not even the tombstoned docs' (asserted on the executed plans in
    tests/test_dedup_index.py); cost is O(affected files), and since
    appends batch into their own part-files, deleting a recent batch
    rewrites just that batch's files.

    The deleted docs' rows vanish from both frames, so the shrunk
    index is frame-identical to a rebuild over corpus-minus-tombstones
    (signatures are per-doc pure functions of text; dropping a doc's
    rows cannot perturb any other doc's). Every ``signed=`` consumer
    is oblivious to how the index shrank.
    """
    for table in idx.tables:
        table.retract_ids(spark, tombstone_ids)
    return idx


def compact_minhash_index(
    spark: SparkSession, idx: MinHashIndex, *, target_files: int = 8
) -> MinHashIndex:
    """Fold K append/delete cycles' accumulated part-files into
    ``target_files`` per frame (round-16 verdict #2): every
    ``mode("append")`` adds files, so after K daily cycles a probe
    scan opens K× the files (and any crash-retry duplicates persist on
    disk); read amplification grows without bound until someone
    rewrites. This is that rewrite (:meth:`IndexTable.compact`): each
    frame is read, gram rows are re-distincted (folding benign
    duplicate rows from retried appends/deletes), rewritten in
    ``target_files`` files (the bucketed gram rows re-bucketed at
    ``target_files`` buckets, one file per bucket) and swapped in.

    Compacted ≡ grown frame equality is pinned in
    tests/test_dedup_index.py.
    """
    idx.sig.compact(spark, lambda df: df.dropDuplicates(["_id"]), target_files)
    idx.rows.compact(
        spark, lambda df: df.dropDuplicates(["_id", "_gram"]), target_files
    )
    return idx


def persist_nkey_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    path: str,
    docs: DataFrame | None = None,
) -> NkeyIndex:
    """Write the history corpus's canonical-key owner-count ledger
    (``(nkey, _n)`` — see :class:`NkeyIndex` for the format) under
    ``path`` — the static side of the incremental curation dedup. The
    canonicalization is the shared ``canonical_nkey`` expression, so
    the folded set is definitionally ``history_nkey_index`` over the
    same docs.

    ``docs`` overrides the indexed corpus (default: ``_history_docs``).
    Partial builds are grown with :func:`append_nkey_index` and shrunk
    with :func:`delete_from_nkey_index`."""
    # nkey-BUCKETED ledger (r18, VERDICT r17 #4): the live-set fold
    # (groupBy nkey) and the consumers' anti-joins cluster on nkey, so
    # the bucketed scan serves them exchange-free — the layout
    # load_nkey_index's docstring always named as the production
    # shape, now actually written.
    idx = NkeyIndex(
        os.path.join(path, "nkeys"),
        n_buckets=spark.sparkContext.defaultParallelism,
    )
    idx.ledger.write(
        _nkey_ledger(_history_docs(spark, sf_dir) if docs is None else docs)
    )
    return idx


def _nkey_ledger(docs: DataFrame) -> DataFrame:
    """Owner-count ledger rows ``(nkey, _n)`` of a docs frame: the
    shared ``canonical_nkey`` canonicalization, aggregated to one row
    per key. ``GROUP BY`` keys ≡ ``DISTINCT``, so the ledger's key set
    is definitionally ``history_nkey_index`` over the same docs — the
    counts are what the delete path adds on top."""
    from etl_project_spark.operators.dedup import canonical_nkey

    return (
        docs.select(canonical_nkey(F.col("text")).alias("nkey"))
        .groupBy("nkey")
        .agg(F.count(F.lit(1)).alias("_n"))
    )


def _fold_ledger(ledger: DataFrame) -> DataFrame:
    """Sum the signed deltas per key and keep keys with surviving
    owners — the live ``(nkey, _n)`` rows."""
    return (
        ledger.groupBy("nkey")
        .agg(F.sum("_n").alias("_n"))
        .filter(F.col("_n") > 0)
    )


def load_nkey_index(spark: SparkSession, idx: NkeyIndex) -> DataFrame:
    """The LIVE distinct key set: fold the signed owner-count deltas
    and keep keys with surviving owners. Output schema is the same
    one-column ``nkey`` frame the pre-ledger format served, so every
    anti-join consumer is oblivious to the format change. The fold is
    a map-side-combined hash aggregate over a two-column parquet —
    and since r18 the ledger IS bucketed by nkey, so the fold runs
    shuffle-free (plain-parquet fallback for handles without a live
    catalog entry in this session)."""
    return _fold_ledger(idx.ledger.read(spark)).select("nkey")


def append_nkey_index(
    spark: SparkSession,
    sf_dir: str,
    idx: NkeyIndex,
    *,
    batch_source: str = BATCH_SOURCE,
) -> NkeyIndex:
    """Incremental maintenance for the canonical-key index: fold an
    arriving batch's nkeys into the persisted ledger without
    re-canonicalizing history (round-15 verdict #1, nkey side).

    With the owner-count ledger format the append is a pure O(batch)
    blind append of the batch's ``(nkey, +owners)`` rows — it never
    reads the index at all (the r16 anti-join, and the
    read-while-append localCheckpoint hazard it dragged in, are gone):
    a batch nkey already present in history simply adds a second
    positive delta, and the fold at :func:`load_nkey_index` restores
    the set property. Folded grown index == ``history_nkey_index``
    over history ∪ batch, exactly (pinned in tests/test_dedup_index).
    """
    idx.ledger.append(_nkey_ledger(_batch_docs(spark, sf_dir, batch_source)))
    return idx


def delete_from_nkey_index(
    spark: SparkSession, idx: NkeyIndex, tombstoned_docs: DataFrame
) -> NkeyIndex:
    """Index DELETE, nkey side (round-16 verdict #1): retract
    tombstoned documents' ownership from the canonical-key ledger
    WITHOUT re-canonicalizing history.

    ``tombstoned_docs`` is a docs frame (needs ``text``) of ONLY the
    documents being removed — canonicalizing them is O(tombstones),
    the retraction analog of the append's O(batch). Their negated
    owner counts are appended as ``(nkey, -owners)`` deltas; the fold
    then drops exactly the nkeys whose LAST owner was tombstoned and
    keeps every key another surviving document still owns — the
    distinct-set subtlety that made the bare-set format delete-blind.
    Nothing reads history text, and nothing reads the index either:
    the delete is a blind O(tomb) append, with
    :func:`compact_nkey_index` folding the tombstone rows away
    physically on the next maintenance window.
    """
    idx.ledger.append(
        _nkey_ledger(tombstoned_docs).select("nkey", (-F.col("_n")).alias("_n"))
    )
    return idx


def compact_nkey_index(spark: SparkSession, idx: NkeyIndex) -> NkeyIndex:
    """Fold the ledger physically: aggregate the signed deltas, drop
    dead keys (``SUM(_n) <= 0``), rewrite as one compact file set of 8
    buckets, and atomically swap the directory in — the periodic
    fold-in that bounds both the ledger's file count and the probe-side
    aggregate's input after K append/delete cycles. Folded ≡ unfolded
    live set is pinned in tests/test_dedup_index.py."""
    idx.ledger.compact(spark, _fold_ledger, 8)
    return idx
