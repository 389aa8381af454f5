"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k; scale path: hyperplane-LSH bucket
pruning. Scoring runs as an Arrow-batched pandas UDF — numpy matmul
over the whole batch (~50M mul/s per core) instead of Spark's lambda
higher-order functions, which are CodegenFallback and evaluate
interpreted per element (measured ~10µs/element; see operators/dedup.py
for the same finding on hashing). Top-k itself stays JVM-side:
``orderBy().limit(k)`` compiles to TakeOrderedAndProject — per-task
k-row heaps merged on the driver, no global sort at any scale.
"""

from __future__ import annotations

import math
import warnings
from collections.abc import Iterable, Sequence
from contextlib import contextmanager

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from etl_project_spark.operators.dedup import _hyperplane_signs


def cosine_score_udf(query_vec: Sequence[float]):
    """Vectorized cosine-to-query scorer (Arrow batch → one matmul).

    The query vector is captured in the closure — config-sized, shipped
    with the task, never a data broadcast.
    """
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @pandas_udf("double")
    def score(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        dots = m @ q
        norms = np.linalg.norm(m, axis=1)
        denom = norms * qn
        out = np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0)
        return pd.Series(out)

    return score


def pairwise_cosine_udf(a_offset: float = 0.0, b_offset: float = 0.0):
    """Row-wise cosine of two vector columns (vectorized einsum).

    Built lazily — ``pandas_udf`` resolves its return type against the
    active session, so the decorator can't run at import time.

    ``a_offset``/``b_offset`` add a uniform scalar to every coordinate
    of the respective side AFTER the exact float→double widening —
    bit-identical to ``transform(v, x -> CAST(x AS DOUBLE) + c)`` done
    upstream, but applied inside the Arrow batch so callers with
    planted perturbed twins can keep the raw float32 arrays on the
    join/shuffle payload (half the bytes) and defer the perturbation
    off the spill path (r14 spill diet, BASELINE §r14).
    """

    @pandas_udf("double")
    def _pairwise_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack(a.to_numpy()).astype(np.float64)
        mb = np.stack(b.to_numpy()).astype(np.float64)
        if a_offset:
            ma = ma + a_offset
        if b_offset:
            mb = mb + b_offset
        dots = np.einsum("ij,ij->i", ma, mb)
        denom = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0))

    return _pairwise_cosine


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: Sequence[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: ``(id, score, rank)``, deterministic ties."""
    scored = df.select(
        F.col(id_col),
        F.round(cosine_score_udf(query_vec)(F.col(vec_col)), 4).alias("score"),
    )
    # orderBy().limit(k) compiles to TakeOrderedAndProject (per-task
    # heaps); the rank window then runs over exactly k rows.  The
    # partition key is constant-VALUED (id % 1 == 0) but not constant-
    # FOLDABLE, so Catalyst keeps it and WindowExec sees a non-empty
    # partition spec — silencing the "moving all data to a single
    # partition" warning that a literal (folded away) or empty spec
    # triggers.  Here "all data" IS k rows by construction, so the
    # single partition is the correct physical plan, not a smell.
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
                    F.col("score").desc(), F.col(id_col)
                )
            ),
        )
    )


def hyperplane_table_sigs_udf(planes: list[list[int]], n_tables: int):
    """Vectorized multi-table hyperplane signatures.

    One matmul against all ``n_tables × m`` planes per Arrow batch, sign
    bits packed per table → ``array<long>`` of length ``n_tables``.
    """
    P = np.asarray(planes, dtype=np.float64)  # (n_tables*m, dim)
    m = P.shape[0] // n_tables
    weights = (1 << np.arange(m)).astype(np.int64)

    @pandas_udf("array<long>")
    def sigs(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        bits = ((mat @ P.T) >= 0).astype(np.int64)  # (batch, n_tables*m)
        packed = bits.reshape(len(mat), n_tables, m) @ weights  # (batch, n_tables)
        return pd.Series(list(packed))

    return sigs


def lsh_bucketed_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: Sequence[float],
    *,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    n_tables: int = 8,
    planes_per_table: int = 6,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH (OR-amplified).

    A row is a candidate if ANY of ``n_tables`` independent
    ``planes_per_table``-bit signatures matches the query's exactly —
    the same AND-OR amplification as MinHash banding. Per-plane
    agreement is ``1 - θ/π``, so with (8 tables × 6 planes) a
    cosine-0.9 neighbor is found w.p. ~0.98 while random vectors
    (agreement 0.5) are scanned at rate ``1-(1-2^-6)^8 ≈ 0.12``.
    Exact cosine re-ranks the candidate set. An identical vector
    matches every table — self-lookups always hit.
    """
    planes = _hyperplane_signs(n_tables * planes_per_table, dim)
    q = [float(v) for v in query_vec]
    q_sigs = []
    for t in range(n_tables):  # driver-side: config-sized work
        s = 0
        for j in range(planes_per_table):
            row = planes[t * planes_per_table + j]
            if sum(w * v for w, v in zip(row, q)) >= 0:
                s |= 1 << j
        q_sigs.append(s)

    sig_col = hyperplane_table_sigs_udf(planes, n_tables)(F.col(vec_col))
    withsig = df.withColumn("_sigs", sig_col)
    any_match = None
    for t, qs in enumerate(q_sigs):
        term = F.element_at("_sigs", t + 1) == F.lit(qs)
        any_match = term if any_match is None else (any_match | term)
    candidates = withsig.filter(any_match)
    return brute_force_topk(candidates, vec_col, query_vec, k=k, id_col=id_col)


def grouped_topk(
    scored: DataFrame,
    group_col: str,
    k: int,
    *,
    order_col: str = "score",
    tiebreak_col: str | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Exact per-group top-k that stays parallel when there are FEW
    groups.

    A plain ``row_number() OVER (PARTITION BY group)`` funnels each
    group through ONE reduce task: with 5 anchor groups over ~9M scored
    rows at sf10, q_hard_negative_mining ran 42× on 10× data because
    five tasks each fully sorted ~2M rows while 27 cores idled. Phase 1
    here ranks within (group, input-partition id) — the shuffle spreads
    over n_groups × n_partitions reducers and every local sort is
    bounded by one partition's share of one group — and keeps k rows
    per cell; phase 2 ranks the ≤ k·n_partitions survivors per group, a
    kilobyte-scale window. Exact because a row in the global top-k of
    its group is a fortiori in the top-k of its (group, partition)
    cell. Both phases order by (order_col DESC, tiebreak ASC), so the
    emitted rank is deterministic under score ties.

    Use when group count is small or unknown (probe/anchor batches).
    For many-small-groups shapes (e.g. the LSH rerank, one group per
    probe over a whole corpus) phase 1 keeps nearly every row and the
    second shuffle is pure overhead — keep the single window there.
    """
    order = [F.col(order_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w1 = W.partitionBy(group_col, "_gtk_pid").orderBy(*order)
    cand = (
        scored.withColumn("_gtk_pid", F.spark_partition_id())
        .withColumn("_gtk_r", F.row_number().over(w1))
        .filter(F.col("_gtk_r") <= k)
        .drop("_gtk_pid", "_gtk_r")
    )
    w2 = W.partitionBy(group_col).orderBy(*order)
    return cand.withColumn(rank_col, F.row_number().over(w2)).filter(
        F.col(rank_col) <= k
    )


def grouped_probe_topk(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    corpus_id: str,
    probe_id: str,
    corpus_vec: str,
    probe_vec: str,
    k: int,
    n_cells: int = 64,
    hash_side: str = "corpus",
    neq_cols: tuple[str, str] | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Exact per-probe cosine top-k WITHOUT per-pair materialization:
    the r10 cure for the broadcast-kNN shape, same disease the r8
    ``group_pairs_scorer`` cured for dedup verify joins.

    The cross-join forms materialize |probes|·|corpus| rows, each
    dragging two 64-dim arrays — through Arrow (per-pair pandas UDF,
    24 s for 4M pairs at sf10) or through CodegenFallback higher-order
    functions (115 s) or even an unrolled 192-term ``element_at``
    expression (85 s; per-pair UnsafeArrayData access is the cost, not
    the lambda). Here each vector crosses the wire ONCE: the
    ``hash_side`` table is hashed into ``n_cells`` cogroup cells, the
    other side is replicated to every cell (tiny — cells × rows of the
    small side), and a numpy kernel scores each cell with the EXACT
    chunked-einsum arithmetic of :func:`pairwise_cosine_udf` /
    :func:`group_pairs_scorer` (same summation order, same HALF-UP
    round-4 — a blocked matmul could flip a round-4 boundary vs the
    oracle's fold). Per (cell, probe) it emits only the local top-k; a
    final window merges the ≤ k·n_cells survivors per probe — bounded,
    never entity-scale. Wall-clock at sf10 (200k corpus × 20 probes):
    29 s cross-join pandas → ~2 s grouped.

    ``hash_side="corpus"`` (default) shuffles the corpus once and
    replicates the probe batch — right when probes are the small side.
    ``hash_side="probes"`` mirrors it for a small corpus under a large
    probe batch. Either way the shuffle is linear in the big side; at
    100 TB that is a spill-able exchange, not an O(|L|·|R|) blow-up.

    ``neq_cols=(corpus_col, probe_col)`` excludes pairs whose values
    are equal — the hard-negative-mining contract (nearest rows with a
    DIFFERENT label) — applied as a score mask inside the kernel, so
    excluded pairs can never crowd out valid ones.

    Output: (probe_id, corpus_id, score, rank) with rank 1..k ordered
    by (score DESC, corpus_id ASC) — deterministic under round-4 ties.
    ``probe_id`` and ``corpus_id`` must be distinct names.
    """
    if probe_id == corpus_id:
        raise ValueError(
            "grouped_probe_topk: probe_id and corpus_id must be distinct "
            f"column names; both are {probe_id!r} — alias one side"
        )
    if hash_side not in ("corpus", "probes"):
        raise ValueError(
            f"grouped_probe_topk hash_side must be 'corpus' or 'probes'; "
            f"got {hash_side!r}"
        )
    types = {
        f.name: f.dataType.simpleString()
        for df in (corpus, probes)
        for f in df.schema.fields
    }
    out_schema = (
        f"{probe_id} {types[probe_id]}, {corpus_id} {types[corpus_id]}, "
        "score double"
    )
    c_neq, p_neq = neq_cols if neq_cols is not None else (None, None)
    # dict.fromkeys dedup: neq_cols may legitimately BE the id columns
    # (self-pair exclusion in a kNN-graph build) — a duplicate name in
    # the select makes pandas return a 2-column frame for cdf[corpus_id]
    # and the kernel's argsort indexing falls apart
    ccols = list(dict.fromkeys([corpus_id, corpus_vec] + ([c_neq] if c_neq else [])))
    pcols = list(dict.fromkeys([probe_id, probe_vec] + ([p_neq] if p_neq else [])))

    spark = corpus.sparkSession
    cells = F.broadcast(
        spark.range(n_cells).select(F.col("id").cast("int").alias("_gpc"))
    )
    if hash_side == "corpus":
        cside = corpus.select(*ccols).withColumn(
            "_gpc", F.pmod(F.hash(F.col(corpus_id)), F.lit(n_cells)).cast("int")
        )
        pside = probes.select(*pcols).crossJoin(cells)
    else:
        cside = corpus.select(*ccols).crossJoin(cells)
        pside = probes.select(*pcols).withColumn(
            "_gpc", F.pmod(F.hash(F.col(probe_id)), F.lit(n_cells)).cast("int")
        )

    kk = int(k)

    def empty() -> pd.DataFrame:
        return pd.DataFrame({probe_id: [], corpus_id: [], "score": []}).astype(
            {"score": "float64"}
        )

    def score_cell(cdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty or pdf.empty:
            return empty()
        # Base order by corpus id so the stable per-column argsort
        # breaks round-4 score ties by ascending id — the same
        # (score DESC, id ASC) order the merge window uses.
        base = np.argsort(cdf[corpus_id].to_numpy(), kind="stable")
        cids = cdf[corpus_id].to_numpy()[base]
        C = np.stack(cdf[corpus_vec].to_numpy())[base].astype(np.float64)
        P = np.stack(pdf[probe_vec].to_numpy()).astype(np.float64)
        pids = pdf[probe_id].to_numpy()
        m, p = len(cids), len(pids)
        cn = np.linalg.norm(C, axis=1)
        pn = np.linalg.norm(P, axis=1)
        S = np.empty((m, p), dtype=np.float64)
        flat = S.reshape(-1)
        # Chunked per-pair einsum — identical arithmetic (and summation
        # order) to pairwise_cosine_udf, bounded peak memory like
        # group_pairs_scorer's 2M-pair chunks.
        CHUNK = 2_000_000
        total = m * p
        for lo in range(0, total, CHUNK):
            hi = min(lo + CHUNK, total)
            ci, pj = np.unravel_index(np.arange(lo, hi), (m, p))
            dots = np.einsum("ij,ij->i", C[ci], P[pj])
            denom = cn[ci] * pn[pj]
            flat[lo:hi] = round_half_up4(
                np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0)
            )
        if c_neq is not None:
            # Mirror SQL's `c.col <> p.col` join predicate exactly:
            # equal values are excluded AND so is any pair with a NULL
            # on either side (NULL <> x is NULL → row dropped). A bare
            # == mask would let NULL-label rows through, since
            # NaN == NaN and None == x are both False in numpy/pandas
            # (r10 review).
            cv = cdf[c_neq].to_numpy()[base]
            pv = pdf[p_neq].to_numpy()
            drop = (
                (cv[:, None] == pv[None, :])
                | pd.isna(cv)[:, None]
                | pd.isna(pv)[None, :]
            )
            S[drop] = np.nan  # NaN sorts last under argsort → never top-k
        k_eff = min(kk, m)
        # Column-wise stable argsort on -S: score DESC, then the id-ASC
        # base order for ties; NaN-masked pairs sink below every score.
        idx = np.argsort(-S, axis=0, kind="stable")[:k_eff]  # (k_eff, p)
        gathered = np.take_along_axis(S, idx, axis=0)  # (k_eff, p)
        valid = ~np.isnan(gathered).ravel()
        return pd.DataFrame(
            {
                probe_id: np.broadcast_to(pids, (k_eff, p)).ravel()[valid],
                corpus_id: cids[idx].ravel()[valid],
                "score": gathered.ravel()[valid],
            }
        )

    local = (
        cside.groupby("_gpc")
        .cogroup(pside.groupby("_gpc"))
        .applyInPandas(score_cell, out_schema)
    )
    wm = W.partitionBy(probe_id).orderBy(F.desc("score"), F.asc(corpus_id))
    return local.withColumn(rank_col, F.row_number().over(wm)).filter(
        F.col(rank_col) <= kk
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    right_id: str,
    left_vec: str,
    right_vec: str,
    k: int = 5,
    strategy: str = "auto",
    broadcast_threshold: int = 100_000,
    broadcast_threshold_bytes: int = 64 << 20,
    right_rows: int | None = None,
    left_rows: int | None = None,
    dim: int | None = None,
    broadcast_side: str = "right",
    exact_impl: str = "grouped",
    left_score_offset: float = 0.0,
    right_score_offset: float = 0.0,
) -> DataFrame:
    """Batch kNN join: for every left row, its k nearest right rows.

    Two physical strategies:

    - ``broadcast``: cross join the (small) right side + per-probe
      window top-k. Exact, O(|L|·|R|) scoring — only sane when the
      right side fits in a broadcast.
    - ``lsh``: multi-table hyperplane-signature equi-join to generate
      candidates, exact cosine rerank, window top-k (see
      :func:`knn_join_lsh`). Approximate but shuffle-bounded — the
      scale path when both sides are large.

    ``auto`` decides LAZILY — plan construction never triggers a Spark
    job (at 100 TB an eager ``right.count()`` would full-scan the right
    table just to pick a strategy).  Precedence: an explicit
    ``right_rows`` hint (index-build-time metadata) is compared against
    ``broadcast_threshold`` rows; otherwise Catalyst's optimized-plan
    size statistic (file sizes for scans — driver-side, no job) is
    compared against ``broadcast_threshold_bytes``.  ``lsh`` requires
    ``dim``.

    Caveats of the statistics fallback (pass ``right_rows`` to avoid
    both): without CBO column stats, Catalyst barely shrinks size
    estimates through filters/projections, so a small-but-derived right
    side can be overestimated and auto then picks the *approximate*
    LSH path where exact broadcast would have been both possible and
    cheaper — a recall change, not just a plan change.  And the stats
    probe needs the classic JVM-backed DataFrame; under Spark Connect
    (no ``_jdf``) it is unavailable.

    Missing-``dim`` policy scales with the strength of the size
    signal: an explicit ``right_rows`` hint above the threshold is
    positive evidence the right side must not be broadcast, so auto
    RAISES rather than silently building an OOM-prone cross join; the
    weaker statistics estimate (known to overestimate) triggers a
    warning and an exact-broadcast fallback; the signal-less Spark
    Connect case falls back silently. Explicit ``strategy='lsh'``
    always raises without ``dim`` — an explicit ask is a contract.
    """
    if strategy not in ("auto", "broadcast", "lsh"):
        raise ValueError(
            f"knn_join strategy must be 'auto', 'broadcast', or 'lsh'; got {strategy!r}"
        )
    if strategy == "auto":
        if right_rows is not None:
            small = right_rows <= broadcast_threshold
            if not small and dim is None:
                # The caller affirmatively told us the right side is too
                # big to broadcast; silently cross-joining it anyway can
                # blow the broadcast size limit or OOM executors with an
                # opaque failure. Demand the missing LSH parameter.
                raise ValueError(
                    f"knn_join(strategy='auto'): right_rows={right_rows} exceeds "
                    f"broadcast_threshold={broadcast_threshold}, so auto needs the "
                    "LSH path — pass dim= (vector dimensionality), or force "
                    "strategy='broadcast' to accept the O(|L|*|R|) cross join."
                )
        else:
            try:
                size = int(
                    right._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
                small = size <= broadcast_threshold_bytes
            except AttributeError:
                # Spark Connect DataFrames have no _jdf; without any
                # size signal prefer the exact path.
                small = True
            if not small and dim is None:
                # Catalyst size estimates overestimate through filters /
                # projections, so this is a weaker signal than an explicit
                # right_rows hint: warn and take the exact path rather
                # than raise from a code path the caller never named.
                warnings.warn(
                    "knn_join(strategy='auto'): plan statistics estimate the "
                    "right side above broadcast_threshold_bytes but dim= was "
                    "not given, so the LSH path is unavailable; falling back "
                    "to the exact broadcast cross join. Pass dim= to enable "
                    "LSH, or right_rows= for an authoritative size hint.",
                    stacklevel=2,
                )
                small = True
        strategy = "broadcast" if small else "lsh"
    if strategy != "lsh" and (left_score_offset or right_score_offset):
        # Silently dropping a requested perturbation would change
        # SCORES, not just the plan — refuse instead.
        raise ValueError(
            "knn_join score offsets are only plumbed through the 'lsh' "
            f"strategy; resolved strategy is {strategy!r}"
        )
    if strategy == "lsh":
        if dim is None:
            raise ValueError("knn_join(strategy='lsh') requires dim=")
        return knn_join_lsh(
            left,
            right,
            left_id=left_id,
            right_id=right_id,
            left_vec=left_vec,
            right_vec=right_vec,
            k=k,
            dim=dim,
            right_rows=right_rows,
            left_rows=left_rows,
            left_score_offset=left_score_offset,
            right_score_offset=right_score_offset,
        )
    if broadcast_side not in ("left", "right"):
        raise ValueError(
            f"knn_join broadcast_side must be 'left' or 'right'; got {broadcast_side!r}"
        )
    lsel = left.select(F.col(left_id).alias("_lid"), F.col(left_vec).alias("_lvec"))
    rsel = right.select(F.col(right_id).alias("_rid"), F.col(right_vec).alias("_rvec"))
    if exact_impl == "grouped":
        # Default exact path: cogroup-einsum top-k. ``broadcast_side``
        # names the SMALL side; the other side is hashed into cells, so
        # each vector crosses the wire once instead of once per pair
        # (sf10 A/B: 29 s cross-join pandas → ~2 s grouped; the JVM
        # expression forms are worse still — HOF 115 s, unrolled
        # element_at 85 s — per-pair UnsafeArrayData access dominates).
        out = grouped_probe_topk(
            rsel,
            lsel,
            corpus_id="_rid",
            probe_id="_lid",
            corpus_vec="_rvec",
            probe_vec="_lvec",
            k=k,
            hash_side="corpus" if broadcast_side == "left" else "probes",
        )
        return out.select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias(right_id),
            "score",
            "rank",
        )
    if exact_impl != "pairs":
        raise ValueError(
            f"knn_join exact_impl must be 'grouped' or 'pairs'; got {exact_impl!r}"
        )
    # Escape hatch: shuffle-free broadcast cross join + per-pair Arrow
    # scorer. Streams the big side with ZERO exchanges — right when the
    # pair count is small or a corpus shuffle is unaffordable — but
    # materializes |L|·|R| rows each dragging two vectors, so it loses
    # to the grouped kernel as soon as pairs reach the millions.
    if broadcast_side == "left":
        joined = rsel.crossJoin(F.broadcast(lsel))
    else:
        joined = lsel.crossJoin(F.broadcast(rsel))
    scored = joined.select(
        "_lid",
        "_rid",
        F.round(pairwise_cosine_udf()(F.col("_lvec"), F.col("_rvec")), 4).alias("score"),
    )
    # Two-phase grouped top-k: the broadcast path's group count is the
    # probe count, which is exactly the shape where a single
    # PARTITION BY _lid window collapses to probe-count-way
    # parallelism. Phase-1 output is ≤ k·|L| rows, so the extra
    # phase-2 shuffle is noise even when |L| is large.
    return grouped_topk(
        scored, "_lid", k, order_col="score", tiebreak_col="_rid"
    ).select(
        F.col("_lid").alias(left_id),
        F.col("_rid").alias(right_id),
        "score",
        "rank",
    )


def round_half_up4(x: "np.ndarray") -> "np.ndarray":
    """HALF-UP (half away from zero) rounding at 4 decimals — the same
    rule as Spark's F.round and SQL ROUND, unlike np.round's banker's
    half-to-even (ADVICE r8: 0.90625 must round to 0.9063 in every
    scorer, not 0.9062 in one of them)."""
    return np.sign(x) * np.floor(np.abs(x) * 1e4 + 0.5) / 1e4


def group_pairs_scorer(df, id_col: str, vec_col: str, threshold: float):
    """Shared per-group all-pairs cosine kernel for ``applyInPandas``.

    Returns ``(fn, out_schema)`` where ``fn`` scores every unordered
    pair WITHIN one group (a SemDeDup cell, an LSH bucket) and emits
    only ``(id_a, id_b, cosine_sim)`` rows at or above ``threshold``
    with ``id_a < id_b``. This is the round-8 scale cure for the
    pair-materialization disease: the join-based forms stream every
    candidate pair — dragging two embedding arrays each — through the
    Arrow scorer, while this moves each vector exactly once (into its
    group) and generates pairs inside numpy.

    Arithmetic is EXACTLY :func:`pairwise_cosine_udf`'s kernel (einsum
    row-dot, then divide by the norm product, then HALF-UP rounding at
    4 decimals to match the join paths' F.round and the oracles' SQL
    ROUND — not numpy's banker's rounding) — a blocked matmul would
    sum in a different order and could flip a round-4 boundary vs the
    oracle's sequential fold. Self-pairs are excluded by id inequality,
    matching the join forms' strict ``id_a < id_b`` predicate even when
    the input carries duplicate ids. Chunked: a skewed group of depth d holds
    d(d-1)/2 pairs; bounding the per-chunk pair count keeps peak
    memory flat no matter the skew (2M pairs × 64 dims ≈ 1 GB HWM).
    """
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )[id_col]
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine_sim double"
    thr = float(threshold)

    def empty() -> pd.DataFrame:
        return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []}).astype(
            {"cosine_sim": "float64"}
        )

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return empty()
        ids = pdf[id_col].to_numpy()
        M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(M, axis=1)
        iu0, iu1 = np.triu_indices(m, k=1)
        out_a, out_b, out_s = [], [], []
        CHUNK = 2_000_000
        for lo in range(0, len(iu0), CHUNK):
            s0, s1 = iu0[lo : lo + CHUNK], iu1[lo : lo + CHUNK]
            dots = np.einsum("ij,ij->i", M[s0], M[s1])
            denom = norms[s0] * norms[s1]
            raw = np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0)
            sims = round_half_up4(raw)
            # Strict id_a < id_b contract (ADVICE r8): the join forms
            # exclude self-pairs via a < predicate; with duplicate ids
            # in the input (the scaled twin corpora collide above 10k
            # vec_ids) the grouped form must not emit id==id rows.
            keep = (sims >= thr) & (ids[s0] != ids[s1])
            if keep.any():
                ia, ib = ids[s0[keep]], ids[s1[keep]]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
                out_s.append(sims[keep])
        if not out_a:
            return empty()
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine_sim": np.concatenate(out_s),
            }
        )

    return score_group, out_schema


def lsh_join_sizing(
    right_rows: int,
    *,
    n_tables: int = 16,
    planes_per_table: int = 5,
    design_cosine: float = 0.9,
    target_recall: float = 0.99,
) -> tuple[int, int]:
    """Corpus-aware (n_tables, planes_per_table) for the LSH kNN join.

    Two coupled rules, applied in order:

    1. **Bucket density** (round-7 sf1 sweep lesson, same failure mode
       as round-6's 6→12-bit embedding-LSH fix): with FIXED signature
       width the per-bucket depth grows linearly in corpus size and
       candidate pairs grow QUADRATICALLY — 32 buckets/table measured
       454 s at 20k×20k where 2k×2k took 4 s. Hold expected bucket
       depth ~16 by widening signatures with log2(n); random-pair
       collision rate — the cost term — stays O(1) per row.
    2. **Recall compensation** (ADVICE r7): widening planes alone makes
       per-table recall p^b decay with corpus size while n_tables stays
       fixed — at large n the join silently loses true neighbors at
       ``design_cosine``. Recompute the table count from the SAME
       analytic target :func:`..dedup.hyperplane_tables_for_recall`
       serves ``embedding_near_dup_pairs`` (``1-(1-p^b)^L ≥
       target_recall`` at ``cosine = design_cosine``) — the n^ρ growth
       in tables is the textbook LSH cost of holding recall while
       buckets stay shallow, made explicit instead of skipped.

    Both outputs only ever grow from the caller's floors, so small
    corpora keep the documented 16×5 configuration bit-for-bit.
    """
    import math

    from etl_project_spark.operators.dedup import hyperplane_tables_for_recall

    planes_per_table = max(
        planes_per_table, math.ceil(math.log2(max(2, right_rows / 16)))
    )
    n_tables = max(
        n_tables,
        hyperplane_tables_for_recall(design_cosine, planes_per_table, target_recall),
    )
    return n_tables, planes_per_table


#: Per-side cap for broadcasting the vector join-back of the LSH kNN
#: join (estimated as rows x (8*dim + 32) — double-width elements
#: assumed, row overhead included). 256 MB sits well under executor
#: memory on any sane cluster while covering every "large corpus,
#: modest dim" case where the candidate-pair stream — not the vector
#: table — is the thing that must never be sorted with payload.
_VEC_BROADCAST_CAP = 256 << 20


def _hint_plausible(vecs: DataFrame, hint_bytes: int) -> bool:
    """Sanity-clamp a caller's row-count hint against Catalyst's own
    size estimate before broadcasting (ADVICE r14: an understated
    ``left_rows``/``right_rows`` would broadcast an arbitrarily large
    frame — a driver/executor OOM class — with no runtime validation).

    ``optimizedPlan().stats().sizeInBytes`` is planning-time metadata
    (file sizes × column-pruning ratio for parquet scans) — no job
    runs. The estimate is compared against a LOOSE 16× multiple of the
    HINT-IMPLIED bytes, not of the absolute broadcast cap (ADVICE r15:
    the absolute form let a hint understated by <16× pass with a true
    size far above the 256 MB budget — e.g. a 2 GB frame behind a
    hint implying 200 MB). Catalyst inflates projections of wide rows,
    so the 16× slack absorbs estimator noise while keeping the
    worst-case admitted broadcast bounded by the hint's own claim. On
    any stats failure trust the hint (the documented contract: hints
    must be upper bounds)."""
    try:
        est = int(
            vecs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return True
    return est <= 16 * hint_bytes


def knn_join_lsh(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    right_id: str,
    left_vec: str,
    right_vec: str,
    k: int = 5,
    dim: int,
    n_tables: int = 16,
    planes_per_table: int = 5,
    right_rows: int | None = None,
    left_rows: int | None = None,
    design_cosine: float = 0.9,
    target_recall: float = 0.99,
    left_score_offset: float = 0.0,
    right_score_offset: float = 0.0,
) -> DataFrame:
    """LSH-bucketed kNN join — the scale path for large × large.

    Both sides get the SAME ``n_tables × planes_per_table`` hyperplane
    signatures (one Arrow matmul per batch); candidates are generated
    by a hash equi-join on (table, signature), deduped per (left,
    right) pair, exact-cosine reranked, and window-topped-k per probe.
    Shuffles are all on hashed keys; no cross join at any size. With
    16×5 bits a cosine-0.9 neighbor collides in ≥1 table w.p.
    ``1-(1-0.8565^5)^16 ≈ 0.9997``; random pairs at rate ≈ 0.4 — at
    lower agreement the probe only loses far-away neighbors, which is
    the approximation being bought. Left rows whose true k-th neighbor
    never collides return fewer than k rows (standard ANN semantics).

    ``left_rows`` / ``right_rows`` are ADVISORY UPPER BOUNDS on each
    side's row count (index-build-time metadata, e.g. a catalog
    count). They gate two things: LSH sizing (right side) and the
    vector join-back broadcast — so an UNDERSTATED hint used to
    broadcast an arbitrarily large frame. Each broadcast decision is
    now cross-checked against Catalyst's planning-time size estimate
    (:func:`_hint_plausible`) and falls back to the shuffle join when
    the estimate contradicts the hint by more than an order of
    magnitude; pass exact or over-stated counts for best plans.
    """
    from etl_project_spark.operators.dedup import _hyperplane_signs

    if right_rows is not None:
        n_tables, planes_per_table = lsh_join_sizing(
            right_rows,
            n_tables=n_tables,
            planes_per_table=planes_per_table,
            design_cosine=design_cosine,
            target_recall=target_recall,
        )
    planes = _hyperplane_signs(n_tables * planes_per_table, dim)
    sig_udf = hyperplane_table_sigs_udf(planes, n_tables)

    # NO persist: the signature UDF appears only in the posting-list
    # branch, and the vector join-back branch projects just (id, vec),
    # so column pruning keeps the Arrow matmul out of it entirely — the
    # expensive computation runs once per side regardless.  Round 2
    # persisted these at MEMORY_AND_DISK and never unpersisted; in a
    # session issuing many joins the leaked blocks competed with shuffle
    # memory (ADVICE r2) and made repeat executions SLOWER than cold.
    lpost = left.select(
        F.col(left_id).alias("_lid"),
        F.posexplode(sig_udf(F.col(left_vec))).alias("_t", "_sig"),
    )
    rpost = right.select(
        F.col(right_id).alias("_rid"),
        F.posexplode(sig_udf(F.col(right_vec))).alias("_t", "_sig"),
    )
    # Posting lists carry ONLY ids — vectors are joined back after the
    # pair-distinct so the wide embedding column never rides the
    # n_tables-way exploded shuffle.
    #
    # The distinct() is the RIGHT dedup here — adjudicated round 12
    # (BASELINE §r12) against the canonical-collision filter the r10
    # verdict prescribed (keep a pair only at its first agreeing
    # table). Measured at sf1 (20k × 20k, auto-sized 23×11-bit
    # tables): posting-join multiplicity is 1.07 (6.48M raw / 6.07M
    # pairs) — candidate mass, not duplicate mass, dominates, so there
    # is no meaningful shuffle to save. And the filter's n_tables-term
    # mask over two carried signature ARRAYS gets pushed into the
    # posting join's residual condition, where it degraded the entire
    # pipelined serving stage ~6× (matched-session sf1 A/B: 10.1 s ->
    # 75.8 s steady; staged bisection pinned the regression to the
    # stage containing the mask, with the candidate count itself
    # unchanged). The simhash canonical-combo filter wins in the
    # OPPOSITE regime — multiplicity ~180, scalar shift-mask, forced
    # SMJ — none of which holds here.
    cand = (
        lpost.join(rpost, ["_t", "_sig"])
        .select("_lid", "_rid")
        .distinct()  # collide once per pair
    )
    # Vector join-backs (r14 spill diet, BASELINE §r14): `scored`
    # projects down to (ids, score) immediately, so the wide vector
    # columns exist ONLY inside these two joins — and a sort-merge plan
    # here sorts the full candidate-pair stream WITH vector payload,
    # which is what put q_knn_join_lsh at ~67 GB of spill at sf10.
    # When a row-count hint says a side's vectors fit, broadcast it:
    # the join-back becomes map-side, and the pair stream then never
    # carries a vector through ANY exchange (the pair-distinct shuffles
    # ids, the top-k window shuffles (ids, score)). Above the cap the
    # shuffle join stands — callers should then pass the NARROWEST
    # vector type they have (float32 halves the payload; the scorer
    # widens to double exactly) and the score offsets below keep any
    # planted perturbation off the payload too.
    lvecs = left.select(F.col(left_id).alias("_lid"), F.col(left_vec).alias("_lvec"))
    rvecs = right.select(F.col(right_id).alias("_rid"), F.col(right_vec).alias("_rvec"))
    # Hints are advisory upper bounds (see docstring); _hint_plausible
    # cross-checks each against Catalyst's planning-time size estimate
    # so an understated hint degrades to the shuffle join instead of
    # broadcasting an arbitrarily large frame (ADVICE r14).
    if (
        left_rows is not None
        and left_rows * (8 * dim + 32) <= _VEC_BROADCAST_CAP
        and _hint_plausible(lvecs, left_rows * (8 * dim + 32))
    ):
        lvecs = F.broadcast(lvecs)
    if (
        right_rows is not None
        and right_rows * (8 * dim + 32) <= _VEC_BROADCAST_CAP
        and _hint_plausible(rvecs, right_rows * (8 * dim + 32))
    ):
        rvecs = F.broadcast(rvecs)
    scored = (
        cand.join(lvecs, "_lid")
        .join(rvecs, "_rid")
        .select(
            "_lid",
            "_rid",
            F.round(
                pairwise_cosine_udf(left_score_offset, right_score_offset)(
                    F.col("_lvec"), F.col("_rvec")
                ),
                4,
            ).alias("score"),
        )
    )
    w = W.partitionBy("_lid").orderBy(F.col("score").desc(), F.col("_rid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias(right_id),
            "score",
            "rank",
        )
    )


# -- Product quantization (PQ) ----------------------------------------------

def pq_codebooks(seeds: list[list[float]], n_sub: int) -> "np.ndarray":
    """Split ``ks`` seed vectors into per-subspace codebooks.

    Returns shape ``(n_sub, ks, dim // n_sub)``: codeword ``c`` of
    subspace ``s`` is the ``s``-th slice of seed vector ``c`` — the
    same deterministic no-RNG device as the IVF coarse centroids
    (:func:`deterministic_centroids`), which keeps every downstream
    stage SQL-replayable. Config-sized (ks × dim floats); a k-means
    refinement per subspace would tighten cells without changing any
    plan shape.
    """
    A = np.asarray(seeds, dtype=np.float64)
    ks, dim = A.shape
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    dsub = dim // n_sub
    return np.ascontiguousarray(A.reshape(ks, n_sub, dsub).transpose(1, 0, 2))


def pq_encode_udf(codebooks: "np.ndarray"):
    """Arrow-batched PQ encoder: vector → (codes, per-subspace sq-err).

    ``codes[s]`` is the L2-nearest codeword of slice ``s`` (ties to the
    LOWER codeword id — np.argmin's first-minimum rule, mirrored by the
    oracle's ``ORDER BY d, c``), ``errs[s]`` the winning squared
    distance (the reconstruction error of that slice). Squared
    distances accumulate ELEMENT-BY-ELEMENT, left to right — the same
    fold order as the oracle SQL's explicit 8-term sum, so argmin
    comparisons see bit-identical doubles in both engines (numpy's
    ``.sum`` is pairwise-blocked and could flip an ulp-tie).

    One scan, codebook in the task closure, no shuffle: the 100 TB
    shape for memory-bound ANN — 64 float dims become 8 uint8 codes
    (64× smaller residency), and ADC lookups against a query table
    replace full dot products.
    """
    CB = np.asarray(codebooks, dtype=np.float64)  # (S, K, D)
    S, K, D = CB.shape

    @pandas_udf(f"struct<codes: array<int>, errs: array<double>>")
    def enc(vecs: pd.Series) -> pd.DataFrame:
        M = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, S*D)
        n = M.shape[0]
        V = M.reshape(n, S, 1, D)
        d = (V[..., 0] - CB[None, :, :, 0]) ** 2  # (n, S, K)
        for i in range(1, D):
            d = d + (V[..., i] - CB[None, :, :, i]) ** 2
        codes = np.argmin(d, axis=2).astype("int32")  # (n, S)
        errs = np.take_along_axis(d, codes[..., None].astype(np.intp), axis=2)[
            ..., 0
        ]
        return pd.DataFrame({"codes": list(codes), "errs": list(errs)})

    return enc


def pq_adc_table(
    codebooks: "np.ndarray", query_vec: Sequence[float], decimals: int = 6
) -> list[list[float]]:
    """Query-to-codeword squared-distance lookup table for ADC search.

    ``dt[s][c] = round6(Σ_i (q_slice[i] - codeword[i])²)`` with a
    left-to-right fold and HALF-UP rounding — computed driver-side
    (config-sized: n_sub × ks) with exactly the arithmetic the oracle
    SQL spells out, so the per-row ADC sums downstream start from
    bit-identical table entries. Pre-rounding each entry puts every
    ADC total on the 1e-6 grid, which makes the final ROUND(·, 6)
    engine-order-proof.
    """
    CB = np.asarray(codebooks, dtype=np.float64)
    S, K, D = CB.shape
    q = np.asarray(list(query_vec), dtype=np.float64).reshape(S, 1, D)
    scale = 10.0**decimals
    out: list[list[float]] = []
    for s in range(S):
        row = []
        for c in range(K):
            acc = 0.0
            for i in range(D):
                diff = q[s, 0, i] - CB[s, c, i]
                acc = acc + diff * diff
            # HALF-UP at `decimals`, matching SQL ROUND
            row.append(
                float(np.sign(acc) * np.floor(abs(acc) * scale + 0.5) / scale)
            )
        out.append(row)
    return out


# -- IVF (inverted-file) coarse quantization --------------------------------

def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """Attach ``_cell`` = index of the nearest centroid (by cosine).

    One matmul per Arrow batch against the (config-sized) centroid
    matrix. At scale this is the IVF index build: writing the result
    partitioned by ``_cell`` gives partition-pruned probes.
    """
    C = np.asarray(centroids, dtype=np.float64)  # (n_cells, dim)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @pandas_udf("int")
    def cell(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ Cn.T, axis=1).astype("int32"))

    return df.withColumn("_cell", cell(F.col(vec_col)))


def deterministic_centroids(
    df: DataFrame, vec_col: str, id_col: str, *, n_cells: int, stride: int = 7
) -> list[list[float]]:
    """Pick ``n_cells`` deterministic seed vectors as coarse centroids.

    Strided-id sampling (no RNG, reproducible across runs). A k-means
    refinement would tighten cells; seeds alone already give the IVF
    cost shape, which is what matters for the scan-pruning math.
    The collect is index-build metadata: ``n_cells × dim`` floats.
    """
    rows = (
        df.filter((F.col(id_col) % stride) == 0)
        .orderBy(id_col)
        .limit(n_cells)
        .select(vec_col)
        .collect()
    )
    return [list(map(float, r[0])) for r in rows]


def kmeans_refine(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    *,
    n_iter: int = 3,
    grid: int | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd refinement of IVF centroids.

    Each round: assign every vector to its nearest centroid (one Arrow
    matmul per batch — the same ``ivf_assign`` kernel), then take the
    per-cell mean via a distributed aggregate. Only the ``n_cells ×
    dim`` new centroid matrix ever reaches the driver (index-build
    metadata, same size as the input centroids). Empty cells keep
    their previous centroid so the cell count is stable. No RNG
    anywhere — same input, same centroids, every run.

    The build-time cost is ``n_iter`` passes over the vectors; the
    payoff is tighter cells, i.e. fewer probes for the same recall at
    query time — the standard IVF training loop (Lloyd 1982).
    """
    current = [list(map(float, c)) for c in centroids]
    for _ in range(n_iter):
        assigned = ivf_assign(df, vec_col, current)
        # One parsed array expression, not dim×4 py4j Column calls —
        # the r17 plan-construction economy (identical sums, same cast).
        sum_members = ", ".join(
            f"sum(CAST(element_at({vec_col}, {i + 1}) AS DOUBLE))"
            for i in range(len(current[0]))
        )
        sums = (
            assigned.groupBy("_cell")
            .agg(
                F.expr(f"array({sum_members})").alias("_sum"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )
        nxt = {int(r["_cell"]): [s / r["_n"] for s in r["_sum"]] for r in sums}
        if grid is not None:
            # Cross-engine float discipline: snap every FRESH mean to a
            # 10^-grid lattice before the next assignment round, so an
            # SQL oracle recomputing the identical means (whose partial
            # sums fold in a different order, ~1e-15 apart) continues
            # from bit-identical centroids. Two rules matter (ADVICE
            # r12): the snap is HALF AWAY FROM ZERO (SQL ROUND), not
            # Python round()'s banker's half-to-even; and carried-over
            # empty-cell centroids are NOT re-snapped — the oracle's
            # COALESCE(m.cv, p.cvec) leaves them untouched.
            scale = 10.0**grid
            nxt = {
                i: [math.copysign(math.floor(abs(x) * scale + 0.5) / scale, x)
                    for x in c]
                for i, c in nxt.items()
            }
        current = [nxt.get(i, c) for i, c in enumerate(current)]
    return current


def assign_with_sim(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """``ivf_assign`` that also keeps the winning cosine similarity.

    One Arrow matmul per batch yields both the argmax (``_cell``) and
    the max (``_sim``) — used by cell-profile queries so membership and
    tightness come from the SAME kernel pass.
    """
    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @pandas_udf("struct<cell: int, sim: double>")
    def cell_sim(vecs: pd.Series) -> pd.DataFrame:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = mn @ Cn.T
        return pd.DataFrame(
            {
                "cell": np.argmax(sims, axis=1).astype("int32"),
                "sim": np.max(sims, axis=1),
            }
        )

    s = df.withColumn("_cs", cell_sim(F.col(vec_col)))
    return s.withColumn("_cell", F.col("_cs.cell")).withColumn(
        "_sim", F.col("_cs.sim")
    ).drop("_cs")


def probe_cells(
    query_vec: Sequence[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """Indices of the ``n_probe`` centroids closest to the query (cosine).

    Driver-side, config-sized work. Stable sort with index tie-break so
    a cosine tie (possible only with duplicate centroid vectors)
    resolves to the LOWER cell id — the same order an SQL
    ``ORDER BY sim DESC, cell_id`` oracle produces.
    """
    q = np.asarray(query_vec, dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)
    order = np.argsort(-(Cn @ qn), kind="stable")
    return [int(p) for p in order[:n_probe]]


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: Sequence[float],
    centroids: list[list[float]],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    n_probe: int = 4,
) -> DataFrame:
    """IVF search without a materialized index: assign cells in-flight,
    scan only the ``n_probe`` closest cells, exact-rerank within them.

    Scanned fraction of the RERANK is ≈ ``n_probe / n_cells``, but the
    cell assignment itself is a full pass over the vectors — this form
    only saves work when the rerank dominates. The scale path is
    :func:`ivf_write_index` + :func:`ivf_topk_indexed`, where the
    assignment is paid once at build time and every probe afterwards
    reads just the ``n_probe`` matching parquet partitions.
    """
    probe = probe_cells(query_vec, centroids, n_probe)
    assigned = ivf_assign(df, vec_col, centroids)
    candidates = assigned.filter(F.col("_cell").isin(probe))
    return brute_force_topk(candidates, vec_col, query_vec, k=k, id_col=id_col)


def ivf_write_index(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    path: str,
    *,
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF index: vectors + cell assignment, written as
    parquet partitioned by ``_cell``.

    The one-time index build pays the full-corpus assignment matmul;
    the Hive-style ``_cell=N/`` layout then turns every probe's cell
    filter into planning-time partition pruning (PartitionFilters, not
    a post-scan filter) — at 100 TB a probe reads ``n_probe/n_cells``
    of the data and never opens the other files. Same layout contract
    as tests/test_sources_sinks.py::test_partitioned_write_prunes.
    """
    assigned = ivf_assign(df.select(id_col, vec_col), vec_col, centroids)
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(path)


def ivf_append_index(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    path: str,
    *,
    id_col: str = "vec_id",
) -> None:
    """Incremental IVF maintenance (round-16 verdict #4): grow a
    materialized index by a batch WITHOUT re-assigning the corpus —
    assign only the batch against the FROZEN build-time centroids (one
    O(batch) Arrow matmul) and append into the cell-partitioned
    parquet (``partitionBy`` append adds files inside the matching
    ``_cell=N/`` dirs, touching no existing file).

    With frozen centroids, cell assignment is a per-vector pure
    function of (vector, centroid matrix), so the grown index is
    bit-identical to a full rebuild over corpus ∪ batch — every
    partition-pruned probe is oblivious to how the index grew
    (pinned in tests/test_ann_index.py). The price of freezing is
    DRIFT: batches from a shifted distribution still land in the
    nearest OLD cell, so cells fatten and within-cell tightness
    (mean cosine to own centroid) degrades, silently costing probe
    recall. :func:`ivf_cell_profile` + :func:`ivf_rebalance_cells`
    are the measure-and-repair pair for that failure mode.
    """
    assigned = ivf_assign(df.select(id_col, vec_col), vec_col, centroids)
    assigned.write.mode("append").partitionBy("_cell").parquet(path)


def ivf_cell_profile(
    index_df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Per-cell occupancy + tightness of a (possibly grown) IVF index:
    ``(_cell, n_vectors, mean_sim)`` where ``mean_sim`` is the mean
    cosine of each member to its OWN cell centroid — one Arrow batch
    kernel (gather the row's centroid, row-wise dot) and a map-side
    combined aggregate; nothing reaches the driver but the
    config-sized profile. Computed at build time and again after
    appends, the ratio of the two mean_sims per cell is the drift
    statistic a deployment alerts on."""
    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @pandas_udf("double")
    def own_sim(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        own = Cn[cells.to_numpy().astype(int)]
        return pd.Series(np.einsum("ij,ij->i", mn, own))

    return (
        index_df.withColumn(
            "_sim", own_sim(F.col(vec_col), F.col("_cell").cast("int"))
        )
        .groupBy(F.col("_cell").cast("int").alias("_cell"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.avg("_sim").alias("mean_sim"),
        )
    )


def ivf_drifted_cells(
    build_profile: DataFrame,
    current_profile: DataFrame,
    *,
    sim_ratio_floor: float = 0.98,
    occupancy_factor: float = 2.0,
) -> list[int]:
    """Cells whose post-append profile says the frozen centroid no
    longer represents its members: tightness ratio
    ``mean_sim_now / mean_sim_build`` below ``sim_ratio_floor`` (the
    appended vectors sit far from the centroid) or occupancy grown
    past ``occupancy_factor ×`` its build-time count (a fat cell makes
    every probe that touches it scan ``occupancy/n`` of the corpus).
    Driver-side over two config-sized profiles; returns cell ids for
    :func:`ivf_rebalance_cells`. A cell absent at build time (never
    possible with deterministic seeding, defensive) counts as
    drifted."""
    build = {int(r["_cell"]): r for r in build_profile.collect()}
    out = []
    for r in current_profile.collect():
        c = int(r["_cell"])
        b = build.get(c)
        if b is None:
            out.append(c)
            continue
        ratio = (r["mean_sim"] / b["mean_sim"]) if b["mean_sim"] else 1.0
        if ratio < sim_ratio_floor or r["n_vectors"] > occupancy_factor * b["n_vectors"]:
            out.append(c)
    return sorted(out)


def ivf_rebalance_cells(
    spark,
    path: str,
    vec_col: str,
    centroids: list[list[float]],
    cells: Iterable[int],
    *,
    id_col: str = "vec_id",
    n_iter: int = 2,
    merge_cos: float = 0.9,
) -> list[list[float]]:
    """Repair drifted cells by SPLIT-then-MERGE (incremental
    re-clustering without an O(corpus) retrain):

    1. **Split**: within each flagged cell, seed a second centroid at
       the member FARTHEST from the frozen one (lowest cosine, ties to
       the smallest id — deterministic, no RNG) and run ``n_iter``
       Lloyd steps over just that cell's members. The far half is the
       drifted mass the frozen centroid never represented.
    2. **Merge**: a coherent arriving domain scatters across MANY
       frozen cells (jitter decides the argmax when the new direction
       is orthogonal to every centroid), so the split-off far halves
       are near-duplicates of each other; leaving them as separate
       cells fragments the new domain and caps its recall at
       ``n_probe / n_fragments``. Far-half centroids with pairwise
       cosine ≥ ``merge_cos`` are union-found into one NEW cell
       (count-weighted mean centroid — driver-side, config-sized).
    3. **Rewrite**: each flagged cell's members are re-assigned
       between its kept near centroid and the merged new cells, and
       ONLY those cells' partitions are rewritten (dynamic partition
       overwrite swaps each ``_cell=N/`` dir at directory level).
       Untouched cells keep their centroids, partitions, and files —
       the repair is O(flagged cells' data), never O(corpus).

    Returns the grown centroid list (flagged cells keep their ids for
    the near halves; merged far groups get NEW ids appended), which
    the caller must use for every subsequent probe/append — probes
    with the old list would silently miss the moved vectors. The
    recall + scan-mass economics are recorded in BASELINE.md (round
    17); the repair cycle is pinned in tests/test_ann_index.py."""
    new_centroids = [list(map(float, c)) for c in centroids]
    splits: list[tuple[int, list[float], list[float], int]] = []
    for cell in sorted(set(int(c) for c in cells)):
        members = spark.read.parquet(path).filter(F.col("_cell") == cell)
        base = new_centroids[cell]
        # farthest member: lowest cosine to the frozen centroid, ties
        # to smallest id — one scan of the cell, one row collected
        Cn = np.asarray(base, dtype=np.float64)
        Cn = Cn / max(float(np.linalg.norm(Cn)), 1e-12)

        @pandas_udf("double")
        def sim_to_base(vecs: pd.Series) -> pd.Series:
            m = np.stack(vecs.to_numpy()).astype(np.float64)
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            return pd.Series(mn @ Cn)

        seed_row = (
            members.withColumn("_s", sim_to_base(F.col(vec_col)))
            .orderBy("_s", id_col)
            .limit(1)
            .select(vec_col)
            .collect()
        )
        if not seed_row:
            continue  # empty cell: nothing to split
        pair = [base, [float(x) for x in seed_row[0][0]]]
        pair = kmeans_refine(members, vec_col, pair, n_iter=n_iter)
        far_n = members.count()  # weight for the merge mean (upper
        # bound: near/far split sizes are refined below only if needed)
        splits.append((cell, pair[0], pair[1], far_n))

    if not splits:
        return new_centroids

    # -- merge near-duplicate far halves (driver-side, config-sized) --
    far = np.asarray([s[2] for s in splits], dtype=np.float64)
    fn = far / np.maximum(np.linalg.norm(far, axis=1, keepdims=True), 1e-12)
    sims = fn @ fn.T
    parent = list(range(len(splits)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(len(splits)):
        for j in range(i + 1, len(splits)):
            if sims[i, j] >= merge_cos:
                parent[find(j)] = find(i)
    groups: dict[int, list[int]] = {}
    for i in range(len(splits)):
        groups.setdefault(find(i), []).append(i)
    group_id: dict[int, int] = {}
    for root in sorted(groups):
        members_idx = groups[root]
        w = np.asarray([splits[i][3] for i in members_idx], dtype=np.float64)
        merged = (far[members_idx] * w[:, None]).sum(axis=0) / max(w.sum(), 1e-12)
        gid = len(new_centroids)
        new_centroids.append([float(x) for x in merged])
        for i in members_idx:
            group_id[i] = gid

    # -- rewrite the flagged cells under (near, merged far) ------------
    # One write for ALL flagged cells: several cells can feed the SAME
    # merged cell, and dynamic overwrite replaces every partition the
    # write emits — per-cell writes would clobber the shared merged
    # partition on each iteration. The union is localCheckpoint'ed
    # (eager) first: it materializes the relabeled rows (O(flagged
    # cells' data)) and severs lineage from the directory the write is
    # about to replace, so no task re-execution can re-list the
    # half-rewritten layout.
    relabels = []
    for k, (cell, near, _far_c, _n) in enumerate(splits):
        new_centroids[cell] = near
        gid = group_id[k]
        members = spark.read.parquet(path).filter(F.col("_cell") == cell)
        relabels.append(
            ivf_assign(
                members.select(id_col, vec_col),
                vec_col,
                [near, new_centroids[gid]],
            ).withColumn(
                "_cell",
                F.when(F.col("_cell") == 0, F.lit(cell)).otherwise(F.lit(gid)),
            )
        )
    moved = relabels[0]
    for r in relabels[1:]:
        moved = moved.unionByName(r)
    moved = moved.localCheckpoint(eager=True)
    with _dynamic_partition_overwrite(spark):
        moved.write.mode("overwrite").partitionBy("_cell").parquet(path)
    return new_centroids


@contextmanager
def _dynamic_partition_overwrite(spark):
    """Scoped ``partitionOverwriteMode=dynamic``: overwrite replaces
    ONLY the partitions the write produces (the rewritten cell + the
    new split cell), leaving every other ``_cell=N/`` dir untouched —
    restore the previous mode on exit so other writers keep their
    semantics."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def ivf_topk_indexed(
    spark,
    path: str,
    vec_col: str,
    query_vec: Sequence[float],
    centroids: list[list[float]],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    n_probe: int = 4,
) -> DataFrame:
    """IVF search over a materialized index: read ONLY the ``n_probe``
    closest cells' partitions, exact-rerank within them.

    The ``_cell`` filter is a literal IN-list over the partition column,
    so Catalyst resolves it at planning time against the directory
    listing — files in other cells are never opened (asserted by
    tests/test_similarity.py via ``input_file_name()``). No full scan,
    no per-probe assignment matmul: the fix for the round-5 verdict's
    "IVF probe never prunes" finding.
    """
    probe = probe_cells(query_vec, centroids, n_probe)
    index = spark.read.parquet(path)
    candidates = index.filter(F.col("_cell").isin(probe))
    return brute_force_topk(candidates, vec_col, query_vec, k=k, id_col=id_col)


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    *,
    threshold: float = 0.9,
    strategy: str = "grouped",
    broadcast_threshold: int = 1_000_000,
    broadcast_threshold_bytes: int = 256 << 20,
    row_hint: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: cluster-then-compare.

    The Abbas et al. (2023) SemDeDup recipe re-expressed relationally:
    assign every embedding to its nearest coarse centroid
    (:func:`ivf_assign` — one Arrow matmul per batch against the
    config-sized centroid matrix), then compute exact pairwise cosine
    ONLY within each cell via a self-equi-join on ``_cell``. Pair cost
    drops from O(n²) to O(Σ |cell|²) ≈ n²/k for balanced cells — the
    property that makes semantic dedup feasible on a pretraining-scale
    corpus, at the documented price that a near-dup pair split across
    two cells is not examined (both engines in the parity check apply
    the identical cell rule, so the trade-off itself is hash-checked).

    Scale: the join shuffles on the int ``_cell`` key; skewed cells
    respond to AQE skew-join splitting since the per-cell workload is
    embarrassingly pair-parallel. Nothing is collected — the centroid
    list is config-sized index metadata, exactly as in IVF.

    Physical strategy (round-8):

    - ``grouped`` (DEFAULT, the scale path): ONE shuffle of the n
      assigned rows on ``_cell``, then per-cell pairwise scoring inside
      an ``applyInPandas`` numpy kernel that emits only the pairs at or
      above the threshold. Candidate pairs are never materialized as
      Spark rows: the join-based forms below stream every within-cell
      pair — each dragging TWO embedding arrays — through the Arrow
      scorer (~50 GB of pair traffic at 400k vectors / 250-deep cells;
      measured 218 s at the round-8 sf10 sweep), while grouped moves
      each vector exactly once (same sweep point: 23 s, 9.5×). The
      per-pair arithmetic replays :func:`pairwise_cosine_udf`'s exact
      einsum kernel in bounded chunks, so results are bit-identical.
    - ``broadcast``: broadcast-hash-join build side on ``_cell``,
      round-robin probe side across the shuffle width (mapInPandas
      stats are invisible to the optimizer — without the repartition
      the probe side inherits the parquet split count).
    - ``shuffle``: plain equi-join on ``_cell`` (SortMergeJoin) —
      the pure-relational fallback when Arrow UDFs are unavailable.
    - ``auto``: the lazy broadcast-vs-shuffle gate between the two
      join forms, mirroring :func:`knn_join` — an explicit ``row_hint``
      (index-build metadata the caller usually already holds) against
      ``broadcast_threshold`` rows, else Catalyst's optimized-plan size
      statistic of the INPUT ``df`` (driver-side, no job) against
      ``broadcast_threshold_bytes``; Spark Connect (no ``_jdf``) falls
      back to broadcast. Never an eager count.
    """
    if strategy not in ("grouped", "auto", "broadcast", "shuffle"):
        raise ValueError(
            "semantic_dedup_pairs strategy must be 'grouped', 'auto', "
            f"'broadcast', or 'shuffle'; got {strategy!r}"
        )
    if strategy == "auto":
        if row_hint is not None:
            small = row_hint <= broadcast_threshold
        else:
            try:
                size = int(
                    df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
                small = size <= broadcast_threshold_bytes
            except AttributeError:
                small = True
        strategy = "broadcast" if small else "shuffle"
    assigned = ivf_assign(df.select(id_col, vec_col), vec_col, centroids)
    if strategy == "grouped":
        fn, out_schema = group_pairs_scorer(df, id_col, vec_col, threshold)
        return assigned.groupBy("_cell").applyInPandas(fn, out_schema)
    # Scorer: the Arrow-batched einsum UDF (same kernel the LSH verify
    # path hash-matches against DuckDB's list_cosine_similarity), ~20×
    # the interpreted zip_with fold per pair. asNondeterministic
    # (guide §4.4): without it the threshold filter below is pushed
    # under the projection by duplicating the UDF — every within-cell
    # pair would pay the einsum twice (see embedding_near_dup_pairs).
    sim = F.round(
        pairwise_cosine_udf().asNondeterministic()(
            F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")
        ),
        4,
    )
    b = assigned.alias("b")
    if strategy == "broadcast":
        shuffle_w = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        a = assigned.repartition(shuffle_w).alias("a")
        build = F.broadcast(b)
    else:
        a = assigned.alias("a")
        build = b
    return (
        a.join(
            build,
            (F.col("a._cell") == F.col("b._cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def mmr_select_kernel(
    probe_col: str,
    id_col: str,
    vec_col: str,
    rel_col: str,
    *,
    k: int = 5,
    lam: float = 0.7,
    one_minus_lam: float = 0.3,
):
    """Greedy Maximal-Marginal-Relevance selection inside one probe's
    candidate pool — ``(fn, out_schema)`` for ``applyInPandas``.

    Each step picks argmax of ``lam·rel − (1−lam)·max_sim_to_selected``
    (ties → smallest id), the Carbonell–Goldstein 1998 re-ranking.
    ``one_minus_lam`` is passed as its own literal, NOT computed as
    ``1 − lam`` — ``1 − 0.7`` in binary is ``0.30000000000000004``,
    while the SQL oracle writes the literal ``0.3``; both engines must
    multiply by the SAME double. All similarity inputs are HALF-UP
    4-decimal snapped (``round_half_up4``, einsum row-dot — the
    group_pairs_scorer arithmetic), so the MMR expression combines
    bit-identical operands and needs no further snapping until the
    plan-side ROUND(·, 6) on output.
    """
    out_schema = (
        f"{probe_col} long, {id_col} long, mmr_rank int, "
        f"{rel_col} double, mmr_score double"
    )

    def select_group(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        probe = pdf[probe_col].iloc[0]
        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy().astype(np.float64)
        M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(M, axis=1)
        sims = np.zeros((m, m))
        if m > 1:
            iu0, iu1 = np.triu_indices(m, k=1)
            dots = np.einsum("ij,ij->i", M[iu0], M[iu1])
            denom = norms[iu0] * norms[iu1]
            raw = np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0)
            s4 = round_half_up4(raw)
            sims[iu0, iu1] = s4
            sims[iu1, iu0] = s4
        remaining = np.ones(m, dtype=bool)
        # Max cosine to the selected set. −inf = "empty set", which the
        # MMR term treats as 0 (the oracle's COALESCE(MAX(..), 0)) —
        # but once non-empty the max may legitimately be NEGATIVE, so
        # it must not be clamped at 0.
        maxsim = np.full(m, -np.inf)
        rows = []
        for step in range(1, min(k, m) + 1):
            mmr = lam * rel - one_minus_lam * np.where(
                np.isfinite(maxsim), maxsim, 0.0
            )
            cand = np.where(remaining)[0]
            best = mmr[cand].max()
            tied = cand[mmr[cand] == best]
            pick = int(tied[np.argmin(ids[tied])])
            rows.append((int(probe), int(ids[pick]), step, rel[pick], mmr[pick]))
            remaining[pick] = False
            maxsim = np.maximum(maxsim, sims[:, pick])
        return pd.DataFrame(
            rows, columns=[probe_col, id_col, "mmr_rank", rel_col, "mmr_score"]
        )

    return select_group, out_schema
