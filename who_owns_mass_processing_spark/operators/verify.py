"""Exact verification of banded candidate pairs (block-then-verify).

Reference analog: the reference *blocks* by name/address then keeps only
pairs whose TF-IDF cosine clears min_simil (0.85 inst / 0.95 individual,
R/deduplicaters.R:342-346, config.R:28-29).  Here:

  caption tier  exact Jaccard over char-shingle arrays (builtins:
                array_intersect — no Python) >= cfg.jaccard_threshold;
  image tier    popcount Hamming over pHash (builtin bit_count)
                <= cfg.hamming_radius, plus for *lossy* formats a PSNR
                >= 40 dB decoded-pixel check (pandas UDF) — the two-tier
                strict/loose rule mirroring the reference's 0.85/0.95.

Scale notes: the verify join re-attaches per-id features by shuffling on
id — bytes are re-joined ONLY for the lossy-pair PSNR subset (tiny), the
Jaccard verify carries shingle arrays not raw text, and every join is a
plain equi-join AQE can re-plan.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.functions.images import psnr_pair_udf
from who_owns_mass_processing_spark.functions.text import jaccard_arrays

# Map-side verify engages only when the feature table is PROVABLY this
# small (caller-supplied row bound): ~100k rows of codes+minhash is a
# few hundred MB broadcast — the same magnitude Spark itself allows a
# broadcast hash join.  Larger corpora take the equi-join path, which
# is the correct 100-TB shape (features cannot be resident per worker).
# After collection the ACTUAL byte size is checked too (the row bound
# cannot see array widths; every reused python worker holds one copy of
# the broadcast value): above the byte cap the join path runs and the
# collect is written off.
BROADCAST_VERIFY_MAX_ROWS = 100_000
BROADCAST_VERIFY_MAX_BYTES = 256 * 1024 * 1024
# Above this row count, a doomed collect is expensive enough (hundreds
# of MB of driver assembly) that one tiny aggregation job to ESTIMATE
# the byte size first is the cheaper failure mode; below it, collecting
# directly saves that job on the common small-corpus path.
_PREGATE_MIN_ROWS = 20_000


def _bytes_pregate(
    features: DataFrame, array_col: str, rows: int | None, fixed_per_row: int
) -> bool:
    """True when the feature table is provably over the broadcast byte
    cap WITHOUT collecting it: one scalar agg over the (checkpointed)
    features prices the variable-width array column; `fixed_per_row`
    covers fixed-width columns (e.g. the minhash matrix).  Only runs
    when `rows` exceeds _PREGATE_MIN_ROWS — at 10x bench scale the
    fallback previously collected ~1.4 GB to the driver just to throw
    it away (measured); small corpora skip the extra job entirely."""
    if rows is None or rows <= _PREGATE_MIN_ROWS:
        return False
    n = features.agg(F.sum(F.size(array_col))).collect()[0][0] or 0
    return int(n) * 8 + rows * fixed_per_row > BROADCAST_VERIFY_MAX_BYTES


def _collect_ragged_arrow(
    features: DataFrame, id_col: str, array_col: str, extra_cols: tuple[str, ...] = ()
):
    """Arrow-collect (id, array<...>[, extras]) and return
    (sids_sorted, out_offs, flat_vals, lens_sorted, order, table) with the
    ragged column re-laid-out in ascending-id row order — every step a
    vectorized numpy gather, no per-row Python.

    The previous toPandas path materialized a Python list per row and an
    np.asarray per cell (measured ~0.3-0.5 s of driver time per
    map-side-verified query at sf0.1); here the Arrow list column's
    (offsets, values) buffers are consumed directly: the sorted flat
    layout is one fancy-index gather over the child values array."""
    tab = features.select(id_col, array_col, *extra_cols).toArrow()
    sids = tab.column(0).to_numpy().astype(np.int64, copy=False)
    arr = tab.column(1).combine_chunks()
    if arr.offset != 0:  # sliced list array: offsets/values disagree on
        return None  # the base index — never true for a collected table
    offs_a = arr.offsets.to_numpy().astype(np.int64, copy=False)
    vals = arr.values.to_numpy(zero_copy_only=False)
    order = np.argsort(sids, kind="stable")
    sids_s, out_offs, flat, lens_s = _sorted_ragged(order, offs_a, vals, sids)
    return sids_s, out_offs, flat, lens_s, order, tab


def _sorted_ragged(
    order: np.ndarray, offs_a: np.ndarray, vals: np.ndarray, sids: np.ndarray
):
    """Re-lay a ragged (offsets, values) column into ascending-id row
    order with one vectorized gather; returns (sids_sorted, out_offs,
    flat_sorted, lens_sorted)."""
    lens = np.diff(offs_a)
    sids_s = sids[order]
    lens_s = lens[order]
    out_offs = np.zeros(len(lens_s) + 1, dtype=np.int64)
    np.cumsum(lens_s, out=out_offs[1:])
    total = int(out_offs[-1])
    if total:
        src_start = offs_a[:-1][order]
        pos = (
            np.arange(total, dtype=np.int64)
            - np.repeat(out_offs[:-1], lens_s)
            + np.repeat(src_start, lens_s)
        )
        flat = vals[pos]
    else:
        flat = vals[:0]
    return sids_s, out_offs, flat, lens_s


def _fixed_matrix_from_list_column(col, width: int, order: np.ndarray):
    """Arrow list column of uniform `width` -> (n, width) numpy matrix in
    `order` row order; returns None when rows are not uniform (caller
    falls back to the per-row path)."""
    arr = col.combine_chunks()
    if arr.offset != 0:
        return None
    offs = arr.offsets.to_numpy().astype(np.int64, copy=False)
    if len(offs) > 1 and not bool(np.all(np.diff(offs) == width)):
        return None
    vals = arr.values.to_numpy(zero_copy_only=False)
    n = len(offs) - 1
    start = int(offs[0]) if len(offs) else 0
    return vals[start : start + n * width].reshape(n, width)[order]


def _spark_round6(x: np.ndarray) -> np.ndarray:
    """Spark's round(double, 6) (BigDecimal HALF_UP) for the Jaccard
    rationals: floor(x*1e6 + 0.5 + 1e-9)/1e6.  Exact-equivalence
    argument: J = I/U with U = |A∪B|; the fractional part of J*1e6 is
    either exactly .5 (then the 1e-9 bump rounds up = HALF_UP) or at
    least 1/(2U) >= 5e-9 away from .5 for U up to 1e8 — far beyond the
    float64 error (~1e-10 at this scale) plus the bump."""
    return np.floor(x * 1e6 + 0.5 + 1e-9) / 1e6


def _lookup_pairs(sids: np.ndarray, a: np.ndarray, b: np.ndarray):
    """Rows of `a` and `b` in the sorted broadcast id array `sids`, keeping
    only pairs whose ids are BOTH present — the join path's inner-join
    semantics.  A bare searchsorted would hand an absent id its
    neighbour's row (or run off the end).  Returns (a, b, ia, ib)."""
    if len(sids) == 0:
        return a[:0], b[:0], a[:0], b[:0]
    ia = np.minimum(np.searchsorted(sids, a), len(sids) - 1)
    ib = np.minimum(np.searchsorted(sids, b), len(sids) - 1)
    keep = (sids[ia] == a) & (sids[ib] == b)
    if keep.all():
        return a, b, ia, ib
    return a[keep], b[keep], ia[keep], ib[keep]


def jaccard_mapside_eligible(
    features: DataFrame,
    id_col: str,
    features_rows: int | None,
    minhash_col: str | None,
    num_perm: int | None,
) -> bool:
    """Static (pre-collect) eligibility for the broadcast map-side
    Jaccard verify — shared by verify_jaccard and callers that build
    the broadcast on a side thread (overlapped with the census phase)."""
    return (
        minhash_col is not None
        and bool(num_perm)
        and features_rows is not None
        and features_rows <= BROADCAST_VERIFY_MAX_ROWS
        and features.schema[id_col].dataType.simpleString() == "bigint"
    )


class _SideBuild:
    """The future of a side-thread broadcast build; `result()` hands the
    broadcast to its consumer, who then owns it."""

    def __init__(self, future):
        self._future = future
        self.taken = False

    def result(self):
        self.taken = True
        return self._future.result()

    def release(self) -> None:
        """Cancel an untaken build, or await it and destroy its broadcast."""
        if self.taken or self._future.cancel():
            return
        try:
            bvar = self._future.result()
        except Exception:  # the caller's own error is what propagates
            return
        if bvar is not None:
            bvar.destroy()


@contextmanager
def side_built_bvar(enabled: bool, build, *args, **kwargs):
    """Run a map-side broadcast `build` on a driver side thread, so its
    collect overlaps the caller's census/cell phase (guide §2.6); yields
    the future, or None when not `enabled`.  On exit, a build nobody took
    with `result()` (the caller raised first) is cancelled, or awaited
    and its broadcast destroyed, so an error leaks neither."""
    if not enabled:
        yield None
        return
    pool = ThreadPoolExecutor(max_workers=1)
    side = _SideBuild(pool.submit(build, *args, **kwargs))
    pool.shutdown(wait=False)
    try:
        yield side
    finally:
        side.release()


def build_jaccard_mapside_bvar(
    features: DataFrame,
    id_col: str,
    shingle_col: str,
    minhash_col: str,
    num_perm: int,
    features_rows: int | None = None,
):
    """Collect + numpy-layout + broadcast of the verify feature table;
    returns the Broadcast or None (over the byte cap / non-contiguous
    Arrow layout — caller falls back to the join path).  Safe to run on
    a driver side thread (guide §2.6): the collect job and the broadcast
    pickle then OVERLAP the census/cell phase instead of serializing
    after it (measured ~0.7 s of driver-only gaps per LSH tier)."""
    if _bytes_pregate(features, shingle_col, features_rows, num_perm * 8):
        return None  # provably over the cap: skip the doomed collect
    collected = _collect_ragged_arrow(features, id_col, shingle_col, (minhash_col,))
    if collected is None:
        return None
    sids_s, offs, flat, lens, order, tab = collected
    flat = flat.astype(np.int64, copy=False)
    mh = _fixed_matrix_from_list_column(tab.column(2), num_perm, order)
    if mh is None:  # ragged minhash rows (never produced by signature_udf)
        return None
    mh = mh.astype(np.int64, copy=False)
    if flat.nbytes + mh.nbytes > BROADCAST_VERIFY_MAX_BYTES:
        return None  # caller falls back to the join path
    return features.sparkSession.sparkContext.broadcast(
        (sids_s, mh, offs, flat, lens)
    )


def _verify_jaccard_mapside(
    pairs: DataFrame,
    bvar,
    threshold: float,
    num_perm: int,
    gate: float,
    ratio_floor: float,
) -> DataFrame:
    """Broadcast map-side twin of the join-path verify (guide §3.1/§4.2):
    the feature table (surrogate id, sorted shingle codes, minhash) is
    collected once from its checkpoint, shipped as numpy arrays, and one
    mapInArrow pass over the bare (a, b) candidate pairs fuses the
    size-ratio gate, the minhash estimate gate, the exact sorted-array
    intersect, and Spark-identical rounding — no per-pair join, no
    interpreted higher-order expressions, and only 16 bytes/pair cross
    the Python boundary.  Emits exactly the join path's rows (gate
    constants and float compares are bit-identical IEEE ops; pinned in
    tests/test_blocking.py)."""
    import pyarrow as pa

    thr = float(threshold)
    nperm = float(num_perm)

    def gen(batches):
        sids_b, mh_b, offs_b, flat_b, lens_b = bvar.value
        for batch in batches:
            a = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            b = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            a, b, ia, ib = _lookup_pairs(sids_b, a, b)
            if len(a) == 0:
                continue
            na = lens_b[ia]
            nb = lens_b[ib]
            keep = np.minimum(na, nb).astype(np.float64) >= ratio_floor * np.maximum(
                na, nb
            ).astype(np.float64)
            est = (mh_b[ia] == mh_b[ib]).sum(axis=1) / nperm
            keep &= est >= gate
            out_a: list[int] = []
            out_b: list[int] = []
            out_j: list[float] = []
            for i in np.nonzero(keep)[0].tolist():
                # codes are sorted in UNSIGNED order before the int64
                # store (signature_udf sorts the uint64 shingle codes) —
                # reinterpret the bits so searchsorted sees that order
                A = flat_b[offs_b[ia[i]] : offs_b[ia[i] + 1]].view(np.uint64)
                B = flat_b[offs_b[ib[i]] : offs_b[ib[i] + 1]].view(np.uint64)
                if len(A) > len(B):
                    A, B = B, A
                if len(B) == 0:
                    inter = 0
                else:
                    pos = np.searchsorted(B, A)
                    inter = int((B[np.minimum(pos, len(B) - 1)] == A).sum())
                union = int(na[i]) + int(nb[i]) - inter
                j = 1.0 if union <= 0 else inter / union
                jr = float(_spark_round6(np.float64(j)))
                if jr >= thr:
                    out_a.append(int(a[i]))
                    out_b.append(int(b[i]))
                    out_j.append(jr)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_a, type=pa.int64()),
                    pa.array(out_b, type=pa.int64()),
                    pa.array(out_j, type=pa.float64()),
                ],
                ["a", "b", "jaccard"],
            )

    return pairs.select("a", "b").mapInArrow(gen, "a bigint, b bigint, jaccard double")


def build_containment_mapside_bvar(
    features: DataFrame,
    id_col: str,
    shingle_col: str,
    features_rows: int | None = None,
):
    """Collect + broadcast for the containment map-side verify; None
    over the byte cap.  Side-thread-safe (see build_jaccard_mapside_bvar)."""
    if _bytes_pregate(features, shingle_col, features_rows, 0):
        return None  # provably over the cap: skip the doomed collect
    collected = _collect_ragged_arrow(features, id_col, shingle_col)
    if collected is None:
        return None
    sids_s, offs, flat, lens, _order, _tab = collected
    flat = flat.astype(np.int64, copy=False)
    if flat.nbytes > BROADCAST_VERIFY_MAX_BYTES:
        return None  # caller falls back to the join path
    return features.sparkSession.sparkContext.broadcast((sids_s, offs, flat, lens))


def containment_verify_mapside(
    pairs: DataFrame,
    features: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    features_rows: int | None = None,
    bvar_future=None,
) -> DataFrame | None:
    """Broadcast map-side twin of the containment verify: for each
    candidate (a, b) emit BOTH ordered directions (ra, rb, containment)
    with containment = |A∩B|/|A| rounded like Spark's round(double, 6)
    and filtered at `threshold` — exactly the join path's rows (empty-
    codes sides emit nothing, matching the size(_c)>0 guards; the
    rounding exactness argument is `_spark_round6`'s rational-gap one,
    denominators here are single-doc shingle counts)."""
    import pyarrow as pa

    if bvar_future is not None:
        bvar = bvar_future.result()
    else:
        bvar = build_containment_mapside_bvar(
            features, id_col, shingle_col, features_rows=features_rows
        )
    if bvar is None:
        return None
    thr = float(threshold)

    def gen(batches):
        sids_b, offs_b, flat_b, lens_b = bvar.value
        for batch in batches:
            a = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            b = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            a, b, ia, ib = _lookup_pairs(sids_b, a, b)
            if len(a) == 0:
                continue
            out_ra: list[int] = []
            out_rb: list[int] = []
            out_c: list[float] = []
            for i in range(len(a)):
                na = int(lens_b[ia[i]])
                nb = int(lens_b[ib[i]])
                if na == 0 and nb == 0:
                    continue
                A = flat_b[offs_b[ia[i]] : offs_b[ia[i] + 1]].view(np.uint64)
                B = flat_b[offs_b[ib[i]] : offs_b[ib[i] + 1]].view(np.uint64)
                S, L = (A, B) if len(A) <= len(B) else (B, A)
                if len(L) == 0:
                    inter = 0
                else:
                    pos = np.searchsorted(L, S)
                    inter = int((L[np.minimum(pos, len(L) - 1)] == S).sum())
                if na > 0:
                    c = float(_spark_round6(np.float64(inter / na)))
                    if c >= thr:
                        out_ra.append(int(a[i]))
                        out_rb.append(int(b[i]))
                        out_c.append(c)
                if nb > 0:
                    c = float(_spark_round6(np.float64(inter / nb)))
                    if c >= thr:
                        out_ra.append(int(b[i]))
                        out_rb.append(int(a[i]))
                        out_c.append(c)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ra, type=pa.int64()),
                    pa.array(out_rb, type=pa.int64()),
                    pa.array(out_c, type=pa.float64()),
                ],
                ["ra", "rb", "containment"],
            )

    return pairs.select("a", "b").mapInArrow(
        gen, "ra bigint, rb bigint, containment double"
    )


def containment_verify_join(
    pairs: DataFrame, features: DataFrame, id_col: str, shingle_col: str, threshold: float
) -> DataFrame:
    """Equi-join containment verify, the unbounded-corpus shape of
    `containment_verify_mapside`: both ordered directions (ra, rb,
    containment), empty-codes sides emit nothing."""
    ca = features.select(F.col(id_col).alias("a"), F.col(shingle_col).alias("_ca"))
    cb = features.select(F.col(id_col).alias("b"), F.col(shingle_col).alias("_cb"))
    joined = (
        pairs.join(ca, "a")
        .join(cb, "b")
        .select(
            "a", "b", "_ca", "_cb",
            F.size(F.array_intersect("_ca", "_cb")).cast("double").alias("_inter"),
        )
    )
    fwd = joined.where(F.size("_ca") > 0).select(
        F.col("a").alias("ra"), F.col("b").alias("rb"),
        F.round(F.col("_inter") / F.size("_ca").cast("double"), 6).alias("containment"),
    )
    bwd = joined.where(F.size("_cb") > 0).select(
        F.col("b").alias("ra"), F.col("a").alias("rb"),
        F.round(F.col("_inter") / F.size("_cb").cast("double"), 6).alias("containment"),
    )
    return fwd.unionByName(bwd).where(F.col("containment") >= threshold)


def build_winnow_mapside_bvar(
    features: DataFrame,
    id_col: str,
    fps_col: str,
    k: int,
    features_rows: int | None = None,
):
    """Collect + pack + broadcast for the winnow map-side verify; None
    when ineligible (k > 8, byte cap, non-ascii grams).  Side-thread-
    safe (see build_jaccard_mapside_bvar)."""
    if k > 8:
        return None
    if _bytes_pregate(features, fps_col, features_rows, 0):
        return None  # provably over the cap: skip the doomed collect
    tab = features.select(id_col, fps_col).toArrow()
    sids = tab.column(0).to_numpy().astype(np.int64, copy=False)
    arr = tab.column(1).combine_chunks()  # list<string> of k-char grams
    if arr.offset != 0:  # sliced list array — never true for a collected table
        return None
    row_offs = arr.offsets.to_numpy().astype(np.int64, copy=False)
    sv = arr.values  # flat gram StringArray shared by all rows
    # vectorized pack of EVERY gram at once: the utf8 child is one
    # contiguous (offsets, data) buffer pair (guide §4.2's Arrow
    # property), and grams are ascii so byte length == char length == k
    # — one fancy-index gather builds the (n_grams, 8) byte matrix, the
    # big-endian view is the same order-preserving code the per-row
    # pack produced.  Non-k byte lengths (non-ascii — never produced by
    # winnow_fingerprints) return None -> the join path.
    packed = np.empty(0, dtype=np.uint64)
    if len(sv):
        if sv.null_count:
            return None
        so_buf, data_buf = sv.buffers()[1], sv.buffers()[2]
        so = np.frombuffer(so_buf, dtype=np.int32)[
            sv.offset : sv.offset + len(sv) + 1
        ].astype(np.int64, copy=False)
        if not bool(np.all(np.diff(so) == k)):
            return None
        data = np.frombuffer(data_buf, dtype=np.uint8)
        wide = np.zeros((len(sv), 8), dtype=np.uint8)
        wide[:, :k] = data[so[:-1, None] + np.arange(k)]
        packed = wide.view(np.dtype(">u8")).ravel().astype(np.uint64)
    order = np.argsort(sids, kind="stable")
    sids_s, offs, flat, lens = _sorted_ragged(order, row_offs, packed, sids)
    if flat.nbytes > BROADCAST_VERIFY_MAX_BYTES:
        return None
    return features.sparkSession.sparkContext.broadcast((sids_s, offs, flat, lens))


def winnow_verify_mapside(
    pairs: DataFrame,
    features: DataFrame,
    id_col: str,
    fps_col: str,
    k: int,
    min_shared: int,
    features_rows: int | None = None,
    bvar_future=None,
) -> DataFrame | None:
    """Broadcast map-side twin of the winnow-pair verify: n_shared =
    |fps_a ∩ fps_b| over the per-doc fingerprint sets, filtered at
    min_shared — an integer count, no rounding concerns.  Fingerprints
    are k-char grams (k <= 8 required): each packs into a big-endian
    uint64 preserving lexicographic order, so the sorted string arrays
    stay sorted as codes and the intersect is the same searchsorted
    merge the Jaccard tier uses."""
    import pyarrow as pa

    if bvar_future is not None:
        bvar = bvar_future.result()
    else:
        bvar = build_winnow_mapside_bvar(
            features, id_col, fps_col, k, features_rows=features_rows
        )
    if bvar is None:
        return None
    ms = int(min_shared)

    def gen(batches):
        sids_b, offs_b, flat_b, lens_b = bvar.value
        for batch in batches:
            a = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            b = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            a, b, ia, ib = _lookup_pairs(sids_b, a, b)
            if len(a) == 0:
                continue
            out_a: list[int] = []
            out_b: list[int] = []
            out_n: list[int] = []
            for i in range(len(a)):
                A = flat_b[offs_b[ia[i]] : offs_b[ia[i] + 1]]
                B = flat_b[offs_b[ib[i]] : offs_b[ib[i] + 1]]
                if len(A) > len(B):
                    A, B = B, A
                if len(B) == 0:
                    inter = 0
                else:
                    pos = np.searchsorted(B, A)
                    inter = int((B[np.minimum(pos, len(B) - 1)] == A).sum())
                if inter >= ms:
                    out_a.append(int(a[i]))
                    out_b.append(int(b[i]))
                    out_n.append(inter)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_a, type=pa.int64()),
                    pa.array(out_b, type=pa.int64()),
                    pa.array(out_n, type=pa.int64()),
                ],
                ["a", "b", "n_shared"],
            )

    return pairs.select("a", "b").mapInArrow(
        gen, "a bigint, b bigint, n_shared bigint"
    )


def winnow_verify_join(
    pairs: DataFrame, features: DataFrame, id_col: str, fps_col: str, min_shared: int
) -> DataFrame:
    """Equi-join winnow verify, the unbounded-corpus shape of
    `winnow_verify_mapside`: (a, b, n_shared) with n_shared >= min_shared."""
    fa = features.select(F.col(id_col).alias("a"), F.col(fps_col).alias("_fa"))
    fb = features.select(F.col(id_col).alias("b"), F.col(fps_col).alias("_fb"))
    return (
        pairs.join(fa, "a")
        .join(fb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("_fa", "_fb")).cast("long").alias("n_shared"),
        )
        .where(F.col("n_shared") >= F.lit(int(min_shared)))
    )


def verify_jaccard(
    pairs: DataFrame,
    features: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    minhash_col: str | None = None,
    num_perm: int | None = None,
    gate_sigmas: float = 6.5,
    features_rows: int | None = None,
    mapside_bvar_future=None,
) -> DataFrame:
    """pairs(a,b) x features(id, shingles) -> (a, b, jaccard) passing rows.

    mapside_bvar_future: optional Future whose result is the prebuilt
    map-side broadcast (build_jaccard_mapside_bvar) — callers submit the
    build on a side thread so the feature collect overlaps their census
    phase; a None result falls back to the join path exactly like the
    synchronous build.

    When `minhash_col`/`num_perm` are given, an ESTIMATE GATE runs before
    the exact shingle intersect: the fraction of equal minhash positions
    is Binomial(num_perm, J)/num_perm, so gating at
    threshold - gate_sigmas * sqrt(threshold(1-threshold)/num_perm)
    drops a true pair at J == threshold with probability Phi(-gate_sigmas)
    (~4e-11 at the 6.5-sigma default, 128 perms) while eliminating the
    bulk of sub-threshold candidates before they pay the O(|codes|)
    intersect (position compare is O(num_perm) on fixed-width longs).
    Survivors always get the exact verify, so emitted rows are exact
    either way; the gate only changes *cost*, with the stated recall
    bound.  Measured at sf0.1 docs (tiny-vocab adversarial corpus):
    2.33M candidates -> 0.90M survivors, verify 10s -> 7s at local[32];
    at web-corpus similarity profiles (background J << threshold) the
    survivor cut is >90%."""
    # EXACT size-ratio pre-filter, evaluated BEFORE any per-element
    # expression: |A∩B| <= min(|A|,|B|) and |A∪B| >= max, so
    # J <= min/max — a pair failing min/max >= threshold can never
    # verify.  The epsilon covers the output's round(J, 6) boundary
    # (round(0.7999995, 6) == 0.8 passes the final filter) plus float
    # slop: the filter may only ADMIT extra pairs, never reject a true
    # one.  The scalar compare short-circuits the O(num_perm) estimate
    # (and the O(|codes|) intersect) for size-mismatched candidates —
    # measured 4.2 s -> 1.5 s on the 2.33M-candidate gate stage at
    # sf0.1 and a ~12% cut of exact-verify survivors.
    ratio_floor = F.lit(float(threshold) - 1e-6)

    def _ratio_ok(na, nb):
        return F.least(na, nb).cast("double") >= ratio_floor * F.greatest(na, nb).cast("double")

    # map-side fast path: bounded feature table + long surrogate ids →
    # broadcast numpy verify (gates + exact intersect fused, no joins).
    # `features_rows` is a caller-supplied UPPER BOUND on the feature
    # row count; corpora above the bound keep the equi-join shape.
    if jaccard_mapside_eligible(features, id_col, features_rows, minhash_col, num_perm):
        if mapside_bvar_future is not None:
            bvar = mapside_bvar_future.result()
        else:
            bvar = build_jaccard_mapside_bvar(
                features, id_col, shingle_col, minhash_col, num_perm,
                features_rows=features_rows,
            )
        if bvar is not None:  # None: collected bytes exceeded the cap
            gate = threshold - gate_sigmas * (threshold * (1 - threshold) / num_perm) ** 0.5
            return _verify_jaccard_mapside(
                pairs, bvar, threshold, num_perm, gate, float(threshold) - 1e-6
            )

    if minhash_col is not None and num_perm:
        gate = threshold - gate_sigmas * (threshold * (1 - threshold) / num_perm) ** 0.5
        ma = features.select(
            F.col(id_col).alias("a"), F.col(minhash_col).alias("_ma"),
            F.size(shingle_col).alias("_na"),
        )
        mb = features.select(
            F.col(id_col).alias("b"), F.col(minhash_col).alias("_mb"),
            F.size(shingle_col).alias("_nb"),
        )
        est = F.size(
            F.filter(F.zip_with(F.col("_ma"), F.col("_mb"), lambda x, y: x == y), lambda t: t)
        ) / F.lit(float(num_perm))
        pairs = (
            pairs.join(ma, "a")
            .join(mb, "b")
            .where(_ratio_ok(F.col("_na"), F.col("_nb")) & (est >= F.lit(gate)))
            .select("a", "b")
        )
        size_gated = True
    else:
        size_gated = False
    fa = features.select(F.col(id_col).alias("a"), F.col(shingle_col).alias("_sa"))
    fb = features.select(F.col(id_col).alias("b"), F.col(shingle_col).alias("_sb"))
    out = pairs.join(fa, "a").join(fb, "b")
    if not size_gated:
        out = out.where(_ratio_ok(F.size("_sa"), F.size("_sb")))
    return (
        out.select("a", "b", F.round(jaccard_arrays(F.col("_sa"), F.col("_sb")), 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def verify_hamming(
    pairs: DataFrame,
    features: DataFrame,
    id_col: str,
    hash_col: str,
    radius: int,
) -> DataFrame:
    """pairs(a,b) x features(id, hash64) -> (a, b, hamming) within radius.
    Pure JVM: bit_count(xor)."""
    fa = features.select(F.col(id_col).alias("a"), F.col(hash_col).alias("_ha"))
    fb = features.select(F.col(id_col).alias("b"), F.col(hash_col).alias("_hb"))
    return (
        pairs.join(fa, "a")
        .join(fb, "b")
        .select(
            "a",
            "b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= radius)
    )


def verify_psnr(
    pairs: DataFrame,
    blobs: DataFrame,
    id_col: str,
    bytes_col: str,
    fmt_col: str,
    min_db: float,
) -> DataFrame:
    """Lossy-tier pixel verify: pairs where either side is a lossy format
    must clear PSNR >= min_db on decoded pixels; lossless-only pairs pass
    through (their Hamming check suffices — exact pixels).

    Returns (a, b, psnr, lossy) for ALL input pairs that pass.

    Payload discipline (guide §8: decide with small rows, move big rows
    once): lossiness is decided from a bytes-FREE (id, fmt) projection —
    column pruning keeps that scan tiny — so the `bytes` column is read
    exactly once, for the ids of LOSSY pairs only, and the pruned blob
    set is pinned (localCheckpoint) so the two pair-side joins do not
    re-scan the corpus payload per side (the previous shape scanned the
    full bytes column twice to fetch a few hundred blobs, ~40% of the
    image-tier wall at bench scale).  The pinned set is bounded by the
    lossy candidate-pair count, never the corpus.
    """
    fmts = blobs.select(F.col(id_col), F.col(fmt_col))
    pa = fmts.select(F.col(id_col).alias("a"), F.col(fmt_col).alias("_fa"))
    pb = fmts.select(F.col(id_col).alias("b"), F.col(fmt_col).alias("_fb"))
    lossy = F.col("_fa").isin("jpeg", "qjp") | F.col("_fb").isin("jpeg", "qjp")
    tagged = pairs.join(pa, "a").join(pb, "b").withColumn("lossy", lossy)
    lossy_pairs = tagged.where(F.col("lossy"))
    # fetch ONLY the blobs lossy pairs need: broadcast semi-join prunes
    # the payload scan instead of shuffling every image's bytes
    needed = (
        lossy_pairs.select(F.col("a").alias(id_col))
        .unionByName(lossy_pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    picked = blobs.join(F.broadcast(needed), id_col, "left_semi").select(
        F.col(id_col), F.col(bytes_col)
    ).localCheckpoint(eager=True)
    fa = picked.select(F.col(id_col).alias("a"), F.col(bytes_col).alias("_ba"))
    fb = picked.select(F.col(id_col).alias("b"), F.col(bytes_col).alias("_bb"))
    # non-deterministic mark (guide §4.4): the psnr >= min_db filter below
    # otherwise gets pushed past the repartition as a SECOND evaluation of
    # the UDF — every lossy pair's image decode ran twice, and the pushed
    # copy ran below the exchange on the (unspread) stream-side partitions
    # (measured: a 1-task 1.7 s decode stage ahead of the 32-wide one).
    # The mark pins ONE evaluation above the repartition; the decode is
    # pure, so results are unchanged.
    udf = psnr_pair_udf().asNondeterministic()
    # spread the decode: the joined pair+blob rows follow the (tiny)
    # broadcast-join stream side's partitioning, so the expensive pixel
    # decode otherwise lands on 1-2 tasks (measured).  One explicit
    # repartition of the BOUNDED candidate-blob rows puts the UDF on
    # every core — the same "move heavy bytes once, then compute wide"
    # shape as guide §8's placement pass.
    n_part = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    scored_lossy = (
        lossy_pairs.join(fa, "a")
        .join(fb, "b")
        .repartition(n_part)
        .withColumn("psnr", udf(F.col("_ba"), F.col("_bb")))
    )
    passthrough = tagged.where(~F.col("lossy")).withColumn("psnr", F.lit(999.0))
    return (
        scored_lossy.select("a", "b", "psnr", "lossy")
        .unionByName(passthrough.select("a", "b", "psnr", "lossy"))
        .where(F.col("psnr") >= min_db)
    )
