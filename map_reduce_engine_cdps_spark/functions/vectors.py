"""Vector column functions for embedding similarity (SURVEY.md §7 step 7).

The reference formulations (array_sum / dot / norm / sq_dist /
lsh_bucket) are built-in higher-order array functions (zip_with /
aggregate / transform), evaluated JVM-side in index order —
bit-reproducible against the DuckDB oracle's list_transform/list_sum.
Their Arrow twins and grouped kernels run the same arithmetic in numpy
through one left-to-right fold, :func:`_fold`, and return the same
doubles bit for bit.

The twins and kernels never touch pandas: Arrow columns become numpy
arrays through :func:`_arrow_to_numpy` and numpy results become Arrow
arrays through :func:`_numpy_to_arrow`, both reading and writing the
Arrow buffers directly. In pyarrow 16.1 ``pa.array(ndarray)``,
``pa.table(dict)``, ``Array.to_numpy()`` and ``np.asarray(array)``
each import pandas, so none of them appears here; a Python worker that
runs only these kernels never loads it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType


def array_sum(a: Column) -> Column:
    """Sequential double-precision left fold ((0.0 + a[1]) + a[2]) + …,
    elements widened to double: DuckDB ``list_sum``'s addition order, so
    the oracle reproduces every sum bit-for-bit."""
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    return array_sum(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance: the same fold over (x - y) * (x - y)."""

    def sq(x: Column, y: Column) -> Column:
        d = x.cast("double") - y.cast("double")
        return d * d

    return array_sum(F.zip_with(a, b, sq))


# Raw-cosine pre-filter margin of the grouped kernels: F.round(x, 6)
# moves a value by at most 5e-7, so a raw cutoff lowered by this much
# never drops a pair the exact JVM-rounded comparison would keep.
RAW_COS_MARGIN = 1e-6


def _fold(x: np.ndarray) -> np.ndarray:
    """Sum over the last axis strictly left to right, ((x0 + x1) + x2) + ….

    The one numpy fold of every Arrow twin and grouped kernel below, and
    the whole of their bit-exactness contract: ``np.cumsum`` adds in
    index order — the order of :func:`array_sum`'s ``F.aggregate`` and
    of DuckDB ``list_sum`` — so, fed the same float64 products, it
    returns the same doubles bit for bit (``np.sum`` adds pairwise and
    does not). An empty last axis folds to 0.0, the fold's initial
    value. Rounding stays JVM-side (F.round): np.round ties
    half-to-even."""
    if x.shape[-1] == 0:
        return np.zeros(x.shape[:-1])
    return np.cumsum(x, axis=-1)[..., -1]


# Arrow type name (str(pa.DataType), pa.type_for_alias) → numpy dtype,
# for the fixed-width types the bridge reads and writes in place.
_NP = {
    "int32": np.int32,
    "int64": np.int64,
    "float": np.float32,
    "double": np.float64,
}


def _bits(buf: pa.Buffer, offset: int, n: int) -> np.ndarray:
    """Slots offset … offset+n of an LSB-first Arrow bitmap, as bools."""
    raw = np.frombuffer(buf, np.uint8)[offset // 8 : (offset + n + 7) // 8]
    return np.unpackbits(raw, bitorder="little")[offset % 8 : offset % 8 + n].view(bool)


def _arrow_to_numpy(col: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """An Arrow column as (values, validity), read from its buffers.

    A fixed-width column gives its n values, viewed in place (booleans
    are unpacked). A list column gives an (n, dim) float64 matrix — a
    view of the child values when they are float64 and no row is NULL —
    with all-zero rows where the list is NULL; an element-level NULL
    reads as NaN. ``validity`` is True for the non-NULL rows. Slice
    offsets of the array and of its child, and 32- or 64-bit list
    offsets, are honoured. A list column whose non-NULL rows differ in
    length raises: a ragged batch has no JVM-identical vectorized
    answer, so it is a precondition violation, not data."""
    is_list = pa.types.is_list(col.type) or pa.types.is_large_list(col.type)
    if len(col) == 0:  # a zero-row column may have no buffers, or no chunks
        if is_list:
            return np.zeros((0, 0)), np.zeros(0, bool)
        dtype = bool if pa.types.is_boolean(col.type) else _NP[str(col.type)]
        return np.zeros(0, dtype), np.zeros(0, bool)
    if isinstance(col, pa.ChunkedArray):
        col = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    n, off, bufs = len(col), col.offset, col.buffers()
    valid = _bits(bufs[0], off, n) if col.null_count else np.ones(n, bool)
    if pa.types.is_boolean(col.type):
        return _bits(bufs[1], off, n), valid
    if not is_list:
        return np.frombuffer(bufs[1], _NP[str(col.type)], count=off + n)[off:], valid
    offsets = np.frombuffer(
        bufs[1], np.int64 if pa.types.is_large_list(col.type) else np.int32, count=off + n + 1
    )[off:]
    data, ok = _arrow_to_numpy(col.values)
    if col.values.null_count:
        data = np.where(ok, data, np.nan)
    lens = np.diff(offsets)[valid]
    dim = int(lens[0]) if len(lens) else 0
    if (lens != dim).any():
        raise ValueError(
            "Arrow vector kernels require fixed-dimension embeddings; "
            f"batch contains dims {sorted(set(lens.tolist()))} — use the "
            "interpreted fold (vectors.dot/norm/lsh_bucket) for ragged arrays"
        )
    if valid.all():
        M = data[offsets[0] : offsets[-1]].reshape(n, dim)
    else:
        M = np.zeros((n, dim), data.dtype)
        rows = np.flatnonzero(valid)
        M[rows] = data[offsets[rows][:, None] + np.arange(dim)]
    return M.astype(np.float64, copy=False), valid


def _numpy_to_arrow(
    values: np.ndarray, type_name: str, valid: np.ndarray | None = None
) -> pa.Array:
    """numpy values (+ validity) as an Arrow array of ``type_name``,
    built with ``pa.Array.from_buffers`` around the numpy memory.

    A fixed-width type takes n values; ``"string"`` takes an (n, width)
    uint8 matrix of ASCII characters, one fixed-width string per row.
    Rows where ``valid`` is False are SQL NULL (matching the JVM folds
    on NULL input), not NaN."""
    n = len(values)
    bitmap, nulls = None, 0
    if valid is not None and not valid.all():
        bitmap = pa.py_buffer(np.packbits(valid, bitorder="little"))
        nulls = n - int(np.count_nonzero(valid))
    if type_name == "string":
        lens = np.full(n, values.shape[1], np.int32)
        if bitmap is not None:
            lens[~valid] = 0
            values = values[valid]
        offsets = np.zeros(n + 1, np.int32)
        np.cumsum(lens, out=offsets[1:])
        data = [pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(values, np.uint8))]
    else:
        data = [pa.py_buffer(np.ascontiguousarray(values, _NP[type_name]))]
    return pa.Array.from_buffers(
        pa.type_for_alias(type_name), n, [bitmap, *data], null_count=nulls
    )


def _member_matrix(table: pa.Table, *cols: str) -> tuple[np.ndarray, np.ndarray, list]:
    """A group's members for the grouped kernels: the rows with a
    non-NULL embedding sorted by vec_id, as their float64 matrix, their
    L2 norms (the correctly-rounded IEEE sqrt of the fold, like
    :func:`norm`) and the numpy values of ``cols`` in the same order. A
    NULL embedding has no cosine, so its row is dropped; the embeddings
    table contains none."""
    M, valid = _arrow_to_numpy(table.column("embedding"))
    ids = _arrow_to_numpy(table.column("vec_id"))[0]
    order = np.flatnonzero(valid)
    order = order[np.argsort(ids[order], kind="stable")]
    M = M[order]
    return M, np.sqrt(_fold(M * M)), [_arrow_to_numpy(table.column(c))[0][order] for c in cols]


def _pair_cos(M: np.ndarray, nrm: np.ndarray, i, j) -> np.ndarray:
    """Raw cosine of member pairs (i, j): the fold of the float64
    products over the product of the norms — the same IEEE operations,
    in the same order, as ``V.dot(a, b) / (V.norm(a) * V.norm(b))``."""
    return _fold(M[i] * M[j]) / (nrm[i] * nrm[j])


def dot_arrow() -> "object":
    """Arrow-vectorized twin of :func:`dot` for HIGH-VOLUME pair joins.

    Returns an arrow_udf computing the same left-fold dot product with
    numpy: products are elementwise float64 IEEE multiplies (identical
    to the JVM's) summed by :func:`_fold`, so the result double is
    bit-identical to :func:`dot` (verified exhaustively over every sf0.1
    LSH candidate pair: max abs diff 0.0). NULL arrays on either side
    yield SQL NULL, matching the JVM fold; ragged batches raise with a
    pointer at the interpreted twin. Use where the interpreted
    higher-order fold dominates (millions of pairs); the ~15 µs/pair
    interpreter cost drops ~3.4× via Arrow batching.
    """
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(DoubleType())
    def _dot(a: pa.Array, b: pa.Array) -> pa.Array:
        A, va = _arrow_to_numpy(a)
        B, vb = _arrow_to_numpy(b)
        valid = va & vb
        # an all-NULL side reads as an (n, 0) matrix, which does not
        # broadcast against the other side's (n, dim)
        out = _fold(A * B) if valid.any() else np.zeros(len(a))
        return _numpy_to_arrow(out, "double", valid)

    return _dot


def norm_arrow() -> "object":
    """Arrow-vectorized twin of :func:`norm` (sqrt of the self-dot).

    Same bit-exactness argument as :func:`dot_arrow`: float32→float64
    widening is exact, products are single IEEE multiplies, :func:`_fold`
    adds left to right like the JVM fold, and ``np.sqrt`` / ``Math.sqrt``
    are both correctly-rounded IEEE sqrt. Use where norms are computed
    per-row over a large relation inside a bigger plan — the interpreted
    fold costs ~25 µs/row, measured dominating e.g. `knn_bruteforce`
    wall time at the sf1 point.
    """
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(DoubleType())
    def _norm(a: pa.Array) -> pa.Array:
        A, valid = _arrow_to_numpy(a)
        return _numpy_to_arrow(np.sqrt(_fold(A * A)), "double", valid)

    return _norm


# The grouped kernels below are the ``applyInArrow`` twins of the
# norm_arrow/dot_arrow pair join: each member embedding crosses into
# Python once per group and only scalar rows come back, where the join
# formulation ships every candidate pair as a 2×dim-double Arrow row.
# Each takes and returns a pa.Table. Their raw cosines come from
# _member_matrix + _pair_cos, so they are bit-identical to the JVM fold
# (pinned by tests/test_workloads.py); callers apply the authoritative
# F.round JVM-side.


def bucket_pair_cos_kernel(min_raw_cos: float):
    """Bucket-local pair-cosine kernel for LSH-bucketed near-dup pairing.

    Given one bucket's members (columns ``vec_id``, ``embedding``),
    expands every ordered pair (vec_a < vec_b) IN NUMPY and returns
    (vec_a, vec_b, cos_raw) for the pairs with ``cos_raw >=
    min_raw_cos`` (verified pairwise against the join-then-dot
    formulation over every sf1 candidate pair: 0 differing rows). At
    sf1 the join formulation moved 3.7 M pairs ≈ 4 GB of Arrow traffic;
    this shape measured 5.8 → 2.6 s for identical output.

    ``min_raw_cos`` pre-filters on the RAW cosine, lowered by the
    caller's margin (:data:`RAW_COS_MARGIN`); the exact threshold on
    the JVM-ROUNDED value must still be applied by the caller. Pairs
    per bucket are scored in slabs so peak memory is bounded
    regardless of bucket cap.
    """

    def _pairs(table: pa.Table) -> pa.Table:
        M, nrm, (ids,) = _member_matrix(table, "vec_id")
        ii, jj = np.triu_indices(len(ids), k=1)
        cos = np.empty(len(ii))
        chunk = 131072  # pairs per slab: ≤ 64 MB of float64 at dim 64
        for s in range(0, len(ii), chunk):
            sl = slice(s, s + chunk)
            cos[sl] = _pair_cos(M, nrm, ii[sl], jj[sl])
        keep = cos >= min_raw_cos
        return pa.Table.from_arrays(
            [
                _numpy_to_arrow(ids[ii[keep]], "int64"),
                _numpy_to_arrow(ids[jj[keep]], "int64"),
                _numpy_to_arrow(cos[keep], "double"),
            ],
            ["vec_a", "vec_b", "cos_raw"],
        )

    return _pairs


def group_query_cos_kernel():
    """Query-vs-members cosine kernel for the exact top-k queries
    (knn_bruteforce, knn_hubness_stats).

    Given one group's rows (columns ``vec_id``, ``embedding``, ``is_q``
    — queries flagged True, members False), computes the raw cosine of
    every (query × member) pair with ``query_id != cand_id`` IN NUMPY
    and returns (query_id, cand_id, cos_raw) (re-verified over every
    sf0.1/sf1 pair against the join-then-dot formulation: 0 differing
    rows). The caller applies F.round and the rank window.
    """

    def _sims(table: pa.Table) -> pa.Table:
        M, nrm, (ids, is_q) = _member_matrix(table, "vec_id", "is_q")
        members = np.flatnonzero(~is_q)
        qi, ci, cos = [members[:0]], [members[:0]], [nrm[:0]]
        for q in np.flatnonzero(is_q):  # ≤ n_queries rows per group
            c = members[ids[members] != ids[q]]
            qi.append(np.full(len(c), q))
            ci.append(c)
            cos.append(_pair_cos(M, nrm, q, c))
        return pa.Table.from_arrays(
            [
                _numpy_to_arrow(ids[np.concatenate(qi)], "int64"),
                _numpy_to_arrow(ids[np.concatenate(ci)], "int64"),
                _numpy_to_arrow(np.concatenate(cos), "double"),
            ],
            ["query_id", "cand_id", "cos_raw"],
        )

    return _sims


def hyperplane_bit(a: Column, h: int) -> Column:
    """Sign bit of the projection of ``a`` onto a deterministic integer
    pseudo-random hyperplane: w[j] = ((h*31 + j*17) % 7) - 3 for
    0-based j. Integer weights make the projection reproducible in any
    engine (no libm, no RNG state).
    """
    proj = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.size(a)),
            lambda i: F.element_at(a, i.cast("int")).cast("double")
            * (((F.lit(h * 31) + (i - 1) * 17) % 7) - 3).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(proj > 0, F.lit("1")).otherwise(F.lit("0"))


def lsh_bucket(a: Column, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id: concatenated sign bits.

    This is the REFERENCE formulation (pure JVM expressions, the shape
    the DuckDB oracle mirrors); hot paths use :func:`lsh_bucket_arrow`,
    whose bit-identity to this column is pinned by
    tests/test_workloads.py.
    """
    return F.concat(*[hyperplane_bit(a, h) for h in range(n_planes)])


def lsh_bucket_arrow(n_planes: int = 8) -> "object":
    """Arrow-vectorized twin of :func:`lsh_bucket`.

    The interpreted formulation evaluates n_planes nested
    sequence/transform/aggregate lambdas per row — measured ~85 µs/row
    at 8 planes, which made bucket derivation (not the bucket join!)
    the dominant cost of every LSH-ANN query at the sf1 point. Here the
    whole batch is one float64 elementwise product + :func:`_fold`
    per plane, left to right like the JVM fold, so the
    projection doubles — and therefore the sign bits — are
    bit-identical (pinned on every sf0.1 vector by
    tests/test_workloads.py::test_lsh_bucket_arrow_bitwise_equals_fold).
    Weights are the same deterministic integers, regenerated per batch:
    w[h][j] = ((h*31 + j*17) % 7) - 3.

    NULL-input divergence (deliberate): the interpreted formulation
    degenerates to all-'0' bits on a NULL array (size(NULL)→NULL
    propagates into each when/otherwise), which silently buckets all
    NULL embeddings together; this twin emits SQL NULL instead. The
    bit-parity pin covers non-null input, which is all the embeddings
    table contains.
    """
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(StringType())
    def _bucket(a: pa.Array) -> pa.Array:
        E, valid = _arrow_to_numpy(a)
        j = np.arange(E.shape[1])
        Wm = np.stack(
            [(((h * 31 + j * 17) % 7) - 3).astype(np.float64) for h in range(n_planes)]
        )
        proj = _fold(E[:, None, :] * Wm[None, :, :])
        bits = np.where(proj > 0, ord("1"), ord("0")).astype(np.uint8)
        return _numpy_to_arrow(bits, "string", valid)

    return _bucket


def bucket_hard_negative_kernel(k: int):
    """Bucket-local hard-negative miner for ``hard_negative_mining``.

    Given one bucket's members (columns ``vec_id``, ``label``,
    ``embedding``), computes the raw cosine of every CROSS-label
    ordered pair and returns, per anchor, every candidate whose raw
    cosine is within :data:`RAW_COS_MARGIN` of the anchor's k-th
    largest raw cosine. That superset provably contains the top-k by
    the JVM-ROUNDED value: rounding moves a value by at most half the
    margin, so any candidate below ``kth_raw - margin`` has at least k
    candidates whose rounded value is strictly greater and can never
    rank top-k regardless of tie-breaks. The caller applies the
    authoritative ``F.round`` + rank window on the returned rows. At
    sf1 the join formulation moved ~1.5 M cross-label pairs; here only
    ~(k+ties) rows per anchor come back.
    """

    def _mine(table: pa.Table) -> pa.Table:
        M, nrm, (ids, labels) = _member_matrix(table, "vec_id", "label")
        ii, jj = np.nonzero(labels[:, None] != labels[None, :])
        cos = _pair_cos(M, nrm, ii, jj)
        keep = np.zeros(len(ii), dtype=bool)
        order = np.lexsort((-cos, ii))  # anchor asc, cos desc
        _, starts = np.unique(ii[order], return_index=True)
        bounds = np.append(starts, len(order))
        for s, e in zip(bounds[:-1], bounds[1:]):
            seg = order[s:e]
            kth = cos[seg[min(k, len(seg)) - 1]]
            keep[seg[cos[seg] >= kth - RAW_COS_MARGIN]] = True
        return pa.Table.from_arrays(
            [
                _numpy_to_arrow(ids[ii[keep]], "int64"),
                _numpy_to_arrow(labels[ii[keep]], "int32"),
                _numpy_to_arrow(ids[jj[keep]], "int64"),
                _numpy_to_arrow(labels[jj[keep]], "int32"),
                _numpy_to_arrow(cos[keep], "double"),
            ],
            ["anchor_id", "anchor_label", "neg_id", "neg_label", "cos_raw"],
        )

    return _mine
