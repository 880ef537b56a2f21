"""Vector column functions for embedding similarity (SURVEY.md §7 step 7).

All math is expressed with built-in higher-order array functions
(zip_with / aggregate / transform), evaluated JVM-side in index order —
bit-reproducible against the DuckDB oracle's list_transform/list_sum,
and codegen-friendly (no Python round-trip per row).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


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


def _stack_fixed_dim(s: pd.Series, mask: np.ndarray) -> np.ndarray:
    """vstack the masked-in rows of an array column, with a clear error
    for ragged inputs. The JVM twins treat a NULL array as NULL output
    (handled by the caller's mask); a RAGGED batch has no JVM-identical
    vectorized answer, so it is a precondition violation, not data."""
    vals = s[mask].to_numpy()
    try:
        return np.vstack(vals).astype(np.float64)
    except ValueError as exc:
        dims = {len(v) for v in vals}
        raise ValueError(
            "Arrow vector kernels require fixed-dimension embeddings; "
            f"batch contains dims {sorted(dims)} — use the interpreted "
            "fold (vectors.dot/norm/lsh_bucket) for ragged arrays"
        ) from exc


def _with_nulls(out: np.ndarray, mask: np.ndarray) -> pd.Series:
    """float64 results + validity mask → Arrow-nullable Float64 series,
    so masked-out rows surface as SQL NULL (matching the JVM folds on
    NULL input), not NaN."""
    return pd.Series(pd.array(out, dtype="Float64")).mask(~pd.Series(mask), pd.NA)


def dot_arrow() -> "object":
    """Arrow-vectorized twin of :func:`dot` for HIGH-VOLUME pair joins.

    Returns a pandas_udf computing the same left-fold dot product with
    numpy: products are elementwise float64 IEEE multiplies (identical
    to the JVM's), and ``np.cumsum`` accumulates STRICTLY left-to-right
    — the same addition order as ``F.aggregate``'s fold — so the result
    double is bit-identical to :func:`dot` (verified exhaustively over
    every sf0.1 LSH candidate pair: max abs diff 0.0). NULL arrays on
    either side yield SQL NULL, matching the JVM fold; ragged batches
    raise with a pointer at the interpreted twin. Use where the
    interpreted higher-order fold dominates (millions of pairs); the
    ~15 µs/pair interpreter cost drops ~3.4× via Arrow batching. Keep
    rounding JVM-side (F.round) — np.round ties differently.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            # np.vstack raises on an empty sequence; Arrow happily hands
            # a zero-row batch to the UDF when a partition is empty.
            return pd.Series([], dtype="float64")
        mask = a.notna().to_numpy() & b.notna().to_numpy()
        out = np.zeros(len(a), dtype=np.float64)
        if mask.any():
            av = _stack_fixed_dim(a, mask)
            bv = _stack_fixed_dim(b, mask)
            out[mask] = np.cumsum(av * bv, axis=1)[:, -1]
        return _with_nulls(out, mask)

    return _dot


def norm_arrow() -> "object":
    """Arrow-vectorized twin of :func:`norm` (sqrt of the self-dot).

    Same bit-exactness argument as :func:`dot_arrow`: float32→float64
    widening is exact, products are single IEEE multiplies, ``np.cumsum``
    adds strictly left-to-right like the JVM fold, and ``np.sqrt`` /
    ``Math.sqrt`` are both correctly-rounded IEEE sqrt. Use where norms
    are computed per-row over a large relation inside a bigger plan —
    the interpreted fold costs ~25 µs/row, measured dominating e.g.
    `knn_bruteforce` wall time at the sf1 point.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _norm(a: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        mask = a.notna().to_numpy()
        out = np.zeros(len(a), dtype=np.float64)
        if mask.any():
            av = _stack_fixed_dim(a, mask)
            out[mask] = np.sqrt(np.cumsum(av * av, axis=1)[:, -1])
        return _with_nulls(out, mask)

    return _norm


def bucket_pair_cos_kernel(min_raw_cos: float):
    """Bucket-local pair-cosine kernel for ``applyInPandas`` — the
    grouped twin of :func:`dot_arrow` for LSH-bucketed near-dup
    pairing.

    Given one bucket's members (columns ``vec_id``, ``embedding``),
    expands every ordered pair (vec_a < vec_b) IN NUMPY and returns
    (vec_a, vec_b, cos_raw). Bit-exactness is inherited from the
    :func:`dot_arrow` argument: products are elementwise IEEE float64
    multiplies and ``np.cumsum`` accumulates strictly left-to-right —
    the same fold as ``F.aggregate`` and DuckDB ``list_sum`` — and
    norms are the correctly-rounded IEEE sqrt of the same fold, so
    ``cos_raw`` is bit-identical to the join-then-dot formulation
    (verified pairwise over every sf1 candidate pair: 0 differing
    rows).

    Why grouped instead of join+dot: the join formulation materializes
    every candidate pair as a 2×dim-double Arrow row (sf1: 3.7 M pairs
    ≈ 4 GB of Arrow traffic); here each vector crosses into Python
    once and only the 3-scalar survivors come back — measured 5.8 →
    2.6 s at sf1 for identical output.

    ``min_raw_cos`` pre-filters on the RAW cosine with the caller's
    margin; the exact threshold on the JVM-ROUNDED value must still be
    applied by the caller (keep F.round JVM-side — np.round ties
    half-to-even). Pairs per bucket are chunked so peak memory is
    bounded regardless of bucket cap.
    """

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series([], dtype="int64"),
                "vec_b": pd.Series([], dtype="int64"),
                "cos_raw": pd.Series([], dtype="float64"),
            }
        )
        pdf = pdf[pdf["embedding"].notna()]
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        nrm = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
        ii, jj = np.triu_indices(len(ids), k=1)
        outs = []
        chunk = 131072  # pairs per slab: ≤ 64 MB of float64 at dim 64
        for s in range(0, len(ii), chunk):
            ic, jc = ii[s : s + chunk], jj[s : s + chunk]
            dots = np.cumsum(M[ic] * M[jc], axis=1)[:, -1]
            cos = dots / (nrm[ic] * nrm[jc])
            keep = cos >= min_raw_cos
            outs.append(
                pd.DataFrame(
                    {
                        "vec_a": ids[ic][keep],
                        "vec_b": ids[jc][keep],
                        "cos_raw": cos[keep],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return _pairs


def group_query_cos_kernel():
    """Query-vs-members cosine kernel for ``applyInPandas`` — the
    grouped twin of the ``norm_arrow``/``dot_arrow`` pair join for the
    ANN top-k queries (knn_bruteforce, lsh_ann_topk).

    Given one group's rows (columns ``vec_id``, ``embedding``,
    ``is_q`` — queries flagged True, members False), computes the raw
    cosine of every (query × member) pair with ``query_id != cand_id``
    IN NUMPY and returns (query_id, cand_id, cos_raw).

    Bit-exactness is inherited from the :func:`dot_arrow` /
    :func:`norm_arrow` arguments: products are elementwise IEEE float64
    multiplies, ``np.cumsum`` accumulates strictly left-to-right (the
    same fold as ``F.aggregate`` and DuckDB ``list_sum``), norms are the
    correctly-rounded IEEE sqrt of the same fold, and the final
    ``dots / (q_n * c_n)`` is the same scalar multiply + divide the JVM
    expression performed — so ``cos_raw`` is bit-identical to the
    join-then-dot formulation (re-verified over every sf0.1/sf1 pair at
    the round-13 swap: 0 differing rows). The caller applies the
    authoritative ``F.round`` JVM-side (np.round ties half-to-even) and
    the rank window.

    Why grouped instead of join+dot (guide §4, §2.3): the pair-join
    formulation materializes every (query, candidate) pair as a
    2×dim-double Arrow row — the corpus crosses the Python boundary
    once PER QUERY with both embeddings attached — while here each
    member embedding crosses exactly once per group and only 3-scalar
    rows come back. NULL embeddings are dropped like the sibling
    kernels (the embeddings table contains none; pinned by the oracle
    gate at every SF).

    If the group carries a ``bucket`` column, a query only pairs with
    members of ITS bucket (mask, not per-bucket groups: grouped-map
    pays ~ms of pandas overhead PER GROUP, so bucket×salt group keys
    measured 10× slower than hash-salt groups with an in-kernel
    bucket mask at sf0.1 — receipts in `git show
    cb976e8:tools/r13_ann_ab.py` runs, OPTIMIZATION_r13.md).
    """

    def _sims(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "cand_id": pd.Series([], dtype="int64"),
                "cos_raw": pd.Series([], dtype="float64"),
            }
        )
        pdf = pdf[pdf["embedding"].notna()]
        qdf = pdf[pdf["is_q"]]
        cdf = pdf[~pdf["is_q"]]
        if len(qdf) == 0 or len(cdf) == 0:
            return empty
        Q = np.vstack(qdf["embedding"].to_numpy()).astype(np.float64)
        C = np.vstack(cdf["embedding"].to_numpy()).astype(np.float64)
        qids = qdf["vec_id"].to_numpy()
        cids = cdf["vec_id"].to_numpy()
        buckets = "bucket" in pdf.columns
        if buckets:
            qb = qdf["bucket"].to_numpy()
            cb = cdf["bucket"].to_numpy()
        qn = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])
        cn = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])
        outs = []
        for qi in range(len(qids)):  # ≤ N_QUERIES rows per group
            keep = cids != qids[qi]
            if buckets:
                keep &= cb == qb[qi]
            if not keep.any():
                continue
            dots = np.cumsum(C[keep] * Q[qi], axis=1)[:, -1]
            cos = dots / (qn[qi] * cn[keep])
            outs.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(int(keep.sum()), qids[qi]),
                        "cand_id": cids[keep],
                        "cos_raw": cos,
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

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
    whole batch is one float64 elementwise product + ``np.cumsum``
    per plane, strictly left-to-right like the JVM fold, so the
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
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _bucket(a: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="object")
        mask = a.notna().to_numpy()
        out = np.full(len(a), None, dtype=object)
        if mask.any():
            E = _stack_fixed_dim(a, mask)
            j = np.arange(E.shape[1])
            Wm = np.stack(
                [
                    (((h * 31 + j * 17) % 7) - 3).astype(np.float64)
                    for h in range(n_planes)
                ]
            )
            proj = np.cumsum(E[:, None, :] * Wm[None, :, :], axis=2)[:, :, -1]
            bits = np.where(proj > 0, "1", "0")
            out[mask] = ["".join(r) for r in bits]
        return pd.Series(out, dtype="object")

    return _bucket


def bucket_hard_negative_kernel(k: int, margin: float = 1e-6):
    """Bucket-local hard-negative miner for ``applyInPandas`` — the
    grouped sibling of :func:`bucket_pair_cos_kernel` for
    ``hard_negative_mining``.

    Given one bucket's members (columns ``vec_id``, ``label``,
    ``embedding``), computes the raw cosine of every CROSS-label
    ordered pair in numpy (same bit-exact left-to-right ``np.cumsum``
    fold as :func:`dot_arrow`) and returns, per anchor, every candidate
    whose raw cosine is within ``margin`` of the anchor's k-th largest
    raw cosine. That superset provably contains the top-k by the
    JVM-ROUNDED value: rounding moves a value by at most ``margin/2``,
    so any candidate below ``kth_raw - margin`` has at least k
    candidates whose rounded value is strictly greater and can never
    rank top-k regardless of tie-breaks. The caller applies the
    authoritative ``F.round`` + rank window on the returned rows (keep
    rounding JVM-side — ``np.round`` ties half-to-even).

    Why grouped instead of join+dot: the join formulation materializes
    every cross-label candidate pair as a 2 x dim-double Arrow row
    (sf1: ~1.5 M pairs); here each vector crosses into Python once and
    only ~(k+ties) rows per anchor come back.
    """

    def _mine(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "anchor_id": pd.Series([], dtype="int64"),
                "anchor_label": pd.Series([], dtype="int32"),
                "neg_id": pd.Series([], dtype="int64"),
                "neg_label": pd.Series([], dtype="int32"),
                "cos_raw": pd.Series([], dtype="float64"),
            }
        )
        pdf = pdf[pdf["embedding"].notna()]
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        labels = pdf["label"].to_numpy()
        nrm = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
        ii, jj = np.nonzero(labels[:, None] != labels[None, :])
        if len(ii) == 0:
            return empty
        dots = np.cumsum(M[ii] * M[jj], axis=1)[:, -1]
        cos = dots / (nrm[ii] * nrm[jj])
        keep = np.zeros(len(ii), dtype=bool)
        order = np.lexsort((-cos, ii))  # anchor asc, cos desc
        anchors, starts = np.unique(ii[order], return_index=True)
        bounds = np.append(starts, len(order))
        for s, e in zip(bounds[:-1], bounds[1:]):
            seg = order[s:e]
            kth = cos[seg[min(k, len(seg)) - 1]]
            keep[seg[cos[seg] >= kth - margin]] = True
        return pd.DataFrame(
            {
                "anchor_id": ids[ii[keep]],
                "anchor_label": labels[ii[keep]],
                "neg_id": ids[jj[keep]],
                "neg_label": labels[jj[keep]],
                "cos_raw": cos[keep],
            }
        )

    return _mine
