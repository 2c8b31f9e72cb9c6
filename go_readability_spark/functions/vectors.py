"""Cross-engine vector math over array<float> embedding columns.

Cosine similarity is computed in double precision with a sequential
left-fold in element order on both engines, so the results are
bit-identical (same IEEE operations in the same order) — the oracle can
compare rounded values safely.

Spark-side this is pure Catalyst (``zip_with`` + ``aggregate``): the
brute-force top-k scan stays in whole-stage codegen, no Python. That is
the correct baseline at scale — one broadcast of the query vector, one
map-side pass, one ``orderBy().limit(k)`` (Spark's TakeOrdered, a
per-partition top-k + driver merge, no full sort shuffle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf

from ..plans.session import lazy_zip_invalidation

__all__ = [
    "dot",
    "dot_sql",
    "cosine_similarity",
    "cosine_similarity_pandas",
    "cosine_similarity_sql",
    "l2sq",
    "l2sq_sql",
]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::double, "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i]::double * {b}[i]::double)), (acc, x) -> acc + x)"
    )


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance, left fold in array order (cross-engine
    bit-identical with ``l2sq_sql``)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2sq_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::double, "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i]::double - {b}[i]::double) "
        f"* ({a}[i]::double - {b}[i]::double))), (acc, x) -> acc + x)"
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    # try_divide, not `/`: a zero-norm vector makes the divisor 0.0,
    # which ANSI mode (Spark 4 default) turns into a query-killing
    # DIVIDE_BY_ZERO for plain division. DuckDB yields NULL for double
    # x/0, so NULL is also the cross-engine-parity answer (and the sane
    # one — a zero vector is similar to nothing; downstream `cos >= t`
    # filters drop NULL). For nonzero divisors try_divide is the same
    # IEEE op as `/`, so values are unchanged bit-for-bit.
    return F.try_divide(
        F.try_divide(dot(a, b), F.sqrt(dot(a, a))), F.sqrt(dot(b, b))
    )


def _np_fold_dot(x: "np.ndarray", y: "np.ndarray") -> "np.ndarray":
    """Row-wise dot as an explicit sequential left fold over the element
    axis, vectorized across rows — the same IEEE double ops in the same
    order as ``dot``'s F.aggregate and ``dot_sql``'s list_reduce, so the
    results are bit-identical across all three forms."""
    acc = np.zeros(x.shape[0], dtype=np.float64)
    for d in range(x.shape[1]):
        acc = acc + x[:, d] * y[:, d]
    return acc


def _cos_rows(x: "np.ndarray", y: "np.ndarray"):
    """Row-wise cosine + zero-norm mask, matching ``cosine_similarity``'s
    try_divide form exactly: dot/(sqrt ‖x‖²)/(sqrt ‖y‖²) in that order
    for nonzero norms, NULL (True in the returned mask) when either
    norm is zero — the same answer DuckDB's x/0 → NULL gives. NaN from
    genuinely-NaN data flows through as NaN (a NaN divisor is not 0, so
    try_divide doesn't null it on the Catalyst side either)."""
    na = _np_fold_dot(x, x)
    nb = _np_fold_dot(y, y)
    zero = (np.sqrt(na) == 0.0) | (np.sqrt(nb) == 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = _np_fold_dot(x, y) / np.sqrt(na) / np.sqrt(nb)
    return cos, zero


def cosine_similarity_pandas(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine — the fast path for pair-verify joins.

    Catalyst evaluates the ``cosine_similarity`` HOF lambdas interpreted
    (~30 µs/element); on a candidate-pair join that is 3×dim interpreted
    ops PER PAIR. This pandas UDF computes the identical fold (see
    ``_np_fold_dot``; np.sqrt and the two divisions are the same
    correctly-rounded IEEE ops in the same order), so values — and any
    round(x, 6) applied downstream — match the Catalyst form and the
    DuckDB oracle bit-for-bit (asserted by test_bucketing). The UDF is
    built at call time: decorating at import would parse the DDL return
    type, which needs an active SparkContext."""

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        lazy_zip_invalidation()
        n = len(va)
        if n == 0:
            return pd.Series([], dtype="float64")
        xa, xb = va.to_numpy(), vb.to_numpy()
        # NULL vectors (isna) and pairs of unequal length: the Catalyst
        # zip_with reference null-pads (or is null outright), poisoning
        # the fold to a NULL cosine (which a downstream `cos >= t`
        # filter then DROPS — unlike NaN, which Spark's total ordering
        # would keep). Emit real nulls for them; len() must never see a
        # null row (None has no len — it would kill the whole batch).
        notnull = ~(va.isna().to_numpy() | vb.isna().to_numpy())
        lens_a = np.fromiter(
            (len(v) if m else -1 for v, m in zip(xa, notnull)),
            dtype=np.int64, count=n,
        )
        lens_b = np.fromiter(
            (len(v) if m else -2 for v, m in zip(xb, notnull)),
            dtype=np.int64, count=n,
        )
        ok = lens_a == lens_b
        # np.stack needs ONE dim across the whole stack, but ok only
        # guarantees per-ROW equality: two len-32 pairs in a batch of
        # len-64 pairs would make the stack ragged and kill the task.
        # Stack per length group instead (one group on clean data — the
        # fast path is unchanged); per-row op order is identical, so
        # values stay bit-equal to the Catalyst/DuckDB fold.
        if ok.all() and (lens_a == lens_a[0]).all():
            cos, zero = _cos_rows(
                np.stack(xa).astype(np.float64),
                np.stack(xb).astype(np.float64),
            )
            # a bare float64 NaN in a pandas-UDF result is converted
            # to NULL by the Arrow return path (total-ordering parity
            # break, and batch-dependent: the masked branch below
            # preserves it) — any NaN must ride an explicit all-valid
            # mask. Clean data (the production corpus) keeps the plain
            # Series return.
            if not zero.any():
                if np.isnan(cos).any():
                    return pd.Series(
                        pd.arrays.FloatingArray(
                            cos, np.zeros(n, dtype=bool)
                        )
                    )
                return pd.Series(cos)
            return pd.Series(
                pd.arrays.FloatingArray(np.where(zero, 0.0, cos), zero)
            )
        # Build the result as an explicit (values, null-mask) pair:
        # Float64 setitem would coerce a computed NaN to <NA>, silently
        # turning a kept-by-total-ordering NaN cosine into a dropped
        # NULL whenever the batch ALSO held an invalid row — the result
        # would depend on batch composition. FloatingArray keeps NaN
        # (valid row, NaN math) distinct from NA (invalid/zero-norm row).
        vals = np.zeros(n, dtype=np.float64)
        mask = np.ones(n, dtype=bool)  # True = NULL (invalid pair)
        for length in np.unique(lens_a[ok]) if ok.any() else ():
            sel = ok & (lens_a == length)
            cos, zero = _cos_rows(
                np.stack(xa[sel]).astype(np.float64),
                np.stack(xb[sel]).astype(np.float64),
            )
            vals[sel] = np.where(zero, 0.0, cos)
            mask[sel] = zero
        return pd.Series(pd.arrays.FloatingArray(vals, mask))

    return _cos(a, b)


def cosine_similarity_sql(a: str, b: str) -> str:
    # nullif pins NULL-on-zero-norm in the SQL itself (matching Spark's
    # try_divide) instead of leaning on DuckDB's pre-1.1 x/0 -> NULL
    # default, which 1.1+ flips to inf/nan (ieee_floating_point_ops);
    # identical IEEE division for every nonzero norm.
    return (
        f"({dot_sql(a, b)} / nullif(sqrt({dot_sql(a, a)}), 0.0) "
        f"/ nullif(sqrt({dot_sql(b, b)}), 0.0))"
    )
