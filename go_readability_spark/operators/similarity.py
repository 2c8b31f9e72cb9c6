"""Similarity search over embedding columns (array<float>).

- ``ann_topk_bruteforce``: exact top-k by cosine — broadcast the query
  vector, one codegen'd map pass, TakeOrdered (per-partition top-k +
  driver merge; no full sort shuffle). The correct baseline and the
  oracle-checked query.
- ``ann_topk_lsh``: sign-random-projection LSH variant — hash every vector
  to a bucket signature once (a map pass), probe only the query's bucket
  (+ optional multi-probe hamming-1 neighbors). The 100 TB path: the probe
  is a partition-prunable equi-filter instead of a full scan. Hyperplanes
  are deterministic (seeded from plan-time constants), so results are
  reproducible run-to-run.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.vectors import cosine_similarity
from ..plans.session import lazy_zip_invalidation

__all__ = [
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "ann_topk_ivf_stored",
    "ann_topk_lsh_stored",
    "ivf_cell_udf",
    "lsh_bucket_col",
    "lsh_bucket_py",
    "lsh_bucket_sql",
    "with_ivf_cell",
    "with_lsh_bucket",
    "write_ivf_index",
    "write_lsh_index",
]


def _query_vec(embeddings: DataFrame, query_id: int, id_col: str, vec_col: str):
    return F.broadcast(
        embeddings.filter(F.col(id_col) == query_id).select(
            F.col(vec_col).alias("qv")
        )
    )


def ann_topk_bruteforce(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors of ``query_id`` (excluded itself)."""
    qv = _query_vec(embeddings, query_id, id_col, vec_col)
    return (
        embeddings.crossJoin(qv)
        .filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col).alias("vec_id"),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("qv")), 6
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(k)
    )


def _hyperplanes(n_planes: int, dim: int, seed: str = "gr-spark-lsh"):
    """Deterministic pseudo-random hyperplanes in [-1, 1), plan-time."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            row.append((int(h[:8], 16) % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def lsh_bucket_col(vec_col, n_planes: int, dim: int):
    """Sign-projection bucket id (0..2^n_planes-1) for an embedding col.

    Pure-Catalyst reference form (zip_with + aggregate). NOTE: Catalyst
    evaluates higher-order-function lambdas interpreted (~30 µs/element,
    outside whole-stage codegen), and unrolling the n_planes×dim
    multiply-adds into literal expressions overflows janino's 64 KB
    method limit inside WholeStageCodegen (a single projection cannot be
    split across methods), which silently drops the WHOLE stage out of
    codegen — measured slower than the interpreted lambdas. The fast
    path is ``with_lsh_bucket`` (Arrow-vectorized numpy, bit-identical
    fold); this form stays as the executable spec and parity anchor."""
    planes = _hyperplanes(n_planes, dim)
    bucket = F.lit(0)
    for p, row in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(w) for w in row]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def with_lsh_bucket(
    df: DataFrame, vec_col: str, n_planes: int, dim: int, out_col: str = "bucket"
) -> DataFrame:
    """Add the sign-projection bucket column — the fast path.

    Arrow-batched pandas UDF over numpy: each projection is an explicit
    sequential left fold over the element axis, vectorized across rows
    (``acc = acc + x[:, d] * w[d]`` — the same IEEE double ops in the
    same order as ``lsh_bucket_col``'s F.aggregate and the oracle's
    list_reduce), so bucket ids are bit-identical across all three
    forms (asserted by test_bucketing). At production scale this column
    is computed once at ingest and stored partition-prunable; in-plan it
    costs one Arrow exchange of the embedding column."""
    weights = [
        np.asarray(row, dtype=np.float64)
        for row in _hyperplanes(n_planes, dim)
    ]

    @pandas_udf("int")
    def _bucket(v: pd.Series) -> pd.Series:
        lazy_zip_invalidation()
        n = len(v)
        if n == 0:
            return pd.Series([], dtype="int32")
        arrs = v.to_numpy()
        # NULL vectors and vectors whose length != dim: the Catalyst
        # reference's zip_with null-pads (or is null outright), the null
        # poisons the whole fold, and when(null) takes the otherwise-0
        # branch for EVERY plane → bucket 0. len() must never see a null
        # row (None has no len — it would kill the whole batch).
        notnull = ~v.isna().to_numpy()
        lens = np.fromiter(
            (len(a) if m else -1 for a, m in zip(arrs, notnull)),
            dtype=np.int64, count=n,
        )
        ok = lens == dim
        out = np.zeros(n, dtype=np.int64)
        if ok.any():
            x = np.stack(arrs[ok]).astype(np.float64)  # (n_ok, dim)
            bits = np.zeros(int(ok.sum()), dtype=np.int64)
            for p, wp in enumerate(weights):
                acc = np.zeros(x.shape[0], dtype=np.float64)
                for d in range(dim):
                    acc = acc + x[:, d] * wp[d]
                # ~(acc < 0), NOT acc >= 0: Spark and DuckDB compare
                # doubles with total ordering (NaN greater than
                # everything), so a NaN projection SETS the bit; numpy's
                # `NaN >= 0` is False but `~(NaN < 0)` is True
                bits += (~(acc < 0)).astype(np.int64) << p
            out[ok] = bits
        return pd.Series(out.astype("int32"))

    return df.withColumn(out_col, _bucket(F.col(vec_col)))


def lsh_bucket_py(vec, n_planes: int, dim: int) -> int:
    """Driver-side bucket id — the IDENTICAL left-fold double arithmetic
    as lsh_bucket_col / with_lsh_bucket / lsh_bucket_sql (python floats
    are the same IEEE doubles, same fold order, same total-ordering NaN
    branch), so a query vector's bucket computed here matches the
    stored partition values bit-for-bit."""
    if len(vec) != dim:
        return 0  # the null-poisoned branch of the zip_with reference
    bucket = 0
    for p, row in enumerate(_hyperplanes(n_planes, dim)):
        acc = 0.0
        for x, w in zip(vec, row):
            acc = acc + x * w
        if not (acc < 0):  # NaN sets the bit (total ordering)
            bucket += 1 << p
    return bucket


def write_lsh_index(
    embeddings: DataFrame,
    path: str,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH layout: the sign-projection bucket computed
    once at ingest and stored as a parquet PARTITION column (2^n_planes
    partitions), so a probe opens only the query's bucket set —
    ``(2^n_planes - 1 - n_planes) / 2^n_planes`` of the corpus is never
    touched under multiprobe. The IVF twin is ``write_ivf_index``."""
    (
        with_lsh_bucket(
            embeddings.select(id_col, vec_col), vec_col, n_planes, dim
        )
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(path)
    )


def ann_topk_lsh_stored(
    spark,
    path: str,
    qvec,
    query_id: int,
    k: int = 10,
    n_planes: int = 4,
    dim: int = 64,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH probe over the stored layout written by ``write_lsh_index``:
    identical results to ``ann_topk_lsh`` (same hyperplanes, fold, and
    rerank), but the bucket set is a driver literal (``lsh_bucket_py``)
    so the probe prunes PARQUET PARTITIONS instead of scanned rows."""
    qbucket = lsh_bucket_py(qvec, n_planes, dim)
    probes = [qbucket] + (
        [qbucket ^ (1 << p) for p in range(n_planes)] if multiprobe else []
    )
    qv_lit = F.array(*[F.lit(x) for x in qvec])
    return (
        spark.read.parquet(path)
        .filter(F.col("bucket").isin(probes) & (F.col(id_col) != query_id))
        .select(
            F.col(id_col).alias("vec_id"),
            F.round(
                cosine_similarity(F.col(vec_col), qv_lit), 6
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(k)
    )


def lsh_bucket_sql(vec_expr: str, n_planes: int, dim: int) -> str:
    """DuckDB fragment computing the identical sign-projection bucket.

    Hyperplane weights are the same plan-time constants as
    ``lsh_bucket_col`` (shared ``_hyperplanes``), emitted as literals;
    the projection is a left fold in array order (list_reduce with a
    prepended 0.0 — DuckDB's list_reduce takes no initial value), which
    matches Spark's F.aggregate fold exactly, so the float sums are
    bit-identical and the bucket ids agree."""
    planes = _hyperplanes(n_planes, dim)
    terms = []
    for p, row in enumerate(planes):
        lst = ", ".join(
            f"{vec_expr}[{d + 1}]::double * {w!r}" for d, w in enumerate(row)
        )
        proj = f"list_reduce(list_prepend(0.0, [{lst}]), (acc, x) -> acc + x)"
        terms.append(f"(case when {proj} >= 0 then {1 << p} else 0 end)")
    return "(" + " + ".join(terms) + ")"


def ann_topk_lsh(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: restrict the scan to the query's LSH bucket
    (plus hamming-1 buckets when ``multiprobe``), then exact cosine."""
    bucketed = with_lsh_bucket(embeddings, vec_col, n_planes, dim)
    qrow = bucketed.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qv"), F.col("bucket").alias("qbucket")
    )
    joined = bucketed.crossJoin(F.broadcast(qrow)).filter(
        F.col(id_col) != query_id
    )
    if multiprobe:
        probes = [F.col("bucket") == F.col("qbucket")] + [
            F.col("bucket")
            == F.expr(f"cast(qbucket as int) ^ {1 << p}")
            for p in range(n_planes)
        ]
        cond = probes[0]
        for c in probes[1:]:
            cond = cond | c
        joined = joined.filter(cond)
    else:
        joined = joined.filter(F.col("bucket") == F.col("qbucket"))
    return (
        joined.select(
            F.col(id_col).alias("vec_id"),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("qv")), 6
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(k)
    )


def ann_topk_ivf(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via IVF-flat: coarse-quantize every vector to
    its nearest codebook centroid, probe only the ``nprobe`` cells
    nearest the query, exact-cosine rerank inside them.

    The codebook here is the deterministic seed variant (the embeddings
    of ``vec_id < n_centroids``) — at production scale it would be a
    k-means codebook trained offline; the PLAN is identical either way:
    the codebook is driver-tiny (K × dim floats), ships as literals in a
    map-only assignment expression (at ingest the cell id would be a
    stored, partition-prunable column), and the probe is an equi-filter
    that prunes (K - nprobe)/K of the corpus before the exact rerank.
    Assignment argmin ties go to the smaller cid, with squared-L2
    folded in array order so the DuckDB oracle reproduces it
    bit-for-bit. The assignment runs as an Arrow-vectorized numpy
    pandas UDF (codebook closed over as an ndarray): the Catalyst HOF
    form (array_min over structs of zip_with/aggregate distances) is
    evaluated interpreted at ~K×dim lambda ops per row, and unrolling
    it into literal expressions overflows janino's 64 KB method limit
    inside WholeStageCodegen. The numpy fold is the identical sequence
    of IEEE double ops (see with_lsh_bucket), and np.argmin returns the
    FIRST minimum — the codebook is sorted by cid, so ties break to the
    smaller cid exactly like the oracle's row_number order.
    """
    cents, qvec = seed_and_query(
        embeddings, n_centroids, query_id, id_col, vec_col
    )

    return _probe_and_rerank(
        embeddings.withColumn("cid", ivf_cell_udf(cents)(F.col(vec_col))),
        "cid", cents, qvec, query_id, k, nprobe, id_col, vec_col,
    )


def seed_and_query(
    embeddings: DataFrame,
    n_centroids: int,
    query_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """ONE driver action fetching the seed codebook AND the query
    vector (the query then ships as literals with the centroids — no
    per-invocation rescans of the source for single rows). Returns
    ``(cents, qvec)``; raises a diagnostic ValueError when the query id
    is absent. Shared by ``ann_topk_ivf`` and
    ``ann_eval.ann_topk_ivf_trained`` so the fetch-and-tie-break logic
    cannot drift between the two."""
    small = embeddings.filter(
        (F.col(id_col) < n_centroids) | (F.col(id_col) == query_id)
    ).select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")).collect()
    cents = sorted(
        (int(r["cid"]), [float(x) for x in r["cvec"]])
        for r in small
        if int(r["cid"]) < n_centroids
    )
    qrows = [r for r in small if int(r["cid"]) == query_id]
    if not qrows:
        raise ValueError(
            f"query id {query_id} not found in {id_col}"
        )
    qvec = [float(x) for x in qrows[0]["cvec"]]
    return cents, qvec


def ivf_cell_udf(cents):
    """Arrow-vectorized nearest-centroid assignment for a driver-tiny
    codebook ``[(cid, vec), ...]`` sorted by cid (see ann_topk_ivf for
    why numpy instead of Catalyst HOFs, and for the exact tie-break and
    NaN semantics the DuckDB oracle reproduces)."""
    cmat = np.asarray([cvec for _, cvec in cents], dtype=np.float64)
    cid_arr = np.asarray([cid for cid, _ in cents], dtype=np.int64)

    @pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        lazy_zip_invalidation()
        n = len(v)
        if n == 0:
            return pd.Series([], dtype="int32")
        arrs = v.to_numpy()
        dim = cmat.shape[1]
        # NULL and length-mismatched vectors: the Catalyst zip_with
        # reference null-poisons every distance → null cell → the probe
        # equi-filter drops the row. Cell -1 (never a probe cid)
        # reproduces that; len() must never see a null row (None has no
        # len — it would kill the whole batch).
        notnull = ~v.isna().to_numpy()
        lens = np.fromiter(
            (len(a) if m else -1 for a, m in zip(arrs, notnull)),
            dtype=np.int64, count=n,
        )
        ok = lens == dim
        out = np.full(n, -1, dtype=np.int64)
        if ok.any():
            x = np.stack(arrs[ok]).astype(np.float64)  # (n_ok, dim)
            dists = np.empty((x.shape[0], len(cid_arr)), dtype=np.float64)
            for j in range(len(cid_arr)):
                acc = np.zeros(x.shape[0], dtype=np.float64)
                for d in range(dim):
                    diff = x[:, d] - cmat[j, d]
                    acc = acc + diff * diff
                dists[:, j] = acc
            # NaN distances sort LAST in both Spark and DuckDB (total
            # ordering); np.argmin would pick them FIRST — mask to +inf
            # (an all-NaN row then falls to the first index = smallest
            # cid, matching the oracle's (dist, cid) row_number order)
            dists[np.isnan(dists)] = np.inf
            idx = np.argmin(dists, axis=1)  # first min → smallest cid
            out[ok] = cid_arr[idx]
        return pd.Series(out.astype("int32"))

    return _cell


def _py_l2sq(a, b):
    """Driver-side squared L2 — the IDENTICAL left-fold double
    arithmetic as l2sq/l2sq_sql (python floats are the same doubles)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def _probe_cells(cents, qvec, nprobe):
    """The query's nprobe nearest cells, ties to the smaller cid."""
    return [
        cid
        for _, cid in sorted(
            (_py_l2sq(qvec, cvec), cid) for cid, cvec in cents
        )[:nprobe]
    ]


def _probe_and_rerank(
    assigned, cell_col, cents, qvec, query_id, k, nprobe, id_col, vec_col
):
    """Filter to the query's nprobe cells, exact-cosine rerank, top-k."""
    probe_cids = _probe_cells(cents, qvec, nprobe)
    qv_lit = F.array(*[F.lit(x) for x in qvec])
    return (
        assigned.filter(
            F.col(cell_col).isin(probe_cids) & (F.col(id_col) != query_id)
        )
        .select(
            F.col(id_col).alias("vec_id"),
            F.round(
                cosine_similarity(F.col(vec_col), qv_lit), 6
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(k)
    )


def with_ivf_cell(
    df: DataFrame, cents, vec_col: str = "embedding", out_col: str = "cell"
) -> DataFrame:
    """Add the nearest-centroid cell id — the ingest-time form."""
    return df.withColumn(out_col, ivf_cell_udf(cents)(F.col(vec_col)))


def seed_codebook(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The deterministic seed codebook (embeddings of vec_id <
    n_centroids) as a driver-tiny ``[(cid, vec), ...]`` sorted by cid —
    stand-in for an offline k-means codebook (the plan is identical)."""
    rows = (
        embeddings.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .collect()
    )
    return sorted((int(r["cid"]), [float(x) for x in r["cvec"]]) for r in rows)


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
):
    """Materialize the production IVF layout: the cell id is computed
    ONCE at ingest and stored as a parquet PARTITION column, so a probe
    becomes a partition-pruned scan — (K - nprobe)/K of the corpus is
    never opened, not merely filtered (asserted by
    tests/test_bucketing.py::test_ivf_stored_probe_is_partition_pruned).
    Ragged vectors land in cell=-1 and are never probed (the same rows
    the in-plan form's null-poisoned assignment drops). Returns the
    codebook for ``ann_topk_ivf_stored``. Pass a precomputed ``cents``
    to skip the codebook fetch (one fewer source scan)."""
    if cents is None:
        cents = seed_codebook(embeddings, n_centroids, id_col, vec_col)
    (
        with_ivf_cell(
            embeddings.select(id_col, vec_col), cents, vec_col
        )
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )
    return cents


def ann_topk_ivf_stored(
    spark,
    path: str,
    cents,
    qvec,
    query_id: int,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe over the stored layout written by ``write_ivf_index``:
    identical results to ``ann_topk_ivf`` (same codebook, same tie-break,
    same rerank arithmetic), but the nprobe cell filter prunes PARQUET
    PARTITIONS instead of scanned rows — the 100 TB probe shape."""
    return _probe_and_rerank(
        spark.read.parquet(path),
        "cell", cents, qvec, query_id, k, nprobe, id_col, vec_col,
    )
