"""Batched ANN search and recall evaluation over embedding columns.

The single-query operators in ``similarity.py`` are the probe shape; a
real corpus serves MANY queries per pass, and an approximate index is
only useful if its recall against the exact top-k is KNOWN. This module
adds both:

- ``ann_topk_batch``: exact top-k for a batch of query ids in one plan —
  broadcast the (tiny) query set, one scored pass over the corpus, then
  a per-query top-k window. Spark 3.5+ rewrites the rank-filter window
  into ``WindowGroupLimit`` (per-partition partial top-k BEFORE the
  shuffle), so the shuffle carries O(n_queries × k) rows per partition,
  not the full n_corpus × n_queries score matrix — the batched analog of
  the single-query TakeOrdered (plan-asserted in tests).
- ``train_codebook``: Lloyd's k-means as DataFrame ops — assignment is
  the existing Arrow-vectorized ``ivf_cell_udf`` map pass, the update is
  a per-cell mean via ``applyInPandas`` whose per-dimension sum is the
  same sequential left fold (in vec_id order) as the DuckDB oracle's
  ``list_reduce`` over ``list(x order by vec_id)``, so trained centroids
  are bit-identical across engines and every downstream assignment /
  probe / rerank stays exactly oracle-checkable. The codebook round-trips
  through the driver between iterations (K × dim doubles — the same
  driver-tiny shape ``ann_topk_ivf`` already ships as literals).
- ``ann_recall_table``: recall@k and scanned-candidate fraction of every
  approximate variant (LSH single/multi-probe, IVF seed and trained
  codebooks at several nprobe) against the exact batch top-k, over a
  fixed deterministic query panel — one summary row per variant. This is
  the number a user tuning n_planes / nprobe actually needs.
- ``embedding_pair_recall``: pair-recall of the LSH bucketed near-dup
  join against the exact all-pairs block at the same threshold.

Scale notes: the query panel, probe tables, and codebook are driver-tiny
and broadcast; the corpus is touched by ONE bucket/cell assignment pass
(persisted, freed by the caller's ``persist_scope``) and each variant's
candidates come from a broadcast equi-join on its probe table — no
variant rescans the source. ``train_codebook``'s update materializes
each cell's vectors in one pandas group (fine at test scale and for
K ≪ n); at 100 TB the update would be a map-side partial-sum tree — the
sequential fold here is the deterministic verification form the oracle
can reproduce bit-for-bit, and the returned codebook is layout-agnostic
either way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_similarity_pandas
from ..plans.session import lazy_zip_invalidation
from .similarity import (
    _probe_cells,
    ivf_cell_udf,
    lsh_bucket_py,
    seed_codebook,
    with_ivf_cell,
    with_lsh_bucket,
)

__all__ = [
    "ann_topk_batch",
    "ann_topk_ivf_trained",
    "ann_recall_table",
    "embedding_pair_recall",
    "jitter_sql",
    "jittered_embeddings",
    "train_codebook",
]


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by (cos desc, vec_id) — the deterministic order
    every other ANN operator and oracle uses. row_number + rank filter
    is the form Spark rewrites into WindowGroupLimit."""
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _query_rows(embeddings, query_ids, id_col, vec_col):
    """Collect the query panel (qid, vector) — ONE driver action, tiny
    (n_queries × dim doubles), reused for probe tables and literals."""
    rows = (
        embeddings.filter(F.col(id_col).isin(list(query_ids)))
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .collect()
    )
    got = {int(r["qid"]): [float(x) for x in r["qv"]] for r in rows}
    missing = set(int(q) for q in query_ids) - set(got)
    if missing:
        raise ValueError(f"query ids absent from corpus: {sorted(missing)}")
    return sorted(got.items())


def _score(df: DataFrame, id_col, vec_col) -> DataFrame:
    """(qid, vec_id, cos) with the house rounding — Arrow fast path,
    bit-identical to the Catalyst fold and the DuckDB oracle."""
    return df.select(
        "qid",
        F.col(id_col).alias("vec_id"),
        F.round(
            cosine_similarity_pandas(F.col(vec_col), F.col("qv")), 6
        ).alias("cos"),
    )


def ann_topk_batch(
    embeddings: DataFrame,
    query_ids,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for every query id in one plan (qid, vec_id,
    cos, rank) — the production many-queries shape of
    ``similarity.ann_topk_bruteforce``."""
    q = F.broadcast(
        embeddings.filter(F.col(id_col).isin(list(query_ids))).select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
        )
    )
    scored = _score(
        embeddings.join(q, F.col(id_col) != F.col("qid")), id_col, vec_col
    )
    return _topk_window(scored, k)


def train_codebook(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed=None,
):
    """Lloyd's k-means codebook as DataFrame ops, deterministic and
    cross-engine exact (see module docstring). Returns ``[(cid, vec),
    ...]`` sorted by cid — a drop-in for ``seed_codebook``.

    ``seed``: precomputed ``seed_codebook`` result to start from — pass
    it when the caller already collected one (ann_recall_table does) so
    the seed's filter+collect scan over the source runs once, not twice.

    Each iteration: assign every vector to its nearest centroid (the
    Arrow ``ivf_cell_udf`` map pass; ragged/NULL vectors land in cell -1
    and never contribute), then recompute each cell's mean with a
    per-dimension sequential left fold in vec_id order divided by the
    cell count — the exact arithmetic the DuckDB oracle unrolls. Cells
    that lost every member keep their previous centroid."""
    cents = (
        seed
        if seed is not None
        else seed_codebook(embeddings, n_centroids, id_col, vec_col)
    )
    emb = embeddings.select(id_col, vec_col)

    def _cell_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        lazy_zip_invalidation()
        pdf = pdf.sort_values(id_col)
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        # dimension comes from the data, not the closure: every vector
        # in a cell >= 0 group already matched the codebook dim (the
        # assignment UDF sends other lengths to cell -1), so shape[1]
        # is uniform here and a wrong `dim` argument can't crash the fold
        acc = np.zeros(x.shape[1], dtype=np.float64)
        for i in range(x.shape[0]):
            acc = acc + x[i]  # sequential fold in vec_id order
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])],
                "cvec": [(acc / x.shape[0]).tolist()],
            }
        )

    for _ in range(iters):
        assigned = with_ivf_cell(emb, cents, vec_col, "cell").filter(
            F.col("cell") >= 0
        )
        new_rows = (
            assigned.groupBy("cell")
            .applyInPandas(_cell_mean, "cell int, cvec array<double>")
            .collect()
        )
        by_cell = {
            int(r["cell"]): [float(v) for v in r["cvec"]] for r in new_rows
        }
        cents = sorted(
            (cid, by_cell.get(cid, cvec)) for cid, cvec in cents
        )
    return cents


def ann_topk_ivf_trained(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``similarity.ann_topk_ivf`` with a Lloyd's-trained codebook
    instead of the seed stand-in — same assignment UDF, probe shape,
    and rerank arithmetic; only the centroids differ (and recall
    improves at equal nprobe, measured by ``ann_recall_table``)."""
    from .similarity import _probe_and_rerank, seed_and_query

    seed, qvec = seed_and_query(
        embeddings, n_centroids, query_id, id_col, vec_col
    )
    cents = train_codebook(
        embeddings, n_centroids, iters, id_col=id_col, vec_col=vec_col,
        seed=seed,
    )
    return _probe_and_rerank(
        embeddings.withColumn("cid", ivf_cell_udf(cents)(F.col(vec_col))),
        "cid", cents, qvec, query_id, k, nprobe, id_col, vec_col,
    )


def _probe_df(spark, rows, schema):
    return F.broadcast(spark.createDataFrame(rows, schema))


def _variant_summary(
    variant: str,
    candidates: DataFrame,
    exact_ids: DataFrame,
    k: int,
    n_queries: int,
    n_corpus: int,
) -> DataFrame:
    """One summary row: candidate volume, hits against the exact top-k,
    recall@k, and the fraction of the corpus scanned per query."""
    topk = _topk_window(candidates, k).select("qid", "vec_id")
    cand_cnt = candidates.agg(F.count("*").alias("sum_candidates"))
    hit_cnt = topk.join(exact_ids, ["qid", "vec_id"], "left_semi").agg(
        F.count("*").alias("sum_hits")
    )
    denom_r = float(n_queries * k)
    denom_c = float(n_queries * (n_corpus - 1))
    return cand_cnt.crossJoin(hit_cnt).select(
        F.lit(variant).alias("variant"),
        F.lit(n_queries).cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        F.col("sum_candidates").cast("long").alias("sum_candidates"),
        F.col("sum_hits").cast("long").alias("sum_hits"),
        (F.col("sum_hits") / F.lit(denom_r)).alias("recall_at_k"),
        (F.col("sum_candidates") / F.lit(denom_c)).alias("candidate_frac"),
    )


def ann_recall_table(
    embeddings: DataFrame,
    query_ids,
    k: int = 10,
    n_planes: int = 4,
    dim: int = 64,
    n_centroids: int = 16,
    nprobes=(1, 2, 4, 8),
    trained_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k + scan-fraction of every approximate ANN variant against
    the exact batch top-k, one row per variant (see module docstring).

    Persists it creates (the assigned corpus, the scored candidate sets,
    the exact top-k) are freed by the caller's ``persist_scope``."""
    spark = embeddings.sparkSession
    qrows = _query_rows(embeddings, query_ids, id_col, vec_col)
    n_queries = len(qrows)
    cents_seed = seed_codebook(embeddings, n_centroids, id_col, vec_col)
    cents_tr = train_codebook(
        embeddings, n_centroids, trained_iters, id_col, vec_col,
        seed=cents_seed,
    )

    # ONE pass computes every per-vector index column (LSH bucket, seed
    # cell, trained cell); everything downstream joins against this.
    corpus = with_ivf_cell(
        with_ivf_cell(
            with_lsh_bucket(
                embeddings.select(id_col, vec_col), vec_col, n_planes, dim
            ),
            cents_seed,
            vec_col,
            "cell_seed",
        ),
        cents_tr,
        vec_col,
        "cell_tr",
    ).persist()
    n_corpus = corpus.count()  # eager (house rule) + the frac denominator

    # exact ground truth: broadcast panel, one scored pass, top-k window
    qdf = _probe_df(
        spark, [(q, v) for q, v in qrows], "qid long, qv array<double>"
    )
    exact_ids = (
        _topk_window(
            _score(
                corpus.join(qdf, F.col(id_col) != F.col("qid")),
                id_col,
                vec_col,
            ),
            k,
        )
        .select("qid", "vec_id")
        .persist()
    )
    exact_ids.count()

    # LSH probe table: the query's own bucket (prank 0) + hamming-1
    # neighbors (prank 1) — multiprobe keeps all, single keeps prank 0
    lsh_rows = []
    for qid, qv in qrows:
        qb = lsh_bucket_py(qv, n_planes, dim)
        lsh_rows.append((qid, qv, qb, 0))
        lsh_rows.extend(
            (qid, qv, qb ^ (1 << p), 1) for p in range(n_planes)
        )
    lsh_probes = _probe_df(
        spark, lsh_rows, "qid long, qv array<double>, pbucket int, prank int"
    )
    lsh_scored = _score_with(
        corpus, lsh_probes, "bucket", "pbucket", ["prank"], id_col, vec_col
    ).persist()
    lsh_scored.count()

    # IVF probe tables: per-query cells ranked by centroid distance —
    # variant nprobe=p keeps cell ranks 1..p
    def ivf_probes(cents):
        rows = []
        for qid, qv in qrows:
            ranked = _probe_cells(cents, qv, max(nprobes))
            rows.extend(
                (qid, qv, cid, r + 1) for r, cid in enumerate(ranked)
            )
        return _probe_df(
            spark, rows, "qid long, qv array<double>, pcell int, crank int"
        )

    ivf_scored_seed = _score_with(
        corpus, ivf_probes(cents_seed), "cell_seed", "pcell", ["crank"],
        id_col, vec_col,
    ).persist()
    ivf_scored_seed.count()
    ivf_scored_tr = _score_with(
        corpus, ivf_probes(cents_tr), "cell_tr", "pcell", ["crank"],
        id_col, vec_col,
    ).persist()
    ivf_scored_tr.count()

    parts = [
        _variant_summary(
            "lsh_single",
            lsh_scored.filter(F.col("prank") == 0).drop("prank"),
            exact_ids, k, n_queries, n_corpus,
        ),
        _variant_summary(
            "lsh_multi", lsh_scored.drop("prank"),
            exact_ids, k, n_queries, n_corpus,
        ),
    ]
    for np_ in nprobes:
        parts.append(
            _variant_summary(
                f"ivf_seed_np{np_}",
                ivf_scored_seed.filter(F.col("crank") <= np_).drop("crank"),
                exact_ids, k, n_queries, n_corpus,
            )
        )
        parts.append(
            _variant_summary(
                f"ivf_trained_np{np_}",
                ivf_scored_tr.filter(F.col("crank") <= np_).drop("crank"),
                exact_ids, k, n_queries, n_corpus,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _score_with(
    corpus: DataFrame,
    probes: DataFrame,
    corpus_key: str,
    probe_key: str,
    keep: list,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Broadcast equi-join corpus rows to their probing queries and
    score them — (qid, vec_id, cos, *keep). Each corpus row matches a
    given query at most once (probe keys are distinct per query)."""
    joined = corpus.join(
        probes,
        (F.col(corpus_key) == F.col(probe_key))
        & (F.col(id_col) != F.col("qid")),
    )
    return joined.select(
        "qid",
        F.col(id_col).alias("vec_id"),
        F.round(
            cosine_similarity_pandas(F.col(vec_col), F.col("qv")), 6
        ).alias("cos"),
        *keep,
    )


def jittered_embeddings(
    embeddings: DataFrame,
    eps: float = 0.02,
    id_offset: int = 100000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The corpus plus one deterministic near-duplicate per vector —
    the planted ground truth for pair-recall evaluation.

    Each twin is the original plus per-element uniform(-eps, eps) noise
    derived from md5(\"jit:<id>:<1-based dim>\") — the same plan-time
    hash trick as the LSH hyperplanes, computed IN-ENGINE so the DuckDB
    oracle reproduces the identical doubles (conv/substr/md5 and the
    divide-then-scale order match byte-for-byte). Twins take id + offset.
    Pure Catalyst; the md5-per-element cost is the point of the exercise
    (an evaluation query), not a production ingest path."""
    # Twin ids must not collide with original ids, or the union holds
    # duplicate keys and every downstream recall number is silently
    # wrong — and the DuckDB oracle uses the same offset, so the hash
    # check would PASS on the corrupted numbers. Fail loudly instead
    # (one tiny max() job on an eval-only path).
    max_id = embeddings.agg(F.max(F.col(id_col))).collect()[0][0]
    if max_id is not None and max_id >= id_offset:
        raise ValueError(
            f"jittered_embeddings: max({id_col})={max_id} >= "
            f"id_offset={id_offset}; twin ids would collide — raise "
            "id_offset above the corpus id range"
        )
    as_double = embeddings.select(
        F.col(id_col).alias(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            vec_col
        ),
    )
    # two-step select: the twin id is aliased to id_col, so seeding the
    # hash from F.col(id_col) in the SAME select would hit Spark's
    # lateral-column-alias resolution and read the OFFSET id (diverging
    # from the oracle, which seeds from the original). A distinct
    # source-id name makes the resolution unambiguous.
    src = embeddings.select(
        F.col(id_col).alias("__src_id"), F.col(vec_col).alias(vec_col)
    )
    jittered = src.select(
        (F.col("__src_id") + F.lit(id_offset)).alias(id_col),
        F.transform(
            F.col(vec_col),
            lambda x, i: x.cast("double")
            + (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("jit:"),
                                F.col("__src_id").cast("string"),
                                F.lit(":"),
                                (i + 1).cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2001
                - 1000
            )
            / 1000.0
            * eps,
        ).alias(vec_col),
    )
    return as_double.unionByName(jittered)


def jitter_sql(eps: float = 0.02, id_offset: int = 100000, dim: int = 64) -> str:
    """DuckDB CTE body producing the identical jittered corpus as
    ``jittered_embeddings`` (same md5 seeds, same arithmetic order).

    The twin is built with an INDEXED lambda over the source list —
    not ``range(1, dim+1)`` — so it preserves each vector's actual
    length exactly like Spark's ``F.transform``: a ragged source vector
    must jitter to a ragged twin on both engines (the range form would
    NULL-pad DuckDB's twin to ``dim`` while Spark kept the short
    length, and the two engines' pair cosines would then null-poison
    differently). ``dim`` is kept in the signature for call
    compatibility; the SQL no longer needs it."""
    noise = (
        "(cast(concat('0x', substr(md5('jit:' || vec_id::varchar || ':' "
        "|| i::varchar), 1, 8)) as bigint) % 2001 - 1000) / 1000.0"
        f" * {eps!r}"
    )
    return f"""
select vec_id, embedding::double[] embedding from embeddings
union all
select vec_id + {id_offset},
  list_transform(embedding, (x, i) -> x::double + {noise})
from embeddings
"""


def embedding_pair_recall(
    embeddings: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pair-recall of the LSH bucketed near-dup join against the exact
    all-pairs block at the same threshold — one row (n_exact, n_lsh,
    n_common, pair_recall). LSH pairs are by construction a subset of
    the exact pairs (same verify arithmetic on a pruned candidate set),
    so n_common == n_lsh; the join computes it anyway as a cross-check
    of that claim rather than assuming it."""
    from .dedup import embedding_near_dups_blocked, embedding_near_dups_lsh

    # materialize the input once (house persist rule): it fans out to
    # FIVE consumers (blocked exact a/b sides, LSH bucket pass + join,
    # the jitter guard when the caller passes jittered_embeddings) —
    # and a computed input like the jittered corpus re-pays 256k
    # interpreted md5 lambdas per recompute otherwise
    embeddings = embeddings.select(id_col, vec_col).persist()
    embeddings.count()
    # the blocked exact form: same values bit-for-bit as the pairwise
    # embedding_near_dups (parity-pinned in tests/test_dedup.py), but
    # O(n·n/block) shuffle rows instead of a nested-loop join shipping
    # both full vectors per pair — the difference between ~17 s and
    # ~1 s at the n=2,000/4,000 eval sizes, and the only form that
    # could run an exact baseline at all one size up
    exact = embedding_near_dups_blocked(
        embeddings, threshold, id_col=id_col, vec_col=vec_col
    ).select("vec_a", "vec_b").persist()
    exact.count()
    lsh = embedding_near_dups_lsh(
        embeddings, threshold, n_planes, dim, id_col, vec_col
    ).select("vec_a", "vec_b").persist()
    lsh.count()
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_lsh = lsh.agg(F.count("*").alias("n_lsh"))
    n_common = lsh.join(exact, ["vec_a", "vec_b"], "left_semi").agg(
        F.count("*").alias("n_common")
    )
    return (
        n_exact.crossJoin(n_lsh)
        .crossJoin(n_common)
        .select(
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("n_lsh").cast("long").alias("n_lsh"),
            F.col("n_common").cast("long").alias("n_common"),
            (
                F.col("n_common")
                / F.greatest(F.col("n_exact"), F.lit(1)).cast("double")
            ).alias("pair_recall"),
        )
    )


def clustered_embeddings(
    spark,
    n: int = 2048,
    k_clusters: int = 16,
    dim: int = 64,
    spread: float = 0.3,
) -> DataFrame:
    """A deterministic mixture-of-clusters corpus: ``n`` vectors in
    ``k_clusters`` well-separated groups (cluster = vec_id %
    k_clusters; center = per-(cluster, dim) md5-uniform in [-1, 1];
    point = center + md5-uniform(-spread, spread) noise).

    The isotropic driver corpus makes recall ≈ scan-fraction the
    honest ceiling (BENCH.md); this population has real neighborhood
    structure, so an index can DEMONSTRATE value (recall ≫ scan
    fraction). Pure Catalyst, same conv/substr/md5 plan-time-hash
    trick as ``jittered_embeddings`` — ``clustered_sql`` reproduces
    the identical doubles in DuckDB. Seed-codebook bonus: vec_ids
    0..k_clusters-1 land one per cluster, so the existing
    vec_id < n_centroids seeding starts from a perfect codebook."""
    center = (
        f"(cast(conv(substring(md5(concat('ctr:', "
        f"cast(vec_id % {k_clusters} as string), ':', "
        f"cast(i as string))), 1, 8), 16, 10) as bigint) "
        f"% 2001 - 1000) / 1000.0"
    )
    noise = (
        f"(cast(conv(substring(md5(concat('pt:', "
        f"cast(vec_id as string), ':', "
        f"cast(i as string))), 1, 8), 16, 10) as bigint) "
        f"% 2001 - 1000) / 1000.0 * {spread!r}"
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {dim}), i -> {center} + {noise})"
        ).alias("embedding"),
    )


def clustered_sql(
    n: int = 2048,
    k_clusters: int = 16,
    dim: int = 64,
    spread: float = 0.3,
) -> str:
    """DuckDB CTE body producing the identical clustered corpus as
    ``clustered_embeddings`` (same md5 seeds, same arithmetic order)."""
    center = (
        f"(cast(concat('0x', substr(md5('ctr:' || "
        f"(vec_id % {k_clusters})::varchar || ':' || i::varchar), 1, 8)) "
        f"as bigint) % 2001 - 1000) / 1000.0"
    )
    noise = (
        f"(cast(concat('0x', substr(md5('pt:' || "
        f"vec_id::varchar || ':' || i::varchar), 1, 8)) "
        f"as bigint) % 2001 - 1000) / 1000.0 * {spread!r}"
    )
    return f"""
select vec_id,
  list_transform(range(1, {dim + 1}), i -> {center} + {noise}) embedding
from (select unnest(range({n}))::bigint vec_id)
"""
