"""Deduplication operators for the training-data pipeline.

Dedup/near-dup strategies plus corpus-level repetition signals, each
with a matching DuckDB oracle in queries.py (the formulas live in
functions/ so the two engines share constants). The text-hash family is
pure Catalyst (no Python anywhere); the embedding family computes its
vector math in Arrow-vectorized pandas UDFs (numpy over batch columns —
never per-row Python), parity-tested against interpreted-HOF Catalyst
references:

- exact        — hash-groupBy on normalized md5 (one shuffle on the hash)
- n-gram Jaccard — explode shingles → equi-join on shingle → count/union
- MinHash+LSH  — signature in one map pass; candidate pairs via equi-join
                 on (band, band_hash): the 100 TB path — no O(n²) anywhere
- SimHash      — token hash → per-bit majority vote → 16-bit fingerprint
- embedding    — cosine near-dup pairs (bounded block here; LSH-bucketed
                 variant in similarity.py for scale)

Persist lifecycle: ngram_jaccard_pairs, minhash_lsh_candidates,
simhash_near_dups, embedding_near_dups_lsh, and
boilerplate_fraction persist (and eagerly
materialize) intermediates their returned plans reference — the
persist must outlive the returned plan, so the operator cannot free
it. Callers own the release: wrap query + materialization in
``plans.cache.persist_scope(spark)`` (bench.py does), which also frees
localCheckpoint blocks that ``spark.catalog.clearCache()`` never
touches; dedup_components frees its own per-round checkpoints either
way. One-shot sessions (the driver's query runs) exit the JVM anyway.

Scale notes: the shingle-explode join is the dominant cost; its key
distribution is zipfian, so very frequent shingles (stop-shingles) are the
skew — ``max_df`` prunes them before the join (AQE skew-split catches the
rest). Pair aggregation keys on (doc_a, doc_b), naturally spread.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import band_hash, md5_prefix_hash
from ..functions.text import norm_fingerprint, tokens
from ..plans.cache import (
    persistent_rdd_ids as _persistent_rdd_ids,
    unpersist_rdd_ids as _unpersist_rdd_ids,
)
from ..plans.session import lazy_zip_invalidation

__all__ = [
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_lsh_candidates",
    "simhash_fingerprints",
    "simhash_near_dups",
    "embedding_near_dups",
    "boilerplate_fraction",
    "dedup_components",
]


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (text_hash, keeper_id, n_copies).

    The keeper is min(id). One shuffle, map-side partial agg for free."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            norm_fingerprint(F.col(text_col)).alias("text_hash"),
        )
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _shingle_table(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    # Explicit repartition before the CPU-heavy shingle expressions: the
    # rows are tiny, so AQE would otherwise coalesce them into one
    # partition and run ~2ms/doc of per-row compute on a single core.
    # An explicit numPartitions is exempt from AQE coalescing.
    #
    # Gram construction goes through pyspark.ml.feature.NGram (a JVM
    # sliding-window closure) instead of the Catalyst higher-order
    # `shingles()` expression: the HOF lambda is evaluated interpreted
    # (~30 µs/gram measured — no whole-stage codegen inside lambdas),
    # which made shingling the dominant cost of every dedup query.
    # NGram + array_sort(array_distinct(...)) produces byte-identical
    # shingle arrays (asserted by test_dedup_shingle_parity) ~10× faster.
    from pyspark.ml.feature import NGram

    num = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(num).select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t")
    )
    grams = NGram(n=n, inputCol="t", outputCol="grams").transform(toks)
    return grams.select(
        "doc_id", F.array_sort(F.array_distinct("grams")).alias("sh")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: Optional[int] = 1000,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard ≥ threshold.

    (doc_a, doc_b, jaccard) with doc_a < doc_b. Jaccard is an exact ratio
    of integer counts — identical across engines.

    ``max_df`` (default 1000) drops stop-shingles occurring in more than
    that many documents BEFORE the posting-list self-join; a shingle in d
    docs emits O(d²) candidate pairs, so uncapped zipfian shingles make
    the join quadratic at corpus scale (SCALE.md §jaccard). Sizes are
    computed on the pruned sets, so the output is the exact Jaccard of
    the pruned shingle-sets — the DuckDB oracle applies the identical
    cap, keeping the default path hash-verified. Pass ``max_df=None``
    for the textbook uncapped semantics (small corpora only)."""
    # persisted + eagerly materialized: sizes + both join sides scan this
    # (3 consumers); lazily-persisted plans race when consumers execute
    # concurrently, each recomputing tokenization + shingling upstream
    sh = _shingle_table(docs, id_col, text_col, n).persist()
    sh.count()
    exploded = sh.select("doc_id", F.explode("sh").alias("shingle"))
    if max_df is not None:
        freq = exploded.groupBy("shingle").agg(F.count("*").alias("df"))
        exploded = exploded.join(
            freq.filter(F.col("df") <= max_df).select("shingle"), "shingle"
        ).persist()
        exploded.count()
        sizes = exploded.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    else:
        sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    n: int = 3,
    k: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs via MinHash signatures + LSH banding.

    Output (doc_a, doc_b, n_bands_hit): pairs sharing ≥1 band bucket.
    No O(n²): one map pass for signatures, one union of ``bands``
    equi-joins on (band_hash). Empty shingle sets are dropped (their
    signature is undefined)."""
    from ..functions.hashing import HASH_P, MINHASH_A, MINHASH_B

    rows_per_band = k // bands
    # Signature via explode + hash-aggregate, NOT k × array_min(transform)
    # in one projection: Catalyst evaluates higher-order-function lambdas
    # interpreted (outside whole-stage codegen), which made the k
    # permutations the dominant cost. Exploding to (doc_id, h) rows and
    # taking k min() aggregates keeps every expression inside codegen and
    # gets map-side partial aggregation for free. Docs with zero shingles
    # drop out naturally (their signature is undefined).
    hashed = _shingle_table(docs, id_col, text_col, n).select(
        "doc_id", F.explode("sh").alias("shingle")
    ).select("doc_id", md5_prefix_hash(F.col("shingle")).alias("h"))
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i])) % HASH_P).alias(f"m{i}")
            for i in range(k)
        ]
    ).select(
        "doc_id",
        F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig"),
    )
    # One band-hash array + posexplode = a single pass over the signatures
    # (a per-band union would recompute the whole upstream plan per band).
    band_arr = F.array(
        *[band_hash(F.col("sig"), b, rows_per_band) for b in range(bands)]
    )
    buckets = sig.select(
        "doc_id", F.posexplode(band_arr).alias("band", "bh")
    ).persist()
    # Eagerly materialize before the self-join: with a lazy persist both
    # join sides race and each computes the full upstream concurrently
    # (measured as the driver-bench outlier in round 1). The count() is
    # one cheap cached scan; the join below then reads memory only.
    buckets.count()
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_bands_hit"))
    )


def simhash_fingerprints(
    docs: DataFrame,
    bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc SimHash fingerprint (frequency-weighted majority vote per
    bit over token hashes). (doc_id, simhash)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h", md5_prefix_hash(F.col("tok")))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    fingerprint = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bit_sums.select("doc_id", fingerprint.cast("long").alias("simhash"))


def embedding_near_dups_lsh(
    embeddings: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs via sign-projection LSH buckets — the scale path.

    One map pass assigns each vector a bucket; candidate pairs come from
    an equi-join on the bucket (plus exact cosine verification), so the
    cost is Σ bucket² instead of n² — with 2^n_planes buckets and
    near-uniform hashing that is ~n²/2^n_planes. Approximate: pairs whose
    vectors land in different buckets are missed (recall tunable via
    n_planes and multiprobe; see similarity.ann_topk_lsh)."""
    from ..functions.vectors import cosine_similarity_pandas
    from .similarity import with_lsh_bucket

    # persisted + eagerly materialized: both self-join sides scan this —
    # a lazy persist lets the sides race and compute the n_planes×dim
    # bucket projection twice (the round-1 minhash lesson)
    emb = with_lsh_bucket(
        embeddings.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
        ),
        "vec",
        n_planes,
        dim,
    ).persist()
    emb.count()
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.round(
                cosine_similarity_pandas(F.col("a.vec"), F.col("b.vec")), 6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.3,
    id_limit: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine near-dup pairs (vec_a, vec_b, cos) with vec_a < vec_b.

    Quadratic in the block size — callers bound it (``id_limit``) or use
    similarity.py's LSH-bucketed variant for full-corpus scale."""
    from ..functions.vectors import cosine_similarity_pandas

    emb = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    if id_limit is not None:
        emb = emb.filter(F.col("vid") < id_limit)
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(b, F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.round(
                cosine_similarity_pandas(F.col("a.vec"), F.col("b.vec")), 6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_near_dups_blocked(
    embeddings: DataFrame,
    threshold: float = 0.3,
    block_size: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``embedding_near_dups`` (exact all-pairs block, same values
    bit-for-bit) restructured for Arrow volume: the pairwise reference
    is a non-equi self-join, so every vector ships once PER PAIR —
    n²·dim doubles through the shuffle (n=4,000 ⇒ ~16 GB). Here each
    id-range block of ``block_size`` vectors ships once per PARTNER
    BLOCK (n·(n/block) rows), and each block-pair task forms its cross
    cosines in numpy with the identical per-pair op sequence: the dot
    is the same sequential fold over dims (outer-product accumulation
    — per pair that is exactly acc+x_k·y_k in k order), then
    dot/√‖x‖²/√‖y‖² in the reference's division order, F.round and the
    threshold filter applied Catalyst-side exactly like the reference
    (numpy prefilters at threshold−1e-6, wider than round-half-up can
    move a 6-decimal value, keeping NaN — total ordering keeps NaN
    pairs, NULL/zero-norm pairs drop). Hostile-data semantics match
    pairwise: pairs compute per matching vector length, mixed-length
    and NULL pairs drop. Ids must be INTEGRAL (blocks are id ranges, so
    cross-block pairs are pre-ordered; a float id would be silently
    truncated by the long cast, merging/reordering distinct ids — the
    operator refuses instead); NULL ids drop, exactly as the
    reference's ``a.vid < b.vid`` join condition drops them. Scale:
    work is the inherent O(n²·dim/task-parallelism) flops, but shuffle
    is O(n·n/block) rows — the shape that lets the exact baseline run
    at eval sizes far beyond the nested-loop form."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    spark = embeddings.sparkSession
    id_type = embeddings.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"embedding_near_dups_blocked: {id_col} must be an integral "
            f"type (got {id_type.simpleString()}); non-integral ids "
            "would be truncated by the block cast — use the pairwise "
            "embedding_near_dups for non-integral keys"
        )
    # persist: THREE consumers scan this (distinct-g collect, a-side,
    # b-side) — the module's materialize-on-fan-out rule; a computed
    # input (e.g. the jittered eval corpus) would otherwise re-pay its
    # whole plan per consumer
    emb = embeddings.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).alias("vec"),
        F.floor(F.col(id_col).cast("long") / block_size).alias("g"),
    ).persist()
    emb.count()
    gids = sorted(
        int(r["g"]) for r in emb.select("g").distinct().collect()
    )
    pairs_df = F.broadcast(
        spark.createDataFrame(
            [(i, j) for i in gids for j in gids if i <= j],
            "ga long, gb long",
        )
    )
    a_side = emb.join(pairs_df, emb["g"] == pairs_df["ga"]).select(
        "ga", "gb", F.lit(0).alias("side"), "vid", "vec"
    )
    b_side = emb.join(pairs_df, emb["g"] == pairs_df["gb"]).select(
        "ga", "gb", F.lit(1).alias("side"), "vid", "vec"
    )
    prefilter = threshold - 1e-6

    def _block_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        lazy_zip_invalidation()
        import numpy as np
        import pandas as pd

        from ..functions.vectors import _np_fold_dot

        avid, bvid, acos = [], [], []
        A = pdf[pdf["side"] == 0]
        B = pdf[pdf["side"] == 1]
        a_ok = A[A["vec"].notna()]
        b_ok = B[B["vec"].notna()]
        if len(a_ok) and len(b_ok):
            a_len = a_ok["vec"].map(len).to_numpy()
            b_len = b_ok["vec"].map(len).to_numpy()
            for length in np.unique(a_len):
                Ai = a_ok[a_len == length]
                Bi = b_ok[b_len == length]
                if not len(Bi):
                    continue
                X = np.stack(Ai["vec"].to_numpy()).astype(np.float64)
                Y = np.stack(Bi["vec"].to_numpy()).astype(np.float64)
                xv = Ai["vid"].to_numpy()
                yv = Bi["vid"].to_numpy()
                # (na, nb) dot as the SAME sequential fold over dims
                acc = np.zeros((len(Ai), len(Bi)), dtype=np.float64)
                for k in range(int(length)):
                    acc = acc + X[:, k : k + 1] * Y[:, k][None, :]
                nx = np.sqrt(_np_fold_dot(X, X))
                ny = np.sqrt(_np_fold_dot(Y, Y))
                zero = (nx == 0.0)[:, None] | (ny == 0.0)[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = acc / nx[:, None] / ny[None, :]
                keep = (
                    (xv[:, None] < yv[None, :])
                    & ~zero
                    & ((cos >= prefilter) | np.isnan(cos))
                )
                ia, ib = np.nonzero(keep)
                avid.append(xv[ia])
                bvid.append(yv[ib])
                acos.append(cos[ia, ib])
        if not avid:
            return pd.DataFrame(
                {"vec_a": pd.Series([], dtype="int64"),
                 "vec_b": pd.Series([], dtype="int64"),
                 "cos_raw": pd.Series([], dtype="float64")}
            )
        vals = np.concatenate(acos)
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(avid),
                "vec_b": np.concatenate(bvid),
                # explicit all-valid mask: the grouped-map Arrow
                # conversion treats bare float64 NaN as NULL (unlike
                # the scalar pandas_udf path), which would silently
                # DROP NaN-cosine pairs the reference keeps
                "cos_raw": pd.arrays.FloatingArray(
                    vals, np.zeros(len(vals), dtype=bool)
                ),
            }
        )

    raw = (
        a_side.unionByName(b_side)
        .groupBy("ga", "gb")
        .applyInPandas(
            _block_pairs, "vec_a long, vec_b long, cos_raw double"
        )
    )
    return (
        raw.select(
            "vec_a",
            "vec_b",
            F.round(F.col("cos_raw"), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def simhash_near_dups(
    docs: DataFrame,
    bits: int = 16,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Scale path: split the ``bits``-bit fingerprint into ``max_hamming+1``
    chunks — any pair within the distance bound agrees EXACTLY on at
    least one chunk (pigeonhole), so candidates come from an equi-join
    on (chunk_idx, chunk_value) instead of all pairs; the exact
    bit_count(xor) verify then filters false candidates. Output
    (doc_a, doc_b, hamming), each pair once."""
    n_chunks = max_hamming + 1
    assert bits % n_chunks == 0, "bits must divide into max_hamming+1 chunks"
    w = bits // n_chunks
    fp = simhash_fingerprints(docs, bits, id_col, text_col).persist()
    fp.count()
    chunk_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), c * w).bitwiseAND((1 << w) - 1)
            for c in range(n_chunks)
        ]
    )
    chunks = fp.select(
        "doc_id", "simhash", F.posexplode(chunk_arr).alias("c", "v")
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def boilerplate_fraction(
    docs: DataFrame,
    n: int = 8,
    min_df: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level boilerplate signal (C4/RefinedWeb-style): the
    fraction of each document's word ``n``-grams that are corpus-
    frequent (appearing in ≥ ``min_df`` documents).

    Two-phase shape: a global n-gram document-frequency aggregate (one
    shuffle on the gram, map-side partials), then a semi-join of each
    document's grams against the frequent set and a per-doc rollup.
    Documents too short for any n-gram report 0 grams / 0.0 fraction
    (left join from the doc spine). Output: (doc_id, n_grams,
    n_boiler, boiler_frac)."""
    sh = _shingle_table(docs, id_col, text_col, n).persist()
    sh.count()
    ex = sh.select("doc_id", F.explode("sh").alias("g"))
    frequent = (
        ex.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("g")
    )
    per_doc = (
        ex.join(frequent.withColumn("is_boiler", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("is_boiler").alias("n_boiler"),
        )
    )
    spine = docs.select(F.col(id_col).alias("doc_id"))
    return (
        spine.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.round(
                F.coalesce("n_boiler", F.lit(0))
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)).cast(
                    "double"
                ),
                6,
            ).alias("boiler_frac"),
        )
    )


def dedup_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    stats: Optional[dict] = None,
) -> DataFrame:
    """Connected components over near-dup candidate pairs — the dedup
    CLUSTERING step (every doc in a component keeps one representative;
    component id = the smallest doc id in the component).

    Alternating large-star/small-star (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond", Alg. 3): each round rewires
    every node's larger neighbors to its neighborhood minimum
    (large-star), then its smaller neighbors to theirs (small-star).
    Rounds are O(log n) — not O(diameter) like plain min-label
    propagation, which a chain-shaped near-dup graph (templated page
    series) can push past any fixed iteration cap. At fixpoint the edge
    set is a forest of min-rooted stars, so labels fall out of one
    neighborhood-min pass.

    Per-round cost: two shuffle pairs (groupBy-min + equi-join), both
    keyed on node id. Convergence is detected with ZERO extra jobs per
    round: an ``Observation`` collects an edge-set signature (count +
    endpoint sums + hash sum) DURING the job that materializes the
    round's edges, and only when two consecutive signatures match does
    an exact symmetric-difference check confirm the fixpoint (a
    signature collision can only cost that one extra check, never a
    wrong result). Each round is ``localCheckpoint``-ed to truncate the
    logical plan (Catalyst analysis otherwise grows super-linearly);
    the PREVIOUS round's checkpoint blocks are explicitly freed via the
    persistent-RDD registry, which ``spark.catalog.clearCache()`` does
    not cover. The returned DataFrame is self-contained (checkpointed
    result, bounded by the output size), so every per-round
    intermediate is already released when this returns.

    Raises RuntimeError if ``max_iter`` rounds pass without reaching
    the fixpoint (wrong labels must not be returned silently).

    ``stats`` (optional dict) receives {"rounds": int, "edge_counts":
    [int per round]} — the per-round edge count is read from the SAME
    Observation that computes the convergence signature, so recording
    it costs zero extra jobs; it is the per-round shuffle-volume proxy
    (each round shuffles O(|E_round|) rows twice).
    Output: (doc_id, component_id, component_size).
    """
    from pyspark.sql import Observation

    spark = pairs.sparkSession
    sc = spark.sparkContext
    base_ids = _persistent_rdd_ids(sc)  # pre-existing persists: not ours
    created: set = set()
    result_ids: set = set()  # the returned result's own checkpoint blocks

    def _checkpoint(df: DataFrame) -> tuple:
        before = _persistent_rdd_ids(sc)
        out = df.localCheckpoint(eager=True)
        ids = (_persistent_rdd_ids(sc) - before) - base_ids
        created.update(ids)
        return out, ids

    # canonical undirected edges (a < b), self-loops dropped. Ids keep
    # their native type — the algorithm only needs an orderable type
    # (least/greatest/min), so string ids (md5 keepers, URLs) work; a
    # numeric cast here would NULL them out and silently return an
    # empty clustering.
    raw = pairs.select(
        F.col(a_col).alias("x"), F.col(b_col).alias("y")
    ).filter(F.col("x") != F.col("y"))
    edges, _ = _checkpoint(
        raw.select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        ).distinct()
    )
    nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
        .persist()
    )
    nodes.count()

    prev_sig = None
    prev_ids: set = set()
    converged = False
    rounds = 0
    edge_counts: list = []
    try:
        for rounds in range(1, max_iter + 1):
            sym = edges.select(
                F.col("a").alias("src"), F.col("b").alias("dst")
            ).union(
                edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
            )
            # large-star: u's neighbors v > u rewire to min(N(u) ∪ {u});
            # m = least(src, min(dst)) ≤ src < dst keeps (m, dst) canonical
            mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
            # NO distinct here: duplicate (a, b) rows cost nothing
            # downstream — mins2's min() combines map-side, the e2 join
            # fanout is degree-bounded, and ss's final distinct (needed
            # anyway for the exact edge-set signature) dedups with
            # map-side partials. Dropping it removes one full |E|
            # shuffle per round — noise-level at sf0.1 (~14% cold),
            # real at scale where shuffle volume dominates rounds.
            ls = (
                sym.join(mins, "src")
                .filter(F.col("dst") > F.col("src"))
                .select(
                    F.least("src", "mn").alias("a"), F.col("dst").alias("b")
                )
            )
            # small-star: key by the LARGER endpoint (src=b); all its
            # smaller neighbors — and itself — rewire to min(N ∪ {u})
            e2 = ls.select(F.col("b").alias("src"), F.col("a").alias("dst"))
            mins2 = e2.groupBy("src").agg(F.min("dst").alias("mn"))
            ss = (
                e2.join(mins2, "src")
                .select(F.col("mn").alias("a"), F.col("dst").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .union(
                    mins2.select(
                        F.col("mn").alias("a"), F.col("src").alias("b")
                    )
                )
                .distinct()
            )
            obs = Observation()
            # endpoint HASH sums, not endpoint sums: type-agnostic (ids
            # may be strings) and decimal(38,0)-exact / overflow-free
            # under ANSI (a long sum of xxhash64 values overflows
            # immediately). A collision only costs the one exact
            # symmetric-difference check below, never a wrong result.
            observed = ss.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("a").cast("decimal(38,0)")).alias("sa"),
                F.sum(F.xxhash64("b").cast("decimal(38,0)")).alias("sb"),
                F.sum(
                    F.xxhash64("a", "b").cast("decimal(38,0)")
                ).alias("h"),
            )
            new_edges, new_ids = _checkpoint(observed)
            m = obs.get
            sig = (m["n"], m["sa"], m["sb"], m["h"])
            edge_counts.append(int(m["n"]))
            if sig == prev_sig:
                # exact confirmation — only ever runs at candidate
                # convergence, so it is once per call, not per round
                diff = new_edges.exceptAll(edges).union(
                    edges.exceptAll(new_edges)
                )
                if diff.isEmpty():
                    _unpersist_rdd_ids(sc, new_ids)
                    converged = True
                    break
            _unpersist_rdd_ids(sc, prev_ids)
            prev_ids = new_ids
            edges = new_edges
            prev_sig = sig
        if not converged:
            raise RuntimeError(
                f"dedup_components did not converge in {max_iter} "
                "large-star/small-star rounds — labels would be wrong; "
                "raise max_iter"
            )
        if stats is not None:
            stats["rounds"] = rounds
            stats["edge_counts"] = edge_counts
        # fixpoint = min-rooted star forest: every node's component is
        # the min of itself and its neighbors (the root for leaves, the
        # node itself for roots); nodes is the ORIGINAL node set, so
        # membership survives even if an edge rewire dropped a node
        adj = edges.select(
            F.col("a").alias("node"), F.col("b").alias("other")
        ).union(
            edges.select(F.col("b").alias("node"), F.col("a").alias("other"))
        )
        lbl = adj.groupBy("node").agg(F.min("other").alias("mn"))
        labels = nodes.join(lbl, "node", "left").select(
            "node",
            F.least(
                F.col("node"), F.coalesce("mn", F.col("node"))
            ).alias("comp"),
        )
        sizes = labels.groupBy("comp").agg(
            F.count("*").alias("component_size")
        )
        result, result_ids = _checkpoint(
            labels.join(sizes, "comp").select(
                F.col("node").alias("doc_id"),
                F.col("comp").alias("component_id"),
                "component_size",
            )
        )
        return result
    finally:
        # Own the whole persist lifecycle: free every checkpoint WE
        # created (clearCache never covers localCheckpoint blocks)
        # except the returned result's own — the result is therefore
        # self-contained and bounded by the output size. base_ids
        # (persists that existed before we started, e.g. an upstream
        # operator's) are never touched.
        nodes.unpersist()
        _unpersist_rdd_ids(
            sc, (created & _persistent_rdd_ids(sc)) - result_ids
        )
