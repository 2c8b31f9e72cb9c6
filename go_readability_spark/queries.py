"""Query registry: every operator exposed as (Spark callable, DuckDB oracle).

This is the correctness surface the driver exercises (README contract):
``queries()[name](spark, sf_dir)`` runs the Spark plan; ``oracle_sql()[name]``
is the equivalent ANSI SQL DuckDB runs over the same parquet views
(``documents``, ``embeddings``, ``events``, ``orders``, ``lineitem``...).
Formulas/constants are imported from functions/*, so the two sides cannot
drift. Non-SQL-expressible extraction queries (the readability UDF itself)
have no oracle — the driver records a rows-only check (FIXTURES.md §4).

Column names are aliased identically on both sides; double outputs are
rounded at 6 digits after exact (integer/decimal) arithmetic; sums are
cast to fixed types so engine-internal widening (DuckDB HUGEINT, Spark
decimal growth) never shows in the schema.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.hashing import (
    band_hash_sql,
    md5_prefix_hash_sql,
    minhash_signature_sql,
)
from .functions.text import (
    bpe_token_count_sql,
    norm_fingerprint_sql,
    rolling_hash_sql,
    shingles_sql,
    tokens_sql,
    ws_token_count_sql,
)
from .functions.vectors import cosine_similarity_sql
from .operators.dedup import (
    dedup_exact,
    embedding_near_dups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from .operators.extract import extract_documents, metrics_rollup
from .operators.multimodal import media_features, media_inventory
from .operators.relational import (
    events_hourly,
    pricing_summary,
    resume_pending,
    revenue_by_nation,
    sessionize,
)
from .operators.similarity import ann_topk_bruteforce, ann_topk_lsh
from .operators.textops import (
    LANG_MARKERS,
    PUNCT_RE,
    STOPWORDS,
    fingerprints,
    language_id,
    quality_filter,
    text_profile,
)
from .sources.tables import corpus_df, documents_as_spans_df, load_table

__all__ = ["QUERIES", "ORACLES", "queries", "oracle_sql"]

QueryFn = Callable[[SparkSession, str], DataFrame]

# --------------------------------------------------------------------------
# parameters shared by Spark queries and their oracles
# --------------------------------------------------------------------------
CHUNK = 2048
MEDIA_EVERY = 3
NGRAM_N = 3
JACCARD_T = 0.2
# Stop-shingle document-frequency cap (dedup.ngram_jaccard_pairs default):
# the posting-list self-join is O(df²) per shingle, so the cap is load-
# bearing at corpus scale. The oracle applies the identical cap — the
# capped (default) path is the hash-verified one.
JACCARD_MAX_DF = 1000
MINHASH_K = 16
MINHASH_BANDS = 8
SIMHASH_BITS = 16
EMB_NEAR_T = 0.3
EMB_BLOCK = 300
ANN_QUERY_ID = 0
ANN_K = 10
CORPUS_DOCS = 200

# SQL fragment rebuilding the native html construction of
# sources.tables.documents_as_spans_df (same concat, same replace)
_HTML_SQL = (
    "'<html><head><title>Doc ' || doc_id::varchar || "
    "'</title></head><body><article><h1>Doc ' || doc_id::varchar || "
    "'</h1><p>' || replace(text, chr(10), '</p><p>') || "
    "'</p></article></body></html>'"
)


def _spans_cte() -> str:
    """CTE rebuilding the documents_as_spans table in DuckDB."""
    return f"""
with h as (select doc_id::varchar doc_id, {_HTML_SQL} html,
           (doc_id % {MEDIA_EVERY} = 0) has_media from documents),
spans as (
  select doc_id, html, has_media,
    list_concat(
      list_transform(range(0, cast(ceil(length(html) / {CHUNK}.0) as int)),
        i -> struct_pack(kind := 'text',
                         text := substr(html, i * {CHUNK} + 1, {CHUNK}),
                         media_ref := '',
                         "offset" := i::int)),
      case when has_media then
        [struct_pack(kind := 'media',
                     text := 'figure for doc ' || doc_id,
                     media_ref := 'media://doc/' || doc_id,
                     "offset" := cast(ceil(length(html) / {CHUNK}.0) as int))]
      else [] end) spans
  from h)
"""


# --------------------------------------------------------------------------
# extraction-family queries (the readability UDF — no SQL oracle)
# --------------------------------------------------------------------------

def q_extract_driver_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the whole pipeline over the driver's documents table.

    CharThreshold=150 (a ReadabilityOptions knob, options.go:21-33): the
    driver corpus averages ~250 chars/doc, far below the web-article
    default of 500, so the default gate would reject nearly everything."""
    from .readability.extract import ReadabilityOptions

    docs = documents_as_spans_df(spark, sf_dir, CHUNK, MEDIA_EVERY)
    ext = extract_documents(
        docs, options=ReadabilityOptions(char_threshold=150, forced_page_type="")
    )
    return ext.select(
        "doc_id",
        F.col("meta.page_type").alias("page_type"),
        F.col("meta.title").alias("title"),
        F.col("meta.node_count").alias("node_count"),
        F.size("spans_out").alias("n_spans_out"),
        F.col("doc_bytes").alias("doc_bytes"),
        F.col("error").alias("error"),
    )


def q_extract_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction over the synthetic interleaved corpus (all populations)."""
    ext = extract_documents(corpus_df(spark, CORPUS_DOCS))
    return ext.select(
        "doc_id",
        F.col("meta.page_type").alias("page_type"),
        F.col("meta.title").alias("title"),
        F.col("meta.byline").alias("byline"),
        F.col("meta.node_count").alias("node_count"),
        F.size("spans_out").alias("n_spans_out"),
        F.col("metrics.candidate_count").alias("candidate_count"),
        F.round("metrics.top_score", 4).alias("top_score"),
    )


def q_extract_spans_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The golden invariant surface: exploded output span sequences."""
    ext = extract_documents(corpus_df(spark, CORPUS_DOCS))
    return ext.select(
        "doc_id", F.explode("spans_out").alias("s")
    ).select(
        "doc_id",
        F.col("s.order").alias("span_order"),
        F.col("s.kind").alias("kind"),
        F.col("s.media_ref").alias("media_ref"),
        F.length("s.text").alias("text_len"),
        F.md5(F.coalesce(F.col("s.text"), F.lit(""))).alias("text_md5"),
    )


def q_extract_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ext = extract_documents(corpus_df(spark, CORPUS_DOCS))
    roll = metrics_rollup(ext)
    return roll.select(
        "page_type",
        "n_docs",
        "n_errors",
        "total_bytes",
        F.round("avg_candidates", 4).alias("avg_candidates"),
        F.round("avg_prune_ratio", 4).alias("avg_prune_ratio"),
        "n_probably_content",
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: stub feature extraction over the driver
    documents reshaped as spans (so DuckDB can verify the md5-derived
    features/content hashes against the same table)."""
    docs = documents_as_spans_df(spark, sf_dir, CHUNK, MEDIA_EVERY)
    feats = media_features(docs, decode_stub=True)
    return feats.select(
        "doc_id",
        "media_ref",
        "media_type",
        "content_hash",
        "feature_dim",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
    )


# content_hash = signed big-endian int64 of md5(media_ref)[:8]; f0 = the
# first stub feature byte / 255 at float32 then rounded — both derived
# in SQL from the same md5 hex string the Python stub digests.
_U63 = 1 << 63
_U64 = 1 << 64
ORACLE_MEDIA_FEATURES = f"""
with m as (
  select doc_id::varchar doc_id,
    'media://doc/' || doc_id::varchar media_ref,
    'doc' media_type
  from documents where doc_id % {MEDIA_EVERY} = 0),
h as (
  select m.*, md5(media_ref) hx,
    cast(concat('0x', substr(md5(media_ref), 1, 16)) as ubigint) x
  from m)
select doc_id, media_ref, media_type,
  cast(cast(x as hugeint)
       - (case when x >= {_U63}::ubigint then {_U64}::hugeint
          else 0::hugeint end) as bigint) content_hash,
  8 feature_dim,
  round(cast(cast(cast(concat('0x', substr(hx, 1, 2)) as int) / 255.0
    as real) as double), 6) f0
from h
"""

N_FRAMES = 3


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-many frame sampling over the driver documents' media
    spans (stub decode; deterministic md5 frames)."""
    from .operators.multimodal import media_frame_samples

    docs = documents_as_spans_df(spark, sf_dir, CHUNK, MEDIA_EVERY)
    frames = media_frame_samples(docs, n_frames=N_FRAMES)
    return frames.select(
        "doc_id",
        "media_ref",
        "frame_idx",
        "frame_hash",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
    )


ORACLE_MEDIA_FRAMES = f"""
with m as (
  select doc_id::varchar doc_id,
    'media://doc/' || doc_id::varchar media_ref
  from documents where doc_id % {MEDIA_EVERY} = 0),
fr as (
  select m.*, i.frame_idx,
    md5(media_ref || '#frame' || frame_idx::varchar) hx
  from m cross join (
    select unnest(range({N_FRAMES}))::int frame_idx) i),
h as (
  select fr.*,
    cast(concat('0x', substr(hx, 1, 16)) as ubigint) x
  from fr)
select doc_id, media_ref, frame_idx,
  cast(cast(x as hugeint)
       - (case when x >= {_U63}::ubigint then {_U64}::hugeint
          else 0::hugeint end) as bigint) frame_hash,
  round(cast(cast(cast(concat('0x', substr(hx, 1, 2)) as int) / 255.0
    as real) as double), 6) f0
from h
"""


ANN_LSH_PLANES = 4
EMB_LSH_PLANES = 6
EMB_DIM = 64


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN (bucket-pruned scan). The hyperplanes are
    deterministic plan-time constants, so the DuckDB oracle recomputes
    the identical buckets from literal weights."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_lsh(
        emb, ANN_QUERY_ID, ANN_K, n_planes=ANN_LSH_PLANES, dim=EMB_DIM
    )


def _oracle_ann_topk_lsh() -> str:
    from .operators.similarity import lsh_bucket_sql

    bucket = lsh_bucket_sql("embedding", ANN_LSH_PLANES, EMB_DIM)
    cos = cosine_similarity_sql("b.embedding", "q.qv")
    probes = " or ".join(
        ["b.bucket = q.qbucket"]
        + [
            f"b.bucket = xor(q.qbucket, {1 << p})"
            for p in range(ANN_LSH_PLANES)
        ]
    )
    return f"""
with b as (select vec_id, embedding, {bucket} bucket from embeddings),
q as (select embedding qv, bucket qbucket from b
      where vec_id = {ANN_QUERY_ID})
select b.vec_id::bigint vec_id, round({cos}, 6) cos
from b, q
where b.vec_id != {ANN_QUERY_ID} and ({probes})
order by cos desc, vec_id
limit {ANN_K}
"""


IVF_CENTROIDS = 16
IVF_NPROBE = 4


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: seed-codebook coarse quantization, nprobe-cell
    probe, exact rerank — the partition-prunable scale path."""
    from .operators.similarity import ann_topk_ivf

    return ann_topk_ivf(
        load_table(spark, sf_dir, "embeddings"),
        ANN_QUERY_ID,
        ANN_K,
        n_centroids=IVF_CENTROIDS,
        nprobe=IVF_NPROBE,
    )


def _oracle_ann_topk_ivf() -> str:
    from .functions.vectors import l2sq_sql

    d_ec = l2sq_sql("e.embedding", "c.cvec")
    d_qc = l2sq_sql("q.qv", "c.cvec")
    cos = cosine_similarity_sql("a.embedding", "q.qv")
    return f"""
with cents as (select vec_id cid, embedding cvec from embeddings
               where vec_id < {IVF_CENTROIDS}),
assigned as (
  select vec_id, embedding, cid from (
    select e.vec_id, e.embedding, c.cid,
      row_number() over (partition by e.vec_id order by {d_ec}, c.cid) rn
    from embeddings e cross join cents c) t
  where rn = 1),
q as (select embedding qv from embeddings where vec_id = {ANN_QUERY_ID}),
qprobe as (
  select c.cid from cents c cross join q
  order by {d_qc}, c.cid limit {IVF_NPROBE})
select a.vec_id::bigint vec_id, round({cos}, 6) cos
from assigned a, q
where a.vec_id != {ANN_QUERY_ID} and a.cid in (select cid from qprobe)
order by cos desc, vec_id
limit {ANN_K}
"""


def _stored_index_path(sf_dir: str, kind: str, params: str) -> str:
    """Cache path for a stored ANN layout: keyed by sf, layout params,
    AND the source table's newest mtime — regenerated testdata or
    changed constants get a fresh key instead of silently probing a
    stale layout (orphaned old keys just age out of the temp dir)."""
    import os
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        stamps = [os.path.getmtime(src)]
        if os.path.isdir(src):
            stamps += [
                os.path.getmtime(os.path.join(src, f))
                for f in os.listdir(src)
            ]
        stamp = str(int(max(stamps)))
    except OSError:
        stamp = "0"
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(), f"gr_spark_{kind}_{tag}_{params}_{stamp}"
    )
    _age_out_stale_indexes(f"gr_spark_{kind}_{tag}_", os.path.basename(path))
    return path


def _age_out_stale_indexes(
    prefix: str, keep_basename: str, grace_sec: int = 3600
) -> None:
    """Best-effort removal of SUPERSEDED stored-index cache dirs (same
    kind+sf, different params/stamp) so rotated keys don't accumulate
    in /tmp across rounds. Mark-then-sweep: the first observer of a
    superseded dir stamps ``.superseded`` inside it and deletes only
    once the STAMP is older than the grace period — the clock starts at
    key rotation, not at build time, so a long-lived reader of a
    just-rotated layout gets the full grace window (a dir's own mtime
    says when it was BUILT, which is unrelated). In-flight
    ``.building.<pid>`` siblings are skipped while their builder pid is
    alive (builds may legitimately run longer than the grace period);
    orphans from crashed builders are swept once old."""
    import shutil
    import tempfile
    import time as _time

    tmp = tempfile.gettempdir()
    try:
        entries = os.listdir(tmp)
    except OSError:
        return
    now = _time.time()
    for name in entries:
        if not name.startswith(prefix) or name == keep_basename:
            # The CURRENT key defuses any stamp it carries: a key can
            # rotate back (mtime-preserving restores resurrect old
            # stamps) or be another live process's current layout
            # (different params, same kind — each process marks the
            # other's). Clearing on every probe means an actively-used
            # dir always re-enters the sweep with a FRESH grace window.
            if name == keep_basename:
                try:
                    os.unlink(os.path.join(tmp, name, ".superseded"))
                except OSError:
                    pass
            continue
        full = os.path.join(tmp, name)
        try:
            if ".building." in name:
                pid = name.rsplit(".", 1)[-1]
                if pid.isdigit() and os.path.exists(f"/proc/{pid}"):
                    continue
                if now - os.path.getmtime(full) > grace_sec:
                    shutil.rmtree(full, ignore_errors=True)
                continue
            stamp = os.path.join(full, ".superseded")
            if not os.path.exists(stamp):
                with open(stamp, "w"):
                    pass
            elif now - os.path.getmtime(stamp) > grace_sec:
                # Active-reader guard: every load touches .inuse
                # (_build_index_once), so a CONCURRENT process whose
                # current layout this is — different params, hence
                # "superseded" from this process's viewpoint — keeps
                # its directory alive by reading it, not only by
                # happening to re-probe _stored_index_path within the
                # window. The sweep keys off reads, per round-4 ADVICE.
                inuse = os.path.join(full, ".inuse")
                try:
                    if now - os.path.getmtime(inuse) <= grace_sec:
                        continue
                except OSError:
                    pass  # no .inuse ever written -> stamp age decides
                shutil.rmtree(full, ignore_errors=True)
        except OSError:
            continue


def _build_index_once(path: str, build) -> str:
    """Atomic build-once: build into a pid-suffixed sibling, rename into
    place (atomic within one filesystem). Concurrent builders race on
    the rename; losers clean up their copy. A reader that sees _SUCCESS
    always reads a fully-renamed layout — mode('overwrite') never
    deletes a directory another process is mid-reading."""
    import os
    import shutil

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.building.{os.getpid()}"
        build(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    try:
        # .inuse = active-reader marker for _age_out_stale_indexes:
        # every load (cache hit or fresh build) refreshes it, so other
        # processes' sweeps spare this layout while it is actually read
        with open(os.path.join(path, ".inuse"), "w"):
            pass
    except OSError:
        pass
    return path


def q_ann_topk_lsh_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH probe over the STORED layout (bucket materialized at ingest
    as a parquet partition column by write_lsh_index): identical result
    set to ann_topk_lsh — same hyperplanes, fold, multiprobe set, and
    rerank, hence the same oracle — but the probe prunes partitions
    (PartitionFilters plan-asserted in tests/test_bucketing.py)."""
    from .operators.similarity import ann_topk_lsh_stored, write_lsh_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = _build_index_once(
        _stored_index_path(sf_dir, "lsh", f"{ANN_LSH_PLANES}x{EMB_DIM}"),
        lambda p: write_lsh_index(emb, p, ANN_LSH_PLANES, EMB_DIM),
    )
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == ANN_QUERY_ID)
        .select("embedding")
        .collect()[0]["embedding"]
    ]
    return ann_topk_lsh_stored(
        spark, path, qvec, ANN_QUERY_ID, ANN_K, ANN_LSH_PLANES, EMB_DIM
    )


def q_ann_topk_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over the STORED layout (cell id materialized at ingest
    as a parquet partition column by write_ivf_index): identical result
    set to ann_topk_ivf — same codebook, tie-break, and rerank
    arithmetic, hence the same oracle — but the nprobe filter prunes
    partitions instead of scanned rows (PartitionFilters plan-asserted
    in tests/test_bucketing.py). The layout is built once per (sf,
    params, source-mtime) under the system temp dir; the probe itself
    never touches the source. Codebook + query vector come from ONE
    driver action (the in-plan fetch shape), reused for the build."""
    from .operators.similarity import ann_topk_ivf_stored, write_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    small = (
        emb.filter(
            (F.col("vec_id") < IVF_CENTROIDS)
            | (F.col("vec_id") == ANN_QUERY_ID)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    cents = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in small
        if int(r["vec_id"]) < IVF_CENTROIDS
    )
    qvec = next(
        [float(x) for x in r["embedding"]]
        for r in small
        if int(r["vec_id"]) == ANN_QUERY_ID
    )
    path = _build_index_once(
        _stored_index_path(sf_dir, "ivf", f"k{IVF_CENTROIDS}"),
        lambda p: write_ivf_index(emb, p, IVF_CENTROIDS, cents=cents),
    )
    return ann_topk_ivf_stored(
        spark, path, cents, qvec, ANN_QUERY_ID, ANN_K, IVF_NPROBE
    )


# --------------------------------------------------------------------------
# ANN quality: batched exact top-k, trained codebook, recall tables
# --------------------------------------------------------------------------

ANN_BATCH_QIDS = tuple(range(5, 165, 10))  # 16 queries, exist at every sf
ANN_BATCH_K = 5
ANN_RECALL_QIDS = tuple(range(3, 448, 7))  # 64-query panel (< 500 = min sf)
ANN_RECALL_K = 10
IVF_TRAIN_ITERS = 2
IVF_NPROBES = (1, 2, 4, 8)
PLANT_EPS = 0.02
PLANT_OFFSET = 100000
# clustered-recall corpus (mixture of 16 well-separated clusters,
# generated in-engine — see ann_eval.clustered_embeddings): the corpus
# where an index can demonstrate VALUE (recall >> scan fraction),
# which the near-isotropic driver embeddings cannot show
CLUSTER_N = 2048
CLUSTER_K = 16
CLUSTER_SPREAD = 0.3
ANN_RECALL_CLUSTERED_QIDS = tuple(range(3, CLUSTER_N, 32))  # 64 queries
PLANT_T = 0.9


def q_ann_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k for a 16-query panel in ONE plan — the production
    many-queries ANN shape (broadcast panel, one scored pass, per-query
    WindowGroupLimit top-k)."""
    from .operators.ann_eval import ann_topk_batch

    return ann_topk_batch(
        load_table(spark, sf_dir, "embeddings"), ANN_BATCH_QIDS, ANN_BATCH_K
    )


def _norm_ctes(src: str = "embeddings") -> str:
    """Shared oracle CTEs: the corpus with precomputed L2 norms (the
    sqrt of the same self-dot fold Spark computes per pair — same
    VALUE, reused for speed) and the rounded pairwise cosine follows
    Spark's division order dot/nrm_left/nrm_right exactly."""
    from .functions.vectors import dot_sql

    nrm = f"sqrt({dot_sql('embedding', 'embedding')})"
    return f"""
en as (select vec_id, embedding, {nrm} nrm from {src})
"""


def _cos_pair(a: str, b: str, anrm: str, bnrm: str) -> str:
    # nullif(norm, 0): Spark's side uses try_divide, which yields NULL
    # for a zero-norm vector. DuckDB 1.0 gives the same NULL for double
    # x/0, but 1.1+ defaults ieee_floating_point_ops=true (x/0 → inf/
    # nan), so the parity must not lean on the engine default — nullif
    # pins NULL-on-zero-norm in the SQL itself, version-independently,
    # and is the identical IEEE division for every nonzero norm.
    from .functions.vectors import dot_sql

    return (
        f"round({dot_sql(a, b)} / nullif({anrm}, 0.0) "
        f"/ nullif({bnrm}, 0.0), 6)"
    )


def _oracle_ann_topk_batch() -> str:
    qids = ", ".join(str(q) for q in ANN_BATCH_QIDS)
    cos = _cos_pair("c.embedding", "q.qv", "c.nrm", "q.qnrm")
    return f"""
with {_norm_ctes().strip()},
q as (select vec_id qid, embedding qv, nrm qnrm from en
      where vec_id in ({qids}))
select qid::bigint qid, vec_id::bigint vec_id, cos, rank from (
  select q.qid, c.vec_id, {cos} cos,
    row_number() over (partition by q.qid
                       order by {cos} desc, c.vec_id) rank
  from en c join q on c.vec_id != q.qid) t
where rank <= {ANN_BATCH_K}
"""


def _kmeans_ctes(
    n_centroids: int, iters: int, dim: int, src: str = "embeddings"
) -> tuple:
    """DuckDB CTE chain replicating ``train_codebook`` bit-for-bit
    (see ann_eval.train_codebook: assignment = argmin of the l2sq left
    fold with ties to the smaller cid; update = per-dimension
    sequential left fold in vec_id order divided by the cell count;
    empty cells keep the previous centroid). Returns (cte_list,
    final_cents_name, seed_assigned_name) — the seed assignment is
    ``assigned0`` (under the seed codebook cents0)."""
    from .functions.vectors import l2sq_sql

    parts = [
        f"cents0 as (select vec_id cid, embedding::double[] cvec "
        f"from {src} where vec_id < {n_centroids})"
    ]
    for i in range(iters):
        d = l2sq_sql("e.embedding", "c.cvec")
        parts.append(
            f"""assigned{i} as (
  select vec_id, embedding, cid from (
    select e.vec_id, e.embedding, c.cid,
      row_number() over (partition by e.vec_id order by {d}, c.cid) rn
    from {src} e cross join cents{i} c
    where len(e.embedding) = {dim}) t
  where rn = 1)"""
        )
        parts.append(
            f"""upd{i} as (
  select cid, list(av order by d) cvec from (
    select a.cid, dd.d,
      list_reduce(list_prepend(0.0::double,
        list(a.embedding[dd.d]::double order by a.vec_id)),
        (acc, x) -> acc + x) / count(*) av
    from assigned{i} a
    cross join (select unnest(range(1, {dim + 1}))::int d) dd
    group by a.cid, dd.d) t
  group by cid)"""
        )
        parts.append(
            f"""cents{i + 1} as (
  select c.cid, coalesce(u.cvec, c.cvec) cvec
  from cents{i} c left join upd{i} u using (cid))"""
        )
    return parts, f"cents{iters}", "assigned0"


def q_ann_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe with a Lloyd's-trained codebook (2 DataFrame-ops
    k-means iterations, deterministic and oracle-unrolled) — same plan
    shape as ann_topk_ivf, better recall at equal nprobe."""
    from .operators.ann_eval import ann_topk_ivf_trained

    return ann_topk_ivf_trained(
        load_table(spark, sf_dir, "embeddings"),
        ANN_QUERY_ID,
        ANN_K,
        n_centroids=IVF_CENTROIDS,
        nprobe=IVF_NPROBE,
        iters=IVF_TRAIN_ITERS,
    )


def _oracle_ann_topk_ivf_trained() -> str:
    from .functions.vectors import l2sq_sql

    ctes, cents, _ = _kmeans_ctes(IVF_CENTROIDS, IVF_TRAIN_ITERS, EMB_DIM)
    d_ec = l2sq_sql("e.embedding", "c.cvec")
    d_qc = l2sq_sql("q.qv", "c.cvec")
    cos = cosine_similarity_sql("a.embedding", "q.qv")
    joined = ",\n".join(ctes)
    return f"""
with {joined},
assigned_t as (
  select vec_id, embedding, cid from (
    select e.vec_id, e.embedding, c.cid,
      row_number() over (partition by e.vec_id order by {d_ec}, c.cid) rn
    from embeddings e cross join {cents} c
    where len(e.embedding) = {EMB_DIM}) t
  where rn = 1),
q as (select embedding qv from embeddings where vec_id = {ANN_QUERY_ID}),
qprobe as (
  select c.cid from {cents} c cross join q
  order by {d_qc}, c.cid limit {IVF_NPROBE})
select a.vec_id::bigint vec_id, round({cos}, 6) cos
from assigned_t a, q
where a.vec_id != {ANN_QUERY_ID} and a.cid in (select cid from qprobe)
order by cos desc, vec_id
limit {ANN_K}
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 + scanned-corpus fraction of every approximate ANN
    variant (LSH single/multi-probe, IVF seed + trained codebooks at
    nprobe 1/2/4/8) against the exact top-k over a fixed 64-query
    panel — the quality table an index tuner reads. Every number is
    deterministic and hash-checked against the DuckDB oracle."""
    from .operators.ann_eval import ann_recall_table

    return ann_recall_table(
        load_table(spark, sf_dir, "embeddings"),
        ANN_RECALL_QIDS,
        k=ANN_RECALL_K,
        n_planes=ANN_LSH_PLANES,
        dim=EMB_DIM,
        n_centroids=IVF_CENTROIDS,
        nprobes=IVF_NPROBES,
        trained_iters=IVF_TRAIN_ITERS,
    )


def q_ann_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_recall over the deterministic CLUSTERED corpus (16
    well-separated clusters, generated in-engine — sf_dir unused by
    design: the population is the experiment's controlled variable).
    On this corpus the indexes demonstrate value: IVF recall@10 ~1.0
    at ~1/16 scan, vs recall ≈ scan-fraction on the isotropic driver
    embeddings (BENCH.md recall tables; floors in tests/test_recall)."""
    from .operators.ann_eval import ann_recall_table, clustered_embeddings

    return ann_recall_table(
        clustered_embeddings(
            spark, CLUSTER_N, CLUSTER_K, EMB_DIM, CLUSTER_SPREAD
        ),
        ANN_RECALL_CLUSTERED_QIDS,
        k=ANN_RECALL_K,
        n_planes=ANN_LSH_PLANES,
        dim=EMB_DIM,
        n_centroids=IVF_CENTROIDS,
        nprobes=IVF_NPROBES,
        trained_iters=IVF_TRAIN_ITERS,
    )


def _oracle_ann_recall(
    corpus_cte: str | None = None, qid_list=None
) -> str:
    """ann_recall oracle; ``corpus_cte`` (a SELECT producing (vec_id,
    embedding)) swaps the evaluation corpus — used by the clustered
    variant, whose corpus is generated in-engine rather than read."""
    from .functions.vectors import l2sq_sql
    from .operators.similarity import lsh_bucket_sql

    k = ANN_RECALL_K
    src = "embeddings" if corpus_cte is None else "emb0"
    qid_list = ANN_RECALL_QIDS if qid_list is None else qid_list
    nq = len(qid_list)
    qids = ", ".join(str(q) for q in qid_list)
    bucket = lsh_bucket_sql("embedding", ANN_LSH_PLANES, EMB_DIM)
    cos_cq = _cos_pair("c.embedding", "p.qv", "c.nrm", "p.qnrm")
    cos_eq = _cos_pair("c.embedding", "q.qv", "c.nrm", "q.qnrm")
    d_qc = l2sq_sql("q.qv", "c.cvec")
    d_ec = l2sq_sql("e.embedding", "c.cvec")
    km_ctes, cents_tr, assigned_seed = _kmeans_ctes(
        IVF_CENTROIDS, IVF_TRAIN_ITERS, EMB_DIM, src=src
    )
    multi_probes = "\n  union all\n".join(
        f"  select qid, qv, qnrm, xor(qbucket, {1 << p}) pbucket, 1 prank "
        "from qb"
        for p in range(ANN_LSH_PLANES)
    )

    def topk_cte(name, cand_sql):
        return f"""{name} as (
  select qid, vec_id from (
    select qid, vec_id,
      row_number() over (partition by qid order by cos desc, vec_id) rk
    from ({cand_sql}) c0) t
  where rk <= {k})"""

    variants = []  # (variant_name, candidate_filter_sql_on_base)
    summaries = []

    def add_variant(name, cand_from):
        variants.append(topk_cte(f"tk_{name}", cand_from))
        summaries.append(
            f"""select '{name}' variant,
  (select count(*) from ({cand_from}) cc) sum_candidates,
  (select count(*) from tk_{name} v join exact x
     on v.qid = x.qid and v.vec_id = x.vec_id) sum_hits"""
        )

    add_variant("lsh_single", "select * from lshc where prank = 0")
    add_variant("lsh_multi", "select * from lshc")
    for np_ in IVF_NPROBES:
        add_variant(
            f"ivf_seed_np{np_}", f"select * from ivfc_seed where cr <= {np_}"
        )
        add_variant(
            f"ivf_trained_np{np_}", f"select * from ivfc_tr where cr <= {np_}"
        )

    km = ",\n".join(km_ctes)
    variant_ctes = ",\n".join(variants)
    summary_union = "\nunion all\n".join(summaries)
    head = "" if corpus_cte is None else f"emb0 as ({corpus_cte.strip()}),\n"
    return f"""
with {head}{_norm_ctes(src).strip()},
q as (select vec_id qid, embedding qv, nrm qnrm from en
      where vec_id in ({qids})),
exact as (
  select qid, vec_id from (
    select q.qid, c.vec_id,
      row_number() over (partition by q.qid
                         order by {cos_eq} desc, c.vec_id) rk
    from en c join q on c.vec_id != q.qid) t
  where rk <= {k}),
bk as (select vec_id, embedding, nrm, {bucket} bucket from en),
qb as (select q.qid, q.qv, q.qnrm, b.bucket qbucket
       from q join bk b on b.vec_id = q.qid),
lshp as (
  select qid, qv, qnrm, qbucket pbucket, 0 prank from qb
  union all
{multi_probes}),
lshc as (
  select p.qid, c.vec_id, {cos_cq} cos, p.prank
  from bk c join lshp p on c.bucket = p.pbucket and c.vec_id != p.qid),
{km},
assigned_tr as (
  select vec_id, embedding, cid from (
    select e.vec_id, e.embedding, c.cid,
      row_number() over (partition by e.vec_id order by {d_ec}, c.cid) rn
    from {src} e cross join {cents_tr} c
    where len(e.embedding) = {EMB_DIM}) t
  where rn = 1),
qr_seed as (
  select q.qid, q.qv, q.qnrm, c.cid,
    row_number() over (partition by q.qid order by {d_qc}, c.cid) cr
  from q cross join cents0 c),
qr_tr as (
  select q.qid, q.qv, q.qnrm, c.cid,
    row_number() over (partition by q.qid order by {d_qc}, c.cid) cr
  from q cross join {cents_tr} c),
ivfc_seed as (
  select p.qid, c.vec_id, {cos_cq} cos, p.cr
  from (select a.vec_id, a.cid, en.embedding, en.nrm
        from {assigned_seed} a join en on a.vec_id = en.vec_id) c
  join qr_seed p on c.cid = p.cid and c.vec_id != p.qid),
ivfc_tr as (
  select p.qid, c.vec_id, {cos_cq} cos, p.cr
  from (select a.vec_id, a.cid, en.embedding, en.nrm
        from assigned_tr a join en on a.vec_id = en.vec_id) c
  join qr_tr p on c.cid = p.cid and c.vec_id != p.qid),
{variant_ctes},
summary as (
{summary_union})
select variant, {nq}::bigint n_queries, {k}::bigint k,
  sum_candidates::bigint sum_candidates, sum_hits::bigint sum_hits,
  sum_hits / {float(nq * k)!r} recall_at_k,
  sum_candidates
    / (({nq} * ((select count(*) from {src}) - 1))::double)
    candidate_frac
from summary
"""


def _oracle_ann_recall_clustered() -> str:
    from .operators.ann_eval import clustered_sql

    return _oracle_ann_recall(
        corpus_cte=clustered_sql(
            CLUSTER_N, CLUSTER_K, EMB_DIM, CLUSTER_SPREAD
        ),
        qid_list=ANN_RECALL_CLUSTERED_QIDS,
    )


def q_embedding_pair_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-recall of the LSH near-dup join vs the exact all-pairs
    block at the corpus threshold — the honest isotropic-data number
    (most 0.3-cosine pairs do NOT share a 6-plane bucket; see the
    planted twin query for recall on TRUE near-duplicates)."""
    from .operators.ann_eval import embedding_pair_recall

    return embedding_pair_recall(
        load_table(spark, sf_dir, "embeddings"),
        EMB_NEAR_T,
        n_planes=EMB_LSH_PLANES,
        dim=EMB_DIM,
    )


def _pair_recall_sql(corpus_sql: str, threshold, n_planes: int) -> str:
    """Shared pair-recall oracle: exact all-pairs vs bucket-join pairs
    over an arbitrary corpus CTE body, norms precomputed."""
    from .functions.vectors import dot_sql
    from .operators.similarity import lsh_bucket_sql

    nrm = f"sqrt({dot_sql('embedding', 'embedding')})"
    bucket = lsh_bucket_sql("embedding", n_planes, EMB_DIM)
    cos = _cos_pair("a.embedding", "b.embedding", "a.nrm", "b.nrm")
    return f"""
with corpus as ({corpus_sql}),
en as (select vec_id, embedding, {nrm} nrm, {bucket} bucket from corpus),
exact as (
  select a.vec_id va, b.vec_id vb
  from en a join en b on a.vec_id < b.vec_id
  where {cos} >= {threshold}),
lsh as (
  select a.vec_id va, b.vec_id vb
  from en a join en b on a.bucket = b.bucket and a.vec_id < b.vec_id
  where {cos} >= {threshold})
select
  (select count(*) from exact)::bigint n_exact,
  (select count(*) from lsh)::bigint n_lsh,
  (select count(*) from lsh join exact using (va, vb))::bigint n_common,
  (select count(*) from lsh join exact using (va, vb))
    / (greatest((select count(*) from exact), 1)::double) pair_recall
"""


def _oracle_embedding_pair_recall() -> str:
    return _pair_recall_sql(
        "select vec_id, embedding from embeddings",
        EMB_NEAR_T,
        EMB_LSH_PLANES,
    )


def q_embedding_pair_recall_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pair-recall on PLANTED near-duplicates: every vector gets one
    deterministic jittered twin (cos ≈ 0.995, in-engine md5 noise the
    oracle reproduces exactly), and the LSH join must find the twin
    pairs at threshold 0.9 — the quality number that matters for dedup
    (sign-LSH collision probability (1 - θ/π)^planes ≈ 0.84 here)."""
    from .operators.ann_eval import embedding_pair_recall, jittered_embeddings

    corpus = jittered_embeddings(
        load_table(spark, sf_dir, "embeddings"), PLANT_EPS, PLANT_OFFSET
    )
    return embedding_pair_recall(
        corpus, PLANT_T, n_planes=EMB_LSH_PLANES, dim=EMB_DIM
    )


def _oracle_embedding_pair_recall_planted() -> str:
    from .operators.ann_eval import jitter_sql

    return _pair_recall_sql(
        jitter_sql(PLANT_EPS, PLANT_OFFSET, EMB_DIM).strip(),
        PLANT_T,
        EMB_LSH_PLANES,
    )


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path embedding near-dup (bucketed LSH join); bucket ids are
    deterministic, so the oracle mirrors the bucket equi-join exactly."""
    from .operators.dedup import embedding_near_dups_lsh

    return embedding_near_dups_lsh(
        load_table(spark, sf_dir, "embeddings"),
        EMB_NEAR_T,
        n_planes=EMB_LSH_PLANES,
        dim=EMB_DIM,
    )


def _oracle_dedup_embedding_lsh() -> str:
    from .operators.similarity import lsh_bucket_sql

    bucket = lsh_bucket_sql("embedding", EMB_LSH_PLANES, EMB_DIM)
    cos = cosine_similarity_sql("a.embedding", "b.embedding")
    return f"""
with bk as (select vec_id, embedding, {bucket} bucket from embeddings)
select a.vec_id::bigint vec_a, b.vec_id::bigint vec_b,
  round({cos}, 6) cos
from bk a join bk b on a.bucket = b.bucket and a.vec_id < b.vec_id
where round({cos}, 6) >= {EMB_NEAR_T}
"""


# adversarial rows for the hardened variant: a NULL vector, a ragged
# (wrong-dimension) vector, and an all-zero (zero-norm) vector — every
# class the Arrow/Catalyst vector hardening must survive AND exclude
_BAD_VEC_ROWS_SPARK = """
select cast(900001 as bigint) vec_id, cast(null as array<float>) embedding
union all
select cast(900002 as bigint), array(cast(0.25 as float), cast(-0.5 as float))
union all
select cast(900003 as bigint),
  transform(sequence(1, {dim}), i -> cast(0.0 as float))
"""
_BAD_VEC_ROWS_SQL = """
select 900001::bigint vec_id, cast(null as float[]) embedding
union all
select 900002::bigint, [0.25::float, -0.5::float]
union all
select 900003::bigint,
  list_transform(range(1, {dim} + 1), i -> 0.0::float)
"""


def q_dedup_embedding_lsh_hardened(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_embedding_lsh over a corpus POISONED with the malformed
    rows a 100 TB ingest inevitably contains — a NULL embedding, a
    ragged (wrong-dim) vector, a zero-norm vector. The NULL-hardening
    paths (functions/vectors.py: masked Arrow folds, try_divide,
    bucket-0/cell-(-1) sentinels) must route all three OUT of the
    result (NULL cosine never clears `>= t`), so the output equals the
    clean corpus's pairs — verified by the oracle unioning the SAME
    poison rows. Round-4 hardening was pytest-only; this puts it under
    the driver's value gate (round-4 VERDICT task 8)."""
    from .operators.dedup import embedding_near_dups_lsh

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    poisoned = emb.unionByName(
        spark.sql(_BAD_VEC_ROWS_SPARK.format(dim=EMB_DIM))
    )
    return embedding_near_dups_lsh(
        poisoned, EMB_NEAR_T, n_planes=EMB_LSH_PLANES, dim=EMB_DIM
    )


def _oracle_dedup_embedding_lsh_hardened() -> str:
    from .operators.similarity import lsh_bucket_sql

    bucket = lsh_bucket_sql("embedding", EMB_LSH_PLANES, EMB_DIM)
    cos = cosine_similarity_sql("a.embedding", "b.embedding")
    bad = _BAD_VEC_ROWS_SQL.format(dim=EMB_DIM)
    return f"""
with poisoned as (
  select vec_id, embedding from embeddings
  union all
  {bad}
),
bk as (select vec_id, embedding, {bucket} bucket from poisoned
       where embedding is not null and len(embedding) = {EMB_DIM})
select a.vec_id::bigint vec_a, b.vec_id::bigint vec_b,
  round({cos}, 6) cos
from bk a join bk b on a.bucket = b.bucket and a.vec_id < b.vec_id
where round({cos}, 6) >= {EMB_NEAR_T}
"""


def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Showcase composition: the full training-data pipeline in one plan.

    corpus → extraction → article text (native concat of output spans) →
    quality profile + language ID (row-wise codegen over the persisted
    text) → exact-dedup keeper flag joined back via broadcast. text_df
    is persisted: without it every consumer would re-run the extraction
    UDF from scratch."""
    from .operators.textops import language_id, text_profile

    ext = extract_documents(corpus_df(spark, CORPUS_DOCS))
    articles = ext.filter(F.size("spans_out") > 0)
    text_df = articles.select(
        "doc_id",
        F.expr(
            "concat_ws(' ', transform(filter(spans_out, s -> s.kind = 'text'),"
            " s -> s.text))"
        ).alias("text"),
    ).persist()
    # eager materialization (house rule, see plans/cache.py): three
    # consumers reference text_df, one of them through a broadcast —
    # lazily-persisted plans race when consumed concurrently and each
    # side recomputes the extraction UDF from scratch
    text_df.count()
    profile = text_profile(text_df).select("doc_id", "n_tokens", "quality")
    lang = language_id(text_df).select("doc_id", "lang_pred")
    keepers = dedup_exact(text_df).select(
        F.col("keeper_id").alias("doc_id"), F.lit(True).alias("is_keeper")
    )
    return (
        profile.join(lang, "doc_id")
        .join(F.broadcast(keepers), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "quality",
            "lang_pred",
            F.coalesce("is_keeper", F.lit(False)).alias("is_keeper"),
        )
    )


def q_render_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLI-sink parity: clean-HTML / Markdown / text / metadata-JSON
    renderings of each extracted article (cmd/readability main.go:52-79)."""
    out = extract_documents(corpus_df(spark, CORPUS_DOCS), render=True)
    return out.select(
        "doc_id",
        F.length("html").alias("html_len"),
        F.length("markdown").alias("markdown_len"),
        F.length("text").alias("text_len"),
        F.md5(F.coalesce(F.col("markdown"), F.lit(""))).alias("markdown_md5"),
        "metadata_json",
        "error",
    )


# --------------------------------------------------------------------------
# span-plumbing queries (SQL-expressible — full oracles)
# --------------------------------------------------------------------------

def q_span_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reassembly invariant: scrambled spans sorted by offset rebuild the
    document exactly. Native Catalyst end to end."""
    docs = documents_as_spans_df(spark, sf_dir, CHUNK, MEDIA_EVERY)
    scrambled = docs.select(
        "doc_id", F.reverse(F.col("spans")).alias("spans")
    )
    sorted_spans = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    reassembled = F.concat_ws(
        "",
        F.transform(
            sorted_spans,
            lambda s: F.when(s["kind"] == "media", F.lit("")).otherwise(
                s["text"]
            ),
        ),
    )
    return scrambled.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.length(reassembled).alias("reassembled_len"),
        F.md5(reassembled).alias("reassembled_md5"),
    )


ORACLE_SPAN_REASSEMBLY = (
    _spans_cte()
    + f"""
select doc_id, len(spans)::int n_spans,
  length(html)::int reassembled_len,
  md5(html) reassembled_md5
from spans
"""
)


def q_doc_bytes_prepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native skew pre-pass: doc_bytes + size bucket, no Python."""
    from .plans.skew import with_size_bucket

    docs = documents_as_spans_df(spark, sf_dir, CHUNK, MEDIA_EVERY)
    return with_size_bucket(docs).select(
        "doc_id", F.size("spans").alias("n_spans"), "doc_bytes", "size_bucket"
    )


ORACLE_DOC_BYTES = (
    _spans_cte()
    + """
select doc_id, len(spans)::int n_spans,
  (strlen(html) + case when has_media
     then strlen('figure for doc ' || doc_id)
        + strlen('media://doc/' || doc_id) else 0 end)::bigint doc_bytes,
  (case when strlen(html) + (case when has_media
     then strlen('figure for doc ' || doc_id)
        + strlen('media://doc/' || doc_id) else 0 end) < 65536 then 0
        when strlen(html) + (case when has_media
     then strlen('figure for doc ' || doc_id)
        + strlen('media://doc/' || doc_id) else 0 end) < 1048576 then 1
        else 2 end)::int size_bucket
from spans
"""
)


def q_media_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents_as_spans_df(spark, sf_dir, CHUNK, MEDIA_EVERY)
    return media_inventory(docs).select(
        "doc_id", "media_ref", "alt_text", "media_type"
    )


ORACLE_MEDIA_INVENTORY = f"""
select doc_id::varchar doc_id,
  'media://doc/' || doc_id::varchar media_ref,
  'figure for doc ' || doc_id::varchar alt_text,
  'doc' media_type
from documents where doc_id % {MEDIA_EVERY} = 0
"""


# --------------------------------------------------------------------------
# dedup queries
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(load_table(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = f"""
select {norm_fingerprint_sql('text')} text_hash,
  min(doc_id)::bigint keeper_id, count(*)::bigint n_copies
from documents group by 1
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        NGRAM_N,
        JACCARD_T,
        max_df=JACCARD_MAX_DF,
    )


ORACLE_NGRAM_JACCARD = f"""
with toks as (select doc_id, {tokens_sql('text')} t from documents),
sh as (select doc_id, {shingles_sql('t', NGRAM_N)} sh from toks),
ex0 as (select doc_id, unnest(sh) shingle from sh),
kept as (select shingle from ex0 group by shingle
         having count(*) <= {JACCARD_MAX_DF}),
ex as (select ex0.* from ex0 join kept using (shingle)),
sizes as (select doc_id, count(*) n_sh from ex group by doc_id),
inter as (
  select a.doc_id doc_a, b.doc_id doc_b, count(*) n_inter
  from ex a join ex b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2)
select doc_a::bigint doc_a, doc_b::bigint doc_b,
  round(n_inter::double / (sa.n_sh + sb.n_sh - n_inter), 6) jaccard
from inter
join sizes sa on sa.doc_id = inter.doc_a
join sizes sb on sb.doc_id = inter.doc_b
where round(n_inter::double / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_T}
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_candidates(
        load_table(spark, sf_dir, "documents"),
        NGRAM_N,
        MINHASH_K,
        MINHASH_BANDS,
    )


def _oracle_minhash() -> str:
    rows_per_band = MINHASH_K // MINHASH_BANDS
    bucket_selects = "\n  union all ".join(
        f"select doc_id, {band} band, {band_hash_sql('sig', band, rows_per_band)} bh from sig"
        for band in range(MINHASH_BANDS)
    )
    return f"""
with toks as (select doc_id, {tokens_sql('text')} t from documents),
sh as (select doc_id, {shingles_sql('t', NGRAM_N)} sh from toks),
sig as (select doc_id, {minhash_signature_sql('sh', MINHASH_K)} sig
        from sh where len(sh) > 0),
buckets as (
  {bucket_selects}
)
select a.doc_id::bigint doc_a, b.doc_id::bigint doc_b,
  count(*)::bigint n_bands_hit
from buckets a join buckets b
  on a.band = b.band and a.bh = b.bh and a.doc_id < b.doc_id
group by 1, 2
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(
        load_table(spark, sf_dir, "documents"), SIMHASH_BITS
    )


def _oracle_simhash() -> str:
    h = md5_prefix_hash_sql("tok")
    bit_sums = ", ".join(
        f"sum(case when (h >> {i}) & 1 = 1 then 1 else -1 end)::bigint b{i}"
        for i in range(SIMHASH_BITS)
    )
    fingerprint = " + ".join(
        f"(case when b{i} > 0 then {1 << i} else 0 end)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
with toks as (select doc_id, unnest({tokens_sql('text')}) tok from documents),
hs as (select doc_id, {h} h from toks),
bits as (select doc_id, {bit_sums} from hs group by doc_id)
select doc_id::bigint doc_id, ({fingerprint})::bigint simhash from bits
"""


SIMHASH_MAX_HAMMING = 1


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hamming join: pairs within SIMHASH_MAX_HAMMING bits."""
    from .operators.dedup import simhash_near_dups

    return simhash_near_dups(
        load_table(spark, sf_dir, "documents"),
        SIMHASH_BITS,
        SIMHASH_MAX_HAMMING,
    )


def _oracle_simhash_pairs() -> str:
    # exact formulation over the same fingerprints: the chunk-banding is
    # only a candidate generator, so the oracle can verify the final
    # semantics (all pairs with hamming <= d) directly
    return f"""
with sims as (select * from ({_oracle_simhash()}) t)
select a.doc_id::bigint doc_a, b.doc_id::bigint doc_b,
  bit_count(xor(a.simhash, b.simhash))::int hamming
from sims a join sims b on a.doc_id < b.doc_id
where bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the MinHash+LSH
    candidate pairs (alternating large-star/small-star, O(log n) rounds
    — the one genuinely iterative algorithm in the registry; its oracle
    is a DuckDB recursive CTE computing the same min-reachable-id
    labels, so the iterative algorithm is value-verified)."""
    from .operators.dedup import dedup_components

    pairs = minhash_lsh_candidates(
        load_table(spark, sf_dir, "documents"),
        NGRAM_N,
        MINHASH_K,
        MINHASH_BANDS,
    )
    return dedup_components(pairs)


def _components_ctes(pairs_select: str) -> str:
    """The recursive min-label component CTEs shared by
    _oracle_dedup_components and _oracle_dedup_semantic (one
    propagation rule, two consumers — a drifted copy would silently
    desynchronize the two gates). ``pairs_select`` must yield edge
    columns (a, b). Label m propagates along an edge to any node with
    id > m; the component minimum is smaller than every other member
    id, so it reaches all of them; UNION dedup bounds the recursion.
    Exposes ``comp(node, comp_id)`` and ``sizes(comp_id, n_members)``
    to the caller's final select."""
    return f"""pairs as ({pairs_select}),
und as (select a, b from pairs union select b, a from pairs),
reach(node, m) as (
  select a, a from und union select b, b from und
  union
  select und.b, reach.m from reach join und on und.a = reach.node
  where reach.m < und.b),
comp as (select node, min(m) comp_id from reach group by node),
sizes as (select comp_id, count(*) n_members from comp group by comp_id)"""


def _oracle_dedup_components() -> str:
    seed = f"select doc_a a, doc_b b from ({_oracle_minhash()}) t"
    return f"""
with recursive {_components_ctes(seed)}
select comp.node::bigint doc_id, comp.comp_id::bigint component_id,
  sizes.n_members::bigint component_size
from comp join sizes using (comp_id)
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped end-to-end semantic dedup: the full decision
    table (one row per corpus vector) from composing the two scale
    operators — LSH-bucketed near-dup pairs (Σ bucket², never n²)
    into large-star/small-star connected components (O(log n) rounds).

    Output: (vec_id, cluster_id, cluster_size, keep) where cluster_id
    is the component minimum, singletons cluster with themselves, and
    keep marks the one representative per cluster — exactly the column
    a curation pipeline anti-joins against. The oracle re-derives the
    same labels with a recursive CTE over the same bucket equi-join,
    so the whole chain (bucketing → verify → clustering → keeper
    choice) is value-verified, not just its pieces."""
    from .operators.dedup import dedup_components, embedding_near_dups_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dups_lsh(
        emb, EMB_NEAR_T, n_planes=EMB_LSH_PLANES, dim=EMB_DIM
    )
    comps = dedup_components(pairs, a_col="vec_a", b_col="vec_b")
    # one row per CORPUS vector: unclustered vectors are their own
    # singleton cluster (left join against the id spine; comps only
    # holds vectors that appeared in some candidate pair)
    spine = emb.select(F.col("vec_id"))
    return (
        spine.join(
            comps.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left"
        )
        .select(
            "vec_id",
            F.coalesce(F.col("component_id"), F.col("vec_id")).alias(
                "cluster_id"
            ),
            F.coalesce(F.col("component_size"), F.lit(1))
            .cast("long")
            .alias("cluster_size"),
            (
                F.coalesce(F.col("component_id"), F.col("vec_id"))
                == F.col("vec_id")
            ).alias("keep"),
        )
    )


def _oracle_dedup_semantic() -> str:
    # the shared recursive min-label CTEs, seeded with the LSH pair
    # oracle, left-joined back onto the corpus spine
    seed = f"select vec_a a, vec_b b from ({_oracle_dedup_embedding_lsh()}) t"
    return f"""
with recursive {_components_ctes(seed)}
select e.vec_id::bigint vec_id,
  coalesce(comp.comp_id, e.vec_id)::bigint cluster_id,
  coalesce(sizes.n_members, 1)::bigint cluster_size,
  (coalesce(comp.comp_id, e.vec_id) = e.vec_id) keep
from embeddings e
left join comp on comp.node = e.vec_id
left join sizes on sizes.comp_id = comp.comp_id
"""


def q_dedup_semantic_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_semantic with the PLUGGABLE keeper policy exercised: the
    kept representative per cluster is the best-QUALITY member — passes
    all Gopher gates first (quality_filter's verdict), then the longest
    document, then the smallest id as the deterministic tiebreak. This
    is the actual SemDeDup curation decision (keep the best duplicate,
    not an arbitrary one); the min-id variant above is the policy's
    cheap default. Same LSH→components clusters; one extra broadcast-
    sized join against the quality table + a per-cluster window (one
    shuffle on cluster_id — clusters are near-dup groups, so partition
    skew is bounded by the biggest duplicate family)."""
    from pyspark.sql import Window

    from .operators.dedup import dedup_components, embedding_near_dups_lsh
    from .operators.textops import quality_filter

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    pairs = embedding_near_dups_lsh(
        emb, EMB_NEAR_T, n_planes=EMB_LSH_PLANES, dim=EMB_DIM
    )
    comps = dedup_components(pairs, a_col="vec_a", b_col="vec_b")
    # embeddings.vec_id aligns with documents.doc_id (TESTDATA.md);
    # missing quality rows rank LAST via the -1 sentinels (coalesced
    # identically in the DuckDB oracle, sidestepping the engines'
    # NULL-ordering defaults entirely)
    qual = quality_filter(docs).select(
        F.col("doc_id").alias("vec_id"),
        F.coalesce(F.col("keep").cast("int"), F.lit(-1)).alias("q_pass"),
        F.coalesce(F.col("n_words"), F.lit(-1)).alias("q_words"),
    )
    spine = emb.select(F.col("vec_id"))
    labeled = (
        spine.join(
            comps.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left"
        )
        .select(
            "vec_id",
            F.coalesce(F.col("component_id"), F.col("vec_id")).alias(
                "cluster_id"
            ),
            F.coalesce(F.col("component_size"), F.lit(1))
            .cast("long")
            .alias("cluster_size"),
        )
        .join(qual, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            "cluster_size",
            F.coalesce(F.col("q_pass"), F.lit(-1)).alias("q_pass"),
            F.coalesce(F.col("q_words"), F.lit(-1)).alias("q_words"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("q_pass").desc(), F.col("q_words").desc(), F.col("vec_id").asc()
    )
    return labeled.select(
        "vec_id",
        "cluster_id",
        "cluster_size",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def _oracle_dedup_semantic_keep_best() -> str:
    seed = f"select vec_a a, vec_b b from ({_oracle_dedup_embedding_lsh()}) t"
    qf = _oracle_quality_filter()
    return f"""
with recursive {_components_ctes(seed)},
qf as ({qf}),
labeled as (
  select e.vec_id::bigint vec_id,
    coalesce(comp.comp_id, e.vec_id)::bigint cluster_id,
    coalesce(sizes.n_members, 1)::bigint cluster_size,
    coalesce(cast(q.keep as int), -1) q_pass,
    coalesce(q.n_words, -1) q_words
  from embeddings e
  left join comp on comp.node = e.vec_id
  left join sizes on sizes.comp_id = comp.comp_id
  left join qf q on q.doc_id = e.vec_id)
select vec_id, cluster_id, cluster_size,
  (row_number() over (partition by cluster_id
     order by q_pass desc, q_words desc, vec_id) = 1) keep
from labeled
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dups(
        load_table(spark, sf_dir, "embeddings"), EMB_NEAR_T, EMB_BLOCK
    )


ORACLE_DEDUP_EMBEDDING = f"""
with e as (select vec_id, embedding from embeddings where vec_id < {EMB_BLOCK})
select a.vec_id::bigint vec_a, b.vec_id::bigint vec_b,
  round({cosine_similarity_sql('a.embedding', 'b.embedding')}, 6) cos
from e a join e b on a.vec_id < b.vec_id
where round({cosine_similarity_sql('a.embedding', 'b.embedding')}, 6) >= {EMB_NEAR_T}
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_topk_bruteforce(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_ID, ANN_K
    )


ORACLE_ANN_TOPK = f"""
with q as (select embedding qv from embeddings where vec_id = {ANN_QUERY_ID})
select vec_id::bigint vec_id,
  round({cosine_similarity_sql('embedding', 'qv')}, 6) cos
from embeddings, q
where vec_id != {ANN_QUERY_ID}
order by cos desc, vec_id
limit {ANN_K}
"""


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_profile(load_table(spark, sf_dir, "documents"))


def _oracle_text_profile() -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    toks = tokens_sql("text")
    return f"""
with base as (
  select doc_id,
    length(text)::int n_chars,
    ({ws_token_count_sql('text')})::int n_tokens,
    ({bpe_token_count_sql('text')})::int n_bpe_tokens,
    len(regexp_extract_all(text, '{PUNCT_RE}')) n_punct,
    len(list_filter({toks}, t -> t in ({stop_list}))) n_stop
  from documents),
ratios as (
  select doc_id, n_chars, n_tokens, n_bpe_tokens,
    n_punct / greatest(n_chars, 1) punct_raw,
    n_stop / greatest(n_tokens, 1) stop_raw
  from base)
select doc_id::bigint doc_id, n_chars, n_tokens, n_bpe_tokens,
  round(punct_raw, 6) punct_ratio,
  round(stop_raw, 6) stopword_ratio,
  round(0.4 * least(n_tokens / 100.0, 1.0)
      + 0.3 * (1.0 - least(punct_raw * 10, 1.0))
      + 0.3 * least(stop_raw * 5, 1.0), 6) quality
from ratios
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"))


def _oracle_lang_id() -> str:
    toks = tokens_sql("text")
    score_cols = ", ".join(
        "len(list_filter({t}, t -> t in ({ws}))) s_{lang}".format(
            t=toks, ws=", ".join(f"'{w}'" for w in words), lang=lang
        )
        for lang, words in LANG_MARKERS
    )
    langs = [lang for lang, _ in LANG_MARKERS]
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    cases = " ".join(
        f"when s_{lg} = {best} then '{lg}'" for lg in langs
    )
    return f"""
with scores as (select doc_id, {score_cols} from documents)
select doc_id::bigint doc_id,
  case when {best} = 0 then 'und' {cases} else 'und' end lang_pred,
  ({best})::int lang_hits
from scores
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality gates (Rae et al. 2021 A1.1)."""
    return quality_filter(load_table(spark, sf_dir, "documents"))


def _oracle_quality_filter() -> str:
    from .operators.textops import (
        GOPHER_MAX_DUP_LINE_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_WORD_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_WORDS,
    )

    toks = tokens_sql("text")
    return f"""
with t as (
  select doc_id,
    case when trim(coalesce(text, '')) = '' then 0
         else len({toks}) end n_words,
    list_reduce(list_prepend(0, list_transform({toks}, w -> length(w))),
                (a, x) -> a + x) total_wc,
    len(regexp_extract_all(coalesce(text, ''), '#')) n_hash,
    len(regexp_extract_all(coalesce(text, ''), '\\.\\.\\.')) n_ellipsis,
    len(list_filter({toks}, w -> regexp_matches(w, '[A-Za-z]'))) n_alpha,
    list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),
                               l -> trim(l)), l -> l != '') lines
  from documents),
m as (
  select doc_id, n_words,
    total_wc / greatest(n_words, 1)::double mean_wl,
    n_hash / greatest(n_words, 1)::double hash_ratio,
    n_ellipsis / greatest(n_words, 1)::double ellipsis_ratio,
    n_alpha / greatest(n_words, 1)::double alpha_frac,
    (len(lines) - len(list_distinct(lines)))
      / greatest(len(lines), 1)::double dup_frac
  from t)
select doc_id::bigint doc_id, n_words::int n_words,
  round(mean_wl, 6) mean_word_len,
  round(hash_ratio, 6) hash_ratio,
  round(ellipsis_ratio, 6) ellipsis_ratio,
  round(alpha_frac, 6) alpha_word_frac,
  round(dup_frac, 6) dup_line_frac,
  (n_words >= {GOPHER_MIN_WORDS} and n_words <= {GOPHER_MAX_WORDS}) pass_n_words,
  (mean_wl >= {GOPHER_MIN_MEAN_WORD_LEN} and mean_wl <= {GOPHER_MAX_MEAN_WORD_LEN}) pass_mean_word_len,
  (hash_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
   and ellipsis_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) pass_symbol_ratio,
  (alpha_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC}) pass_alpha_words,
  (dup_frac <= {GOPHER_MAX_DUP_LINE_FRAC}) pass_dup_lines,
  ((n_words >= {GOPHER_MIN_WORDS} and n_words <= {GOPHER_MAX_WORDS})
   and (mean_wl >= {GOPHER_MIN_MEAN_WORD_LEN} and mean_wl <= {GOPHER_MAX_MEAN_WORD_LEN})
   and (hash_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
        and ellipsis_ratio <= {GOPHER_MAX_SYMBOL_RATIO})
   and (alpha_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC})
   and (dup_frac <= {GOPHER_MAX_DUP_LINE_FRAC})) keep
from m
"""


BOILER_N = 8
BOILER_MIN_DF = 10


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate fraction (frequent n-gram passages)."""
    from .operators.dedup import boilerplate_fraction

    return boilerplate_fraction(
        load_table(spark, sf_dir, "documents"), BOILER_N, BOILER_MIN_DF
    )


def _oracle_boilerplate() -> str:
    toks = tokens_sql("text")
    sh = shingles_sql("t", BOILER_N)
    return f"""
with t as (select doc_id, {toks} t from documents),
sh as (select doc_id, {sh} sh from t),
ex as (select doc_id, unnest(sh) g from sh),
freq as (select g from ex group by g having count(*) >= {BOILER_MIN_DF}),
per_doc as (
  select ex.doc_id, count(*) n_grams,
    count(freq.g) n_boiler
  from ex left join freq on ex.g = freq.g
  group by ex.doc_id)
select d.doc_id::bigint doc_id,
  coalesce(p.n_grams, 0)::bigint n_grams,
  coalesce(p.n_boiler, 0)::bigint n_boiler,
  round(coalesce(p.n_boiler, 0) / greatest(coalesce(p.n_grams, 0), 1)::double, 6) boiler_frac
from documents d left join per_doc p on d.doc_id = p.doc_id
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(load_table(spark, sf_dir, "documents"))


ORACLE_FINGERPRINTS = f"""
select doc_id::bigint doc_id, {norm_fingerprint_sql('text')} norm_md5,
  {rolling_hash_sql('text')} rolling
from documents
"""


# --------------------------------------------------------------------------
# relational / events
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = events_hourly(load_table(spark, sf_dir, "events"))
    return out.select(
        "hour_ts",
        "event_type",
        "n_events",
        F.col("value_sum").cast("double").alias("value_sum"),
        "n_users",
        "k_sum",
    )


ORACLE_EVENTS_HOURLY = """
select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') hour_ts, event_type,
  count(*)::bigint n_events,
  cast(sum(cast(value as decimal(18,2))) as double) value_sum,
  count(distinct user_id)::bigint n_users,
  sum(json_extract_string(props, '$.k')::bigint)::bigint k_sum
from events group by 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


ORACLE_SESSIONIZE = """
with e as (
  select user_id, event_id, ts,
    -- epoch() keeps fractional seconds, mirroring Spark's
    -- cast(ts as double)
    case when epoch(ts) - epoch(lag(ts) over
      (partition by user_id order by ts, event_id)) > 1800
      then 1 else 0 end new_session
  from events),
s as (
  select user_id,
    sum(new_session) over (partition by user_id order by ts, event_id
      rows between unbounded preceding and current row) session_id
  from e),
per_session as (
  select user_id, session_id, count(*) session_events
  from s group by 1, 2)
select user_id::bigint user_id, count(*)::bigint n_sessions,
  sum(session_events)::bigint n_events,
  max(session_events)::bigint max_session_events
from per_session group by 1
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = pricing_summary(load_table(spark, sf_dir, "lineitem"))
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_base_price").cast("double").alias("sum_base_price"),
        F.col("sum_disc_price").cast("double").alias("sum_disc_price"),
        F.col("sum_charge").cast("double").alias("sum_charge"),
        "count_order",
    )


ORACLE_PRICING_SUMMARY = """
select l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity as decimal(18,2))) as double) sum_qty,
  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) sum_base_price,
  cast(sum(cast(cast(l_extendedprice as decimal(18,2))
        * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
        as decimal(28,4))) as double) sum_disc_price,
  cast(sum(cast(cast(l_extendedprice as decimal(18,2))
        * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
        * (cast(1 as decimal(18,2)) + cast(l_tax as decimal(18,2)))
        as decimal(38,6))) as double) sum_charge,
  count(*)::bigint count_order
from lineitem
where l_shipdate <= timestamp '2024-09-01 00:00:00'
group by l_returnflag, l_linestatus
"""


REGION_NAME = "ASIA"


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema broadcast-join rollup over the TPC-H dims.

    The sum is decimal-exact inside the aggregate; the OUTPUT surface is
    cast to double like every other money column in the registry
    (q_pricing_summary, q_events_hourly) — cross-engine decimal
    representations hash differently even when the values are identical."""
    out = revenue_by_nation(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        REGION_NAME,
    )
    return out.select(
        "n_name",
        "n_orders",
        F.col("revenue").cast("double").alias("revenue"),
    )


ORACLE_REVENUE_BY_NATION = f"""
select n.n_name,
  count(*)::bigint n_orders,
  cast(sum(cast(o.o_totalprice as decimal(18,2))) as double) revenue
from orders o
join customer c on o.o_custkey = c.c_custkey
join nation n on c.c_nationkey = n.n_nationkey
join region r on n.n_regionkey = r.r_regionkey
where r.r_name = '{REGION_NAME}'
group by n.n_name
"""


def q_resume_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resume_pending(load_table(spark, sf_dir, "orders"))


ORACLE_RESUME_ANTIJOIN = """
select o_orderkey::bigint o_orderkey, o_custkey::bigint o_custkey,
  o_orderstatus
from orders where o_orderkey % 7 >= 2
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, QueryFn] = {
    # extraction family (rows-only: the readability UDF has no SQL form)
    "extract_driver_docs": q_extract_driver_docs,
    "extract_corpus": q_extract_corpus,
    "extract_spans_flat": q_extract_spans_flat,
    "extract_metrics_rollup": q_extract_metrics_rollup,
    "media_features": q_media_features,
    "media_frames": q_media_frames,
    "ann_topk_lsh": q_ann_topk_lsh,
    "ann_topk_ivf": q_ann_topk_ivf,
    "ann_topk_lsh_stored": q_ann_topk_lsh_stored,
    "ann_topk_ivf_stored": q_ann_topk_ivf_stored,
    "ann_topk_batch": q_ann_topk_batch,
    "ann_topk_ivf_trained": q_ann_topk_ivf_trained,
    "ann_recall": q_ann_recall,
    "ann_recall_clustered": q_ann_recall_clustered,
    "embedding_pair_recall": q_embedding_pair_recall,
    "embedding_pair_recall_planted": q_embedding_pair_recall_planted,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "dedup_embedding_lsh_hardened": q_dedup_embedding_lsh_hardened,
    "pipeline_clean_corpus": q_pipeline_clean_corpus,
    "render_formats": q_render_formats,
    # oracle-checked
    "span_reassembly": q_span_reassembly,
    "doc_bytes_prepass": q_doc_bytes_prepass,
    "media_inventory": q_media_inventory,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_components": q_dedup_components,
    "dedup_semantic": q_dedup_semantic,
    "dedup_semantic_keep_best": q_dedup_semantic_keep_best,
    "dedup_embedding": q_dedup_embedding,
    "ann_topk": q_ann_topk,
    "text_profile": q_text_profile,
    "lang_id": q_lang_id,
    "quality_filter": q_quality_filter,
    "boilerplate": q_boilerplate,
    "fingerprints": q_fingerprints,
    "events_hourly": q_events_hourly,
    "sessionize": q_sessionize,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "resume_antijoin": q_resume_antijoin,
}

# ---------------------------------------------------------------------------
# Golden-parquet oracles (extraction family). The readability extraction
# has no SQL form; instead the exact output at the driver's correctness
# scale is pinned in committed parquet (tools/make_goldens.py) and the
# oracle is a scan of it — the driver's rows/schema/hash comparison then
# acts as a regression gate on the parser/scorer/span codec. These are
# regression pins, not independent ground truth (the independent anchor
# is the reference fixture-001 parity in tests/test_extract.py).
# extract_driver_docs reads the sf tables, so its golden is only valid
# at sf0.01 (the driver's correctness SF) — GOLDEN_SF_BOUND marks it.
# ---------------------------------------------------------------------------
_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "golden",
)
GOLDEN_ORACLE_QUERIES = (
    "extract_driver_docs",
    "extract_corpus",
    "extract_spans_flat",
    "extract_metrics_rollup",
    "pipeline_clean_corpus",
    "render_formats",
)
GOLDEN_SF_BOUND = frozenset({"extract_driver_docs"})


def _golden_oracle(name: str) -> str:
    path = os.path.join(_GOLDEN_DIR, f"{name}.parquet")
    return f"select * from read_parquet('{path}')"


ORACLES: dict[str, str] = {
    "span_reassembly": ORACLE_SPAN_REASSEMBLY,
    "doc_bytes_prepass": ORACLE_DOC_BYTES,
    "media_inventory": ORACLE_MEDIA_INVENTORY,
    "media_features": ORACLE_MEDIA_FEATURES,
    "media_frames": ORACLE_MEDIA_FRAMES,
    "ann_topk_lsh": _oracle_ann_topk_lsh(),
    "ann_topk_ivf": _oracle_ann_topk_ivf(),
    # the stored layouts reproduce the in-plan assignments exactly, so
    # the SAME oracles verify them (what changes is the physical scan:
    # partition pruning instead of a row filter)
    "ann_topk_lsh_stored": _oracle_ann_topk_lsh(),
    "ann_topk_ivf_stored": _oracle_ann_topk_ivf(),
    "ann_topk_batch": _oracle_ann_topk_batch(),
    "ann_topk_ivf_trained": _oracle_ann_topk_ivf_trained(),
    "ann_recall": _oracle_ann_recall(),
    "ann_recall_clustered": _oracle_ann_recall_clustered(),
    "embedding_pair_recall": _oracle_embedding_pair_recall(),
    "embedding_pair_recall_planted": _oracle_embedding_pair_recall_planted(),
    "dedup_embedding_lsh": _oracle_dedup_embedding_lsh(),
    "dedup_embedding_lsh_hardened": _oracle_dedup_embedding_lsh_hardened(),
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "dedup_minhash_lsh": _oracle_minhash(),
    "dedup_simhash": _oracle_simhash(),
    "dedup_simhash_pairs": _oracle_simhash_pairs(),
    "dedup_components": _oracle_dedup_components(),
    "dedup_semantic": _oracle_dedup_semantic(),
    "dedup_semantic_keep_best": _oracle_dedup_semantic_keep_best(),
    "dedup_embedding": ORACLE_DEDUP_EMBEDDING,
    "ann_topk": ORACLE_ANN_TOPK,
    "text_profile": _oracle_text_profile(),
    "lang_id": _oracle_lang_id(),
    "quality_filter": _oracle_quality_filter(),
    "boilerplate": _oracle_boilerplate(),
    "fingerprints": ORACLE_FINGERPRINTS,
    "events_hourly": ORACLE_EVENTS_HOURLY,
    "sessionize": ORACLE_SESSIONIZE,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "revenue_by_nation": ORACLE_REVENUE_BY_NATION,
    "resume_antijoin": ORACLE_RESUME_ANTIJOIN,
    **{name: _golden_oracle(name) for name in GOLDEN_ORACLE_QUERIES},
}


def queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
