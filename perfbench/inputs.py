"""Seeded benchmark inputs: the corpora, materialized once as parquet.

Every document is ``go_readability_spark.corpus.generate_doc(doc_id, seed)``,
a pure function of (doc_id, seed), so one seed always gives the same
table. The long articles (``long_articles``) are built in the benchmark
process for the single-process layer pass only. The parquet is keyed by corpus, seed, ``CORPUS_VERSION`` and
``INPUT_VERSION`` and is written before Spark starts: generation never
counts toward set-up time, and the measured JVM never runs it (a JVM that
had first run the generation job measured about 15% slower afterwards, on
a 4-vCPU VM).
"""

from __future__ import annotations

import os
import random
import shutil

from go_readability_spark.corpus import CORPUS_VERSION, corpus_doc_ids, generate_doc
from go_readability_spark.spans import KIND_MEDIA, KIND_TEXT

# Bump when the id lists or giant sizes below change.
INPUT_VERSION = 2

N_DOCS = {"small": 1200, "skewed": 1000}
# one giant per GIANT_EVERY ordinary ids, as in bench.py's corpus
GIANT_EVERY = 200
# Size class (MiB) of the k-th giant. generate_doc draws a giant's size as
# 1-8 MiB from its (seed, doc_id) generator. The k-th giant row keeps the
# doc_id bench.py's corpus gives it, so the salted repartition places it
# in the same partition at every seed, and carries generate_doc(source,
# seed) for a source id whose draw is this size. The work per run, and
# the task tail it sets, are then the same at every seed; with seed-drawn
# sizes and placements, walls spread 20% between seeds (4-vCPU VM).
GIANT_MIB = (8, 1, 5, 3, 6, 2, 7, 4)
LONG_PREFIX = "bench-long-"
# long articles added to the small corpus's layer pass: to_markdown is
# quadratic in the article length, so these sizes dominate render time
LONG_KIB = (160, 240, 320)
SAMPLE_EVERY = 8
SAMPLE_MAX = 150
FILES = 8

_MIB = 1024 * 1024


def _giant_class(doc_id: str, seed: int) -> int:
    # generate_doc seeds random.Random(f"{seed}:{doc_id}") and the giant
    # builder's first draw is randint(1, 8) MiB; doc_spans verifies it
    return random.Random(f"{seed}:{doc_id}").randint(1, 8)


def _giant_source(doc_id: str, seed: int) -> str:
    """The id whose generate_doc output the giant row ``doc_id`` carries."""
    k = int(doc_id.rpartition("-")[2]) // GIANT_EVERY - 1
    want = GIANT_MIB[k % len(GIANT_MIB)]
    j = 0
    while True:
        source = f"syn-giant-{(k + 1) * 1000 + j:06d}"
        if _giant_class(source, seed) == want:
            return source
        j += 1


def doc_ids(kind: str, seed: int) -> list[str]:
    """The ordered doc_id list of corpus ``kind`` (the same at every seed)."""
    return corpus_doc_ids(N_DOCS[kind], True, GIANT_EVERY if kind == "skewed" else 0)


def sample_ids(kind: str, seed: int) -> list[str]:
    """The fixed sample checked against the pure functions and passed
    through the single-process layer run: every SAMPLE_EVERY-th ordinary
    document and, in the skewed corpus, the smallest giant."""
    ordinary = [d for d in doc_ids(kind, seed) if not d.startswith("syn-giant-")]
    out = ordinary[::SAMPLE_EVERY][:SAMPLE_MAX]
    if kind == "skewed":
        smallest = GIANT_MIB.index(min(GIANT_MIB))
        out.append(f"syn-giant-{(smallest + 1) * GIANT_EVERY:06d}")
    return out


_WORDS = (
    "reader layout column paragraph heading section archive review measure "
    "sample signal record margin figure caption summary source network "
    "engine report history method result finding detail context question "
    "answer evidence process pattern example people season theory system"
).split()


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(8, 18))]
    words[len(words) // 2] += ","
    text = " ".join(words)
    return text[0].upper() + text[1:] + "."


def long_article_spans(doc_id: str, seed: int) -> list[dict]:
    """A long article page of LONG_KIB[k] KiB as scrambled spans: headings,
    paragraphs with inline markup and links, lists, quotes and media."""
    k = int(doc_id[len(LONG_PREFIX):])
    rng = random.Random(f"{seed}:{doc_id}")
    target = LONG_KIB[k] * 1024
    segs = [(KIND_TEXT, f"<html><head><title>Long Read {k}</title></head><body>"
                        f"<article><h1>Long Read {k}</h1>")]
    size, n = 0, 0
    while size < target:
        n += 1
        if n % 12 == 0:
            html = f"<h2>{_sentence(rng)[:40]}</h2>"
        elif n % 9 == 0:
            html = "<ul>" + "".join(f"<li>{_sentence(rng)}</li>" for _ in range(4)) + "</ul>"
        elif n % 15 == 0:
            html = f"<blockquote><p>{_sentence(rng)}</p></blockquote>"
        else:
            s = [_sentence(rng) for _ in range(rng.randint(3, 6))]
            s[0] = f"<strong>{s[0]}</strong>"
            s[-1] = f'<a href="/ref/{n}">{s[-1]}</a>'
            html = f"<p>{' '.join(s)} <em>{rng.choice(_WORDS)}</em></p>"
        segs.append((KIND_TEXT, html))
        size += len(html)
        if n % 20 == 0:
            segs.append((KIND_MEDIA, f"figure {n}", f"media://img/long-{k}-{n}"))
    segs.append((KIND_TEXT, "</article></body></html>"))

    spans, offset = [], 0
    for seg in segs:
        if seg[0] == KIND_MEDIA:
            spans.append({"kind": KIND_MEDIA, "text": seg[1],
                          "media_ref": seg[2], "offset": offset})
            offset += 1
            continue
        html, pos = seg[1], 0
        while pos < len(html):
            step = rng.randint(1024, 4096)
            spans.append({"kind": KIND_TEXT, "text": html[pos:pos + step],
                          "media_ref": "", "offset": offset})
            offset += 1
            pos += step
    rng.shuffle(spans)
    return spans


def long_articles(kind: str, seed: int) -> list[tuple[str, list[dict]]]:
    """(doc_id, spans) of the long articles the layer pass adds to the
    small corpus's sample, so the render layers are measured on the input
    that makes to_markdown slow; none for the other corpora."""
    if kind != "small":
        return []
    ids = [f"{LONG_PREFIX}{k}" for k in range(len(LONG_KIB))]
    return [(d, long_article_spans(d, seed)) for d in ids]


def doc_spans(doc_id: str, seed: int) -> list[dict]:
    if not doc_id.startswith("syn-giant-"):
        return generate_doc(doc_id, seed)
    source = _giant_source(doc_id, seed)
    spans = generate_doc(source, seed)
    want = _giant_class(source, seed)
    size = sum(len(s["text"] or "") for s in spans)
    if not want * _MIB <= size < (want + 1) * _MIB:
        raise RuntimeError(
            f"{source} is {size} bytes at seed {seed}, expected {want} MiB: "
            "generate_doc's giant sizing changed; update perfbench/inputs.py"
        )
    return spans


def input_path(work: str, kind: str, seed: int) -> str:
    return os.path.join(
        work, "inputs", f"{kind}-seed{seed}-c{CORPUS_VERSION}-i{INPUT_VERSION}"
    )


def materialize(work: str, kind: str, seed: int) -> str:
    """Write corpus ``kind`` for ``seed`` as FILES parquet files unless
    already there; return its directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from go_readability_spark.schemas import DOCUMENTS_SCHEMA

    path = input_path(work, kind, seed)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    schema = to_arrow_schema(DOCUMENTS_SCHEMA)
    ids = doc_ids(kind, seed)
    for f in range(FILES):
        part = ids[f * len(ids) // FILES:(f + 1) * len(ids) // FILES]
        table = pa.Table.from_pydict(
            {"doc_id": part, "spans": [doc_spans(d, seed) for d in part]}, schema)
        pq.write_table(table, os.path.join(tmp, f"part-{f:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files
