"""Dedup-chain scale demonstration: minhash -> LSH -> components at
two corpus sizes (default 6k and 60k docs), with engineered duplicate
structure, recording rounds, per-round edge counts (the shuffle-volume
proxy), and wall time per stage.

The corpus is deterministic (no RNG — token identity is a pure function
of the doc id), so candidate edges and components are exactly
reproducible run to run:

- MEGA-CHAIN (60k config only): docs 0..4095 slide a 10-token window
  over one token stream — adjacent docs share 90 of 100 tokens
  (Jaccard 0.82, per-band match 0.67, miss-all-8-bands ~1.4e-4), so
  the 4096-doc chain stays one connected candidate component with
  diameter ~700 (links reach ~5-6 steps): the shape min-label
  propagation needs ~700 rounds for and large-star/small-star must
  close in ~log2 rounds.
- chain groups: 64-doc sliding chains (diameter ~25 each).
- exact-dup clusters: groups of 4 identical docs (4-cliques).
- unique docs: no near-dup partner (never appear in the pair graph).

Usage: python tools/dedup_scale.py [n_small] [n_big]
Prints one JSON line per config; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, ".")

CHAIN_LEN = 64          # docs per standard chain group
MEGA_LEN = 4096         # docs in the single mega-chain (big config only)
WINDOW = 10             # token slide per chain position
DOC_TOKENS = 100
CLUSTER_LEN = 4         # docs per exact-dup cluster


def build_corpus(spark, n_docs: int, mega: bool):
    """(doc_id long, text string): deterministic engineered corpus.
    Layout: [mega-chain][chain groups][exact clusters][uniques] with
    chains ~50%, clusters ~25%, uniques the rest."""
    import pandas as pd

    from go_readability_spark.plans.session import lazy_zip_invalidation

    n_mega = min(MEGA_LEN, n_docs // 2) if mega else 0
    n_chain = max(((n_docs // 2 - n_mega) // CHAIN_LEN), 0) * CHAIN_LEN
    n_clust = ((n_docs // 4) // CLUSTER_LEN) * CLUSTER_LEN
    b_mega = n_mega
    b_chain = b_mega + n_chain
    b_clust = b_chain + n_clust

    def gen(pdf_iter):
        lazy_zip_invalidation()
        for pdf in pdf_iter:
            ids, texts = [], []
            for i in pdf["id"]:
                i = int(i)
                if i < b_mega:
                    toks = [
                        f"m{j}" for j in range(i * WINDOW, i * WINDOW + DOC_TOKENS)
                    ]
                elif i < b_chain:
                    g, p = divmod(i - b_mega, CHAIN_LEN)
                    toks = [
                        f"c{g}x{j}"
                        for j in range(p * WINDOW, p * WINDOW + DOC_TOKENS)
                    ]
                elif i < b_clust:
                    g = (i - b_chain) // CLUSTER_LEN
                    toks = [f"e{g}x{j}" for j in range(DOC_TOKENS)]
                else:
                    toks = [f"u{i}x{j}" for j in range(DOC_TOKENS)]
                ids.append(i)
                texts.append(" ".join(toks))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    return (
        spark.range(n_docs).repartition(64)
        .mapInPandas(gen, "doc_id long, text string"),
        {
            "n_mega": n_mega,
            "n_chain_docs": n_chain,
            "n_chain_groups": n_chain // CHAIN_LEN,
            "n_cluster_docs": n_clust,
            "n_cluster_groups": n_clust // CLUSTER_LEN,
            "n_unique": n_docs - b_clust,
        },
    )


def run_config(spark, n_docs: int, mega: bool) -> dict:
    from go_readability_spark.operators.dedup import (
        dedup_components,
        minhash_lsh_candidates,
    )
    from go_readability_spark.plans.cache import persist_scope

    docs, layout = build_corpus(spark, n_docs, mega)
    # materialize the corpus as parquet so stage walls measure the
    # operators, not synthesis (the production scan shape)
    # every corpus-shaping constant is in the cache key: a stale
    # parquet from an earlier constant set would otherwise be reused
    # silently and the printed layout counts (computed from the NEW
    # constants) would describe a corpus the walls were never run on
    path = (
        f"/tmp/gr_dedup_scale_w{WINDOW}_t{DOC_TOKENS}_c{CHAIN_LEN}"
        f"_k{CLUSTER_LEN}_m{MEGA_LEN}_{n_docs}_{int(mega)}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs.write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)

    out: dict = {"n_docs": n_docs, **layout}
    with persist_scope(spark):
        t0 = time.time()
        pairs = minhash_lsh_candidates(docs).persist()
        out["n_candidate_pairs"] = pairs.count()
        out["candidates_wall_sec"] = round(time.time() - t0, 2)

        stats: dict = {}
        t0 = time.time()
        comps = dedup_components(pairs, max_iter=30, stats=stats)
        comp_stats = (
            comps.groupBy("component_id")
            .agg({"component_size": "max"})
            .withColumnRenamed("max(component_size)", "sz")
        )
        rows = comp_stats.groupBy("sz").count().collect()
        out["components_wall_sec"] = round(time.time() - t0, 2)
        out["rounds"] = stats["rounds"]
        out["edge_counts"] = stats["edge_counts"]
        out["size_histogram"] = {
            int(r["sz"]): int(r["count"]) for r in rows
        }
        out["n_components"] = sum(out["size_histogram"].values())
        out["largest_component"] = max(out["size_histogram"])
        diameter_bound = (
            (out["largest_component"] // 2) if out["largest_component"] else 1
        )
        out["log2_largest"] = round(math.log2(max(diameter_bound, 2)), 1)
    return out


def main():
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 6000
    n_big = int(sys.argv[2]) if len(sys.argv) > 2 else 60000

    from go_readability_spark.plans.session import get_spark

    spark = get_spark(app_name="dedup-scale", cores=16)
    spark.sparkContext.setLogLevel("ERROR")
    for n, mega in ((n_small, False), (n_big, True)):
        r = run_config(spark, n, mega)
        print(json.dumps(r))
    spark.stop()


if __name__ == "__main__":
    main()
