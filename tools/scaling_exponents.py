"""Wall-time scaling exponents across sf0.001/0.01/0.1 (VERDICT r5 item 8).

For each headline key, time the query at every SF (best-of-N) and fit the
log-log slope of wall time against the PRIMARY INPUT's actual row count
(the testdata does not scale every table by sf: documents is 500/500/5000,
embeddings 500/500/2000, so sf alone would understate the step). Slope
~<= 1.2 is the strongest local[32] evidence available that a plan is
O(n log n)-shaped — a banded self-join gone quadratic reads ~2 immediately.
Fixed per-query overhead (JVM job launch, Python worker pool) flattens the
small-SF points, so the slope UNDERSTATES the asymptotic exponent; it is a
quadratic-behavior detector, not a precise model.

Usage: python tools/scaling_exponents.py  -> markdown table on stdout
(paste into BASELINE.md).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["0.001", "0.01", "0.1"]
RUNS = 2

# key -> primary input table (for the x-axis row counts)
KEYS = {
    "dedup_minhash_pairs": "documents",
    "dedup_connected_components": "documents",
    "ngram_jaccard_pairs": "documents",
    "simhash_signatures": "documents",
    "dedup_embedding_cosine": "embeddings",
    "semdedup_prune": "embeddings",
    "cluster_kmeans": "embeddings",
    "knn_topk": "embeddings",
    "dedup_simhash_pairs": "documents",
    "dedup_substring_rewrite": "documents",
    # r7b additions
    "bm25_topk_served": "documents",
    "bm25_folded_topk_served": "documents",
    "dedup_repeated_ngrams": "documents",
    # r7c additions
    "dup_cluster_size_histogram": "documents",
    # r9 additions
    "text_index_doc_map": "documents",
    # r10 additions
    "dedup_gate_against_index": "documents",
    "dedup_gate_intra_batch": "documents",
    "knn_join_ivf_topk": "embeddings",
    # r13 additions
    "collection_query_graph_acorn_topk": "embeddings",
    "dedup_containment_pairs": "documents",
    "dedup_containment_gate": "documents",
    "hybrid_weighted_topk": "documents",
    # r10b additions (query-language + filtered-ANN serving layer)
    "boolean_and_topk": "documents",
    "boolean_or_not_topk": "documents",
    "phrase_topk_served": "documents",
    "prefix_topk_served": "documents",
    "proximity_topk_served": "documents",
    # r10c additions (where DSL, collection facade, fuzzy, shards)
    "collection_query_topk": "embeddings",
    "collection_query_graph_topk": "embeddings",
    "collection_query_graph_batch_topk": "embeddings",
    "collection_get_where": "documents",
    "fuzzy_topk_served": "documents",
    "dedup_containment_gate_ingested": "documents",
    # r11 additions
    "ann_ivf_sampled_topk": "embeddings",
    "collection_get_page2": "documents",
    "collection_query_ip_topk": "embeddings",
}


def main() -> None:
    from adk_noui_vectordb_spark.session import get_spark

    # optional argv key filter: `python tools/scaling_exponents.py key1 key2`
    global KEYS
    if len(sys.argv) > 1:
        KEYS = {k: KEYS[k] for k in sys.argv[1:]}

    spark = get_spark(app_name="scaling-exponents")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    counts: dict[tuple[str, str], int] = {}
    for sf in SFS:
        for t in set(KEYS.values()):
            counts[(sf, t)] = (
                spark.read.parquet(f"/root/testdata/sf{sf}/{t}.parquet").count()
            )
    # warm
    spark.read.parquet("/root/testdata/sf0.001/region.parquet").count()

    rows_out = []
    for key, table in KEYS.items():
        xs, ys = [], []
        for sf in SFS:
            sf_dir = f"/root/testdata/sf{sf}"
            best = None
            for _ in range(RUNS):
                t0 = time.perf_counter()
                qs[key](spark, sf_dir).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            xs.append(counts[(sf, table)])
            ys.append(best)
        # collapse duplicate x (tables that do not scale between SFs):
        # keep the fastest time per distinct size
        by_n: dict[int, float] = {}
        for n, t in zip(xs, ys):
            by_n[n] = min(t, by_n.get(n, float("inf")))
        pts = sorted(by_n.items())
        if len(pts) < 2:
            slope = float("nan")
        else:
            lx = [math.log(n) for n, _ in pts]
            ly = [math.log(t) for _, t in pts]
            mx, my = sum(lx) / len(lx), sum(ly) / len(ly)
            denom = sum((x - mx) ** 2 for x in lx)
            slope = sum((x - mx) * (y - my) for x, y in zip(lx, ly)) / denom
        rows_out.append((key, table, pts, slope))
        print(
            f"# {key}: " + " ".join(f"n={n}:{t:.3f}s" for n, t in pts)
            + f" slope={slope:.2f}",
            file=sys.stderr,
            flush=True,
        )

    print("| key | input | t(n) per distinct size | exponent |")
    print("|---|---|---|---|")
    for key, table, pts, slope in sorted(rows_out, key=lambda r: -r[3]):
        series = ", ".join(f"{n}: {t:.2f}s" for n, t in pts)
        print(f"| `{key}` | {table} | {series} | **{slope:.2f}** |")
    spark.stop()


if __name__ == "__main__":
    main()
