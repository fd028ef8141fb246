"""Wall time of the navigable-graph build (``graph_ann.build_graph``)
against corpus size, on seeded clustered corpora
(tools/make_clustered_embeddings.py, 64 dims, n/200 centers, σ 0.1).

The build runs on the driver in numpy, so no Spark session is started.
Each size is timed ``REPEATS`` times and the best is reported, with the
graph's cell and edge counts; the log-log slope of time against n is
printed last (≈1 for the cell-blocked layer 0, which dominates; the
all-pairs hub mesh grows as (n/128)² and shows above ~500k rows).

Usage: python tools/graph_build_scaling.py [sizes...]  default 1000 20000 100000
"""

from __future__ import annotations

import math
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.make_clustered_embeddings import make  # noqa: E402

REPEATS = 3


def run(sizes=(1000, 20000, 100000)) -> None:
    import pyarrow.parquet as pq

    from adk_noui_vectordb_spark.operators.graph_ann import build_graph

    pts = []
    print("| n | cells | edges | build s (best of %d) |" % REPEATS)
    print("|---|---|---|---|")
    for n in sizes:
        with tempfile.TemporaryDirectory() as d:
            t = pq.read_table(make(d, n, max(10, n // 200), 0.1))
        ids = t.column("vec_id").to_numpy()
        mat = (
            t.column("embedding").combine_chunks().flatten().to_numpy()
            .astype("float64").reshape(n, -1)
        )
        best = math.inf
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            adj, _entry, cents, _hubs = build_graph(ids, mat)
            best = min(best, time.perf_counter() - t0)
        edges = sum(len(v) for v in adj.values())
        pts.append((n, best))
        print(f"| {n} | {len(cents)} | {edges} | {best:.2f} |", flush=True)
    if len(pts) > 1:
        xs = [math.log(n) for n, _ in pts]
        ys = [math.log(t) for _, t in pts]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        print(f"\nbuild-time exponent: {slope:.2f}")


if __name__ == "__main__":
    run(tuple(int(a) for a in sys.argv[1:]) or (1000, 20000, 100000))
