"""Third scale decade for the r12-r14 SERVING families (VERDICT r13
next #6): the driver testdata gives the exponent harness only two
distinct sizes per table (documents 500/5000, embeddings 500/2000), so
most recorded serving fits are two-point. This tool materializes
synthetic corpora at n = 500 / 5,000 / 50,000 in the EXACT testdata
schema (embeddings: vec_id/embedding float[]/label; documents:
doc_id/text/lang/source/n_chars), warms each size once so index BUILDS
are excluded, then fits the log-log slope of warm serving wall time
over the three decades.

The corpora are seeded mixtures (clustered embeddings — the regime the
graph serves; zipf-ish word soup documents) so the shapes are realistic
rather than adversarial; the point is the SLOPE, not absolute times.

Usage: python tools/third_decade.py [key ...]   (default: the r12-r14
serving families) -> markdown rows for SCALE.md on stdout.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SIZES = [500, 5_000, 50_000]
DIM = 64
LANGS = ["en", "de", "fr", "es", "zh"]
SOURCES = ["web", "wiki", "books", "code"]

DEFAULT_KEYS = [
    "collection_query_graph_topk",
    "dedup_substring_rewrite",
]


def make_corpus(out_dir: str, n: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(1234 + n)
    k_centers = max(10, n // 200)
    centers = rng.randn(k_centers, DIM)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cids = (np.arange(n) % k_centers).astype(np.int32)
    pts = centers[cids] + 0.15 * rng.randn(n, DIM)
    # label cardinality stays FIXED (10-way, the testdata's shape) so a
    # label predicate's selectivity is size-INDEPENDENT — otherwise the
    # ACORN exponents conflate corpus growth with selectivity growth
    labels = (cids % 10).astype(np.int32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": pa.array(
                    [row.astype(np.float32) for row in pts],
                    type=pa.list_(pa.float32()),
                ),
                "label": pa.array(labels),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    # zipf-ish word soup with some repeated boilerplate so the
    # substring-dedup and BM25 paths have real structure to chew on
    vocab = [f"w{i:04d}" for i in range(2000)]
    zipf = rng.zipf(1.3, size=n * 40) % len(vocab)
    texts = []
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(n):
        words = [vocab[j] for j in zipf[i * 40 : (i + 1) * 40]]
        if i % 7 == 0:
            words[5:5] = boiler.split()
        texts.append(" ".join(words))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array([LANGS[i % len(LANGS)] for i in range(n)]),
                "source": pa.array(
                    [SOURCES[i % len(SOURCES)] for i in range(n)]
                ),
                "n_chars": pa.array(
                    np.array([len(t) for t in texts], dtype=np.int64)
                ),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )


def main() -> None:
    from adk_noui_vectordb_spark.session import get_spark

    keys = sys.argv[1:] or DEFAULT_KEYS
    spark = get_spark(app_name="third-decade")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    dirs = {}
    for n in SIZES:
        d = f"/tmp/third_decade_{n}"
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            shutil.rmtree(d, ignore_errors=True)
            make_corpus(d, n)
        dirs[n] = d

    print("| key | t(n) at 500 / 5k / 50k (warm serve) | exponent |")
    print("|---|---|---|")
    for key in keys:
        pts = []
        for n in SIZES:
            sf_dir = dirs[n]
            qs[key](spark, sf_dir).count()  # build/warm, untimed
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                qs[key](spark, sf_dir).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            pts.append((n, best))
            print(f"# {key} n={n}: {best:.3f}s", file=sys.stderr, flush=True)
        lx = [math.log(n) for n, _ in pts]
        ly = [math.log(t) for _, t in pts]
        mx, my = sum(lx) / len(lx), sum(ly) / len(ly)
        slope = sum(
            (x - mx) * (y - my) for x, y in zip(lx, ly)
        ) / sum((x - mx) ** 2 for x in lx)
        series = " / ".join(f"{t:.2f}s" for _, t in pts)
        print(f"| `{key}` | {series} | **{slope:.2f}** |")
    spark.stop()


if __name__ == "__main__":
    main()
