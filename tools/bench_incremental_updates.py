"""Incremental-update vs full-rebuild scaling of the lexical index.

The claim under test: ``update_text_index`` costs O(batch + stale
partitions) while a rebuild costs O(corpus). Local wall-clock at one SF
cannot show that (per-job fixed overhead dominates a small update), so
this tool holds the BATCH SIZE FIXED (50 brand-new rows) and scales the
CORPUS across sf0.01 -> sf0.1 (documents 500 -> 5000 rows): an O(batch)
update stays flat while the rebuild grows with the corpus — the same
log-log evidence scaling_exponents.py uses.

Usage: python tools/bench_incremental_updates.py -> markdown rows
(paste into BASELINE.md). Times are best-of-N wall seconds.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = 2
SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
BATCH = 50


def _timed(fn) -> float:
    best = None
    for _ in range(RUNS):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> None:
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators import invindex
    from adk_noui_vectordb_spark.session import get_spark

    spark = get_spark(app_name="bench-incremental")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="adk_incbench_")

    def corpus_copy(sf_dir: str, table: str, tag: str) -> str:
        d = os.path.join(work, tag)
        os.makedirs(d)
        shutil.copy(
            os.path.join(sf_dir, f"{table}.parquet"),
            os.path.join(d, f"{table}.parquet"),
        )
        return d

    rows = {}
    for sf_dir in SFS:
        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

        # text: fixed 50-doc batch of brand-new doc_ids
        base = corpus_copy(sf_dir, "documents", f"text_{sf}")
        docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
        n_docs = docs.count()
        batch = (
            docs.limit(BATCH)
            .select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
            )
            .localCheckpoint(eager=True)
        )
        invindex.build_text_index(spark, base)
        t_up = _timed(lambda: invindex.update_text_index(spark, base, batch))

        def rebuild_text():
            shutil.rmtree(invindex.text_index_root(base), ignore_errors=True)
            invindex.build_text_index(spark, base)

        t_rb = _timed(rebuild_text)
        rows.setdefault("text (inverted)", []).append((sf, n_docs, t_up, t_rb))

    print(
        "| index | corpus rows (sf) | 50-row upsert (s) | full rebuild (s) |"
    )
    print("|---|---|---|---|")
    for name, pts in rows.items():
        for sf, n, up, rb in pts:
            print(f"| {name} | {n} (sf{sf}) | {up} | {rb} |")

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
