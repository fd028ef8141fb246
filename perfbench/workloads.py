"""The benchmark's workloads: one client, closed loop, public API only.

``serve_mixed`` serves reads from one immutable collection version;
``ingest_stream`` commits writes and reads each one back, so every read
meets a fresh version. A traced run adds, after the measured phase, the
two layer probes that do not fit an untraced run's time budget: the
graph sidecar (``filter_strategy="graph"``) and the codebase indexer
(``build_index`` and the layers it chains).
"""

from __future__ import annotations

import os
import time
import traceback
from collections import defaultdict

import numpy as np

from . import gen
from .stats import median

N_SERVE = 1000
N_INGEST = 600
N_TREE_FILES = 40
EDIT_FILES = 6
MIN_RECALL = 0.5  # a query below this is counted as a wrong answer
DIST_TOL = 2e-4  # the engine rounds cosine to 4 decimals


class Run:
    """One benchmark run: the session, the collection under test, the
    ledger that mirrors it, and every sample taken."""

    def __init__(self, spark, tracer, calibrator, work_dir: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.cal = calibrator
        self.work = work_dir
        self.seed = seed
        self.lat = defaultdict(list)  # op kind -> latencies (s)
        self.cpu = defaultdict(list)  # op kind -> CPU seconds of the process tree
        self.recalls: list = []
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.rows_written = 0
        self.user_bytes = 0
        self.store_bytes_written = 0
        self.commits = 0
        self.compactions = 0
        self.extra: dict = {}  # per-layer values from the probes
        self.result_rows: dict = {}  # query op id -> rows returned
        self.measured: dict = {}
        self._op = 0
        self.t_setup_done = 0.0
        self._measuring = False
        self._cal_s = 0.0  # time spent calibrating inside the measured phase
        self._t_measure = 0.0
        self._span0 = 0
        self._book0 = 0.0

    def start_measuring(self) -> None:
        """Set-up ends here: later samples are the measured phase. The host
        speed is sampled on both sides of the measured phase and after
        every measured op, so it tracks the load of the same seconds."""
        self.t_setup_done = time.perf_counter()
        self.cal.sample()
        self.setup_lat, self.lat = self.lat, defaultdict(list)
        self.cpu = defaultdict(list)
        self.recalls = []
        self.rows_written = 0
        self._span0 = len(self.tr.spans)
        self._book0 = self.tr.bookkeeping_s
        self._measuring = True
        self._t_measure = time.perf_counter()

    def end_measuring(self) -> None:
        self._measuring = False
        self.measured = {
            "seconds": time.perf_counter() - self._t_measure - self._cal_s,
            "lat": {k: list(v) for k, v in self.lat.items()},
            "cpu": {k: list(v) for k, v in self.cpu.items()},
            "recalls": list(self.recalls),
            "rows_written": self.rows_written,
            "spans": (self._span0, len(self.tr.spans)),
            "bookkeeping_s": self.tr.bookkeeping_s - self._book0,
        }
        self.cal.sample()

    # -------------------------------------------------------------- ops

    def op(self, kind: str, call, check=None):
        """Run one operation in the closed loop: time ``call``, then verify
        its result with ``check`` (outside the timed region). An exception
        or a failed check counts as a failed operation."""
        self._op += 1
        self.tr.begin_op(self._op, kind.split(".")[0])
        self.attempted += 1
        try:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            out = call()
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
            if check is not None:
                problem = check(out)
                if problem:
                    raise AssertionError(problem)
        except Exception:
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            return None
        self.lat[kind].append(dt)
        self.cpu[kind].append(cpu)
        if self._measuring:
            t0 = time.perf_counter()
            self.cal.sample(1)
            self._cal_s += time.perf_counter() - t0
        return out

    # ------------------------------------------------------ collection

    def query(self, coll, ledger, kind, vectors=None, text=None, where=None, strategy="probe"):
        tr = self.tr

        def call():
            with tr.span(f"collection.query.{kind}"):
                with tr.span("collection.query_plan"):
                    if text is not None:
                        df = coll.query(query_texts=[text], n_results=10)
                    else:
                        df = coll.query(
                            query_embeddings=[v.tolist() for v in vectors],
                            n_results=10,
                            where=where,
                            filter_strategy=strategy,
                        )
                with tr.span("collection.query_exec"):
                    return df.collect()

        if text is not None:
            from adk_noui_vectordb_spark.operators.embed import resolve_model

            vectors = [np.asarray(resolve_model(None).encode([text])[0])]
        rows = self.op(f"query.{kind}", call, lambda rows: self._check_query(ledger, vectors, where, rows))
        if rows is not None:
            self.result_rows[self._op] = len(rows)
        return rows

    def _check_query(self, ledger, vectors, where, rows) -> "str | None":
        live = sorted(i for i, (_, _, m) in ledger.rows.items() if gen.passes(m, where))
        mat = ledger.matrix(live)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        got = defaultdict(list)
        for r in rows:
            got[r["query_idx"]].append((r["distance"], r["id"]))
        for qi, q in enumerate(vectors):
            q = np.asarray(q) / np.linalg.norm(q)
            dist = 1.0 - np.round(mat @ q, 4)
            exact = sorted(zip(dist.tolist(), live))[:10]
            ret = got.get(qi, [])
            if len(ret) != len(exact):
                return f"query {qi}: {len(ret)} results, expected {len(exact)}"
            if [d for d, _ in ret] != sorted(d for d, _ in ret):
                return f"query {qi}: distances not ascending"
            by_id = dict(zip(live, dist.tolist()))
            for d, i in ret:
                if i not in by_id:
                    return f"query {qi}: {i} is not a live row passing the filter"
                if abs(d - by_id[i]) > DIST_TOL:
                    return f"query {qi}: {i} distance {d} != {by_id[i]}"
            # tie-aware: distances are rounded, so a row tied with the exact
            # 10th within the tolerance is as right an answer as the 10th
            kth = exact[-1][0] + DIST_TOL
            recall = min(len(exact), sum(by_id[i] <= kth for _, i in ret)) / len(exact)
            self.recalls.append(recall)
            if recall < MIN_RECALL:
                return f"query {qi}: recall@10 {recall}"
        return None

    def get_ids(self, coll, ledger, ids):
        tr = self.tr

        def call():
            with tr.span("collection.get"):
                return coll.get(ids=ids).collect()

        def check(rows):
            want = {i: ledger.rows[i][1] for i in ids if i in ledger.rows}
            have = {r["id"]: r["document"] for r in rows}
            return None if have == want else f"get(ids): {len(have)} rows, expected {len(want)} matching"

        return self.op("get.ids", call, check)

    def get_where(self, coll, ledger, where, after_id="", limit=100):
        tr = self.tr

        def call():
            with tr.span("collection.get"):
                return coll.get(where=where, after_id=after_id, limit=limit).collect()

        want = sorted(i for i, (_, _, m) in ledger.rows.items() if gen.passes(m, where) and i > after_id)[:limit]
        self.op(
            "get.where", call,
            lambda rows: None if [r["id"] for r in rows] == want else "get(where, after_id) page mismatch",
        )
        return want[-1] if want else None

    def count(self, coll, ledger):
        tr = self.tr

        def call():
            with tr.span("collection.count"):
                return coll.count()

        return self.op("count", call, lambda n: None if n == len(ledger.rows) else f"count {n} != {len(ledger.rows)}")

    def write(self, coll, ledger, kind, rows=None, ids=None):
        """add/upsert ``rows`` or delete ``ids`` as one commit, then
        account for the bytes the commit put on disk."""
        tr = self.tr
        before = _inodes(coll.root)
        versions_before = len(coll.versions())

        def call():
            with tr.span(f"collection.write.{kind}"):
                if kind == "delete":
                    return coll.delete(ids=ids)
                return getattr(coll, kind)(_batch(self.spark, rows))

        if self.op(f"write.{kind}", call) is None:
            return False
        if kind == "delete":
            ledger.remove(ids)
        else:
            ledger.apply(rows)
            self.rows_written += len(rows)
            self.user_bytes += sum(_row_bytes(i, v, d, m) for i, v, d, m in rows)
        with tr.span("versioning.inspect"):
            after = _inodes(coll.root)
            self.store_bytes_written += sum(size for ino, size in after.items() if ino not in before)
            grown = len(coll.versions()) - versions_before
        self.commits += 1
        self.compactions += grown > 1
        return True


BATCH_SCHEMA = (
    "id string, embedding array<double>, document string, "
    "element_type string, file_path string, lang string, start_line int"
)


def _batch(spark, rows: list):
    """A write batch as a client builds it: a pandas frame handed to Spark
    as Arrow record batches (the session enables Arrow)."""
    import pandas as pd

    metas = [m for _, _, _, m in rows]
    pdf = pd.DataFrame(
        {
            "id": [i for i, _, _, _ in rows],
            "embedding": [v.astype("float64") for _, v, _, _ in rows],
            "document": [d for _, _, d, _ in rows],
            "element_type": [m["element_type"] for m in metas],
            "file_path": [m["file_path"] for m in metas],
            "lang": [m["lang"] for m in metas],
            "start_line": pd.array([m["start_line"] for m in metas], dtype="int32"),
        }
    )
    return spark.createDataFrame(pdf, BATCH_SCHEMA)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the Spark JVM, its Python workers (including ones
    already reaped) and the calibration pool. Time the host gives to
    other tenants is not in it."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += t
    return total / _TICK


def _inodes(root: str) -> dict:
    """inode -> size of every data file under a collection root; a file
    hardlinked into a new version keeps its inode, so new inodes are the
    bytes a commit actually wrote."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if fn.startswith("part-"):
                st = os.stat(os.path.join(dirpath, fn))
                out[st.st_ino] = st.st_size
    return out


def store_stats(coll) -> tuple:
    """(bytes of the current version's data files, mean data files per
    partition directory)."""
    from adk_noui_vectordb_spark.sources.versioning import current_dir

    cur = current_dir(coll.root)
    n_bytes = 0
    per_part = []
    for dirpath, _, files in os.walk(cur):
        parts = [f for f in files if f.startswith("part-")]
        if parts:
            per_part.append(len(parts))
            n_bytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in parts)
    return n_bytes, (sum(per_part) / len(per_part)) if per_part else 0.0


def _row_bytes(i: str, v, d: str, m: dict) -> int:
    """A row's user bytes: id, document, 8 per vector component, metadata."""
    return len(i) + len(d) + 8 * len(v) + len(str(m))


def live_bytes(ledger) -> int:
    return sum(_row_bytes(i, v, d, m) for i, (v, d, m) in ledger.rows.items())


def open_collection(run: Run, name: str, rows: list, ledger):
    """Create a collection and load ``rows`` in one add (part of set-up)."""
    from adk_noui_vectordb_spark.api.collection import Client

    with run.tr.span("collection.client"):
        coll = Client(run.spark, os.path.join(run.work, "db")).create_collection(name)
    if not run.write(coll, ledger, "add", rows=rows):
        raise RuntimeError("initial load failed:\n" + "\n".join(run.errors))
    return coll


# ------------------------------------------------------------ workloads

def serve_mixed(run: Run, seconds: float) -> tuple:
    """Set up a prebuilt collection, then serve seeded cycles of reads
    (every kind once per cycle) until ``seconds`` have passed; a started
    cycle always completes, so every run has the same op mix."""
    ledger = gen.Elements(run.seed, "serve")
    coll = open_collection(run, "code_elements", ledger.corpus(N_SERVE), ledger)
    # a query and a get before timing starts: lazy per-version handles
    # fill and the JVM compiles the query and get paths once
    run.query(coll, ledger, "warmup", vectors=[ledger.query_vector()], where=gen.WHERE_HALF)
    run.get_ids(coll, ledger, sorted(ledger.rows)[:10])
    run.get_where(coll, ledger, gen.WHERE_TENTH, "", gen.PAGE_LIMIT)
    run.start_measuring()
    t0 = time.perf_counter()
    cycle = 0
    while time.perf_counter() - t0 < seconds:
        for kind, args in gen.serve_cycle(ledger, run.seed, cycle):
            if kind == "texts":
                run.query(coll, ledger, "texts", text=args["text"])
            elif kind == "get_ids":
                run.get_ids(coll, ledger, args["ids"])
            elif kind.startswith("page_"):
                after = args["after_id"]
                for _ in range(args["pages"]):
                    after = run.get_where(coll, ledger, args["where"], after, args["limit"])
            else:
                label = {"probe": "probe", "batch": "batch"}.get(kind, "filtered")
                run.query(coll, ledger, label, vectors=args["vectors"], where=args["where"])
        cycle += 1
    run.end_measuring()
    return coll, ledger


def ingest_stream(run: Run, seconds: float) -> tuple:
    """Set up a collection with one add, then commit seeded cycles of
    writes (upsert a changed file's elements plus a new file's, delete a
    removed file's) until ``seconds`` have passed; a started cycle always
    completes. After each commit: read the touched ids and the touched
    file back, check the count against the ledger, and query unfiltered
    and filtered near the written rows (after a delete, near a random
    topic), so each run has four query samples."""
    ledger = gen.Elements(run.seed, "ingest")
    coll = open_collection(run, "code_elements", ledger.corpus(N_INGEST), ledger)
    run.query(coll, ledger, "warmup", vectors=[ledger.query_vector()])
    run.start_measuring()
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < seconds:
        for _ in gen.COMMIT_KINDS:
            kind, path, rows, ids = gen.commit(ledger, run.seed, i)
            i += 1
            if not run.write(coll, ledger, kind, rows=rows, ids=ids):
                continue
            run.get_ids(coll, ledger, ids)
            run.get_where(coll, ledger, {"file_path": path})
            run.count(coll, ledger)
            near = ids[-1] if kind == "upsert" else None
            run.query(coll, ledger, "probe", vectors=[ledger.query_vector(near)])
            run.query(coll, ledger, "filtered", vectors=[ledger.query_vector(near)], where=gen.WHERE_HALF)
    run.end_measuring()
    return coll, ledger


WORKLOADS = {"serve_mixed": serve_mixed, "ingest_stream": ingest_stream}


# ------------------------------------------------------- traced probes

def graph_probe(run: Run, coll, ledger) -> None:
    """Two graph-strategy queries: the first builds the navigable-graph
    sidecar over the current version, the second is steady state."""
    times = []
    for _ in range(2):
        before = len(run.lat["query.graph"])
        run.query(coll, ledger, "graph", vectors=[ledger.query_vector()], strategy="graph")
        if len(run.lat["query.graph"]) > before:
            times.append(run.lat["query.graph"][-1])
    if len(times) == 2:
        run.extra["graph_ann.sidecar_build_s"] = times[0] - times[1]
        run.lat["query.graph"] = times[1:]


def index_probe(run: Run) -> None:
    """The codebase indexer: each layer it chains, then a cold
    ``build_index`` over the generated tree and one edit round re-indexed
    incrementally, with the indexer's report checked against the
    generator."""
    from adk_noui_vectordb_spark.operators.indexing import build_index

    tree = gen.SourceTree(run.seed, N_TREE_FILES)
    src = os.path.join(run.work, "repo")
    _write_tree(tree, src, tree.files)
    run.op("index.layers", lambda: _index_layers(run, tree, src))

    def reindex():
        with run.tr.span("indexing.build_index"):
            return build_index(run.spark, src, os.path.join(run.work, "index"))

    report = run.op("index.build", reindex, lambda r: _check_report(r, tree, edited=False))
    if report is not None:
        run.extra["indexing.elements_per_s"] = report["total_elements"] / run.lat["index.build"][-1]
    touched, changed, added = tree.edit_round(EDIT_FILES)
    _write_tree(tree, src, touched)
    report = run.op("index.reindex", reindex, lambda r: _check_report(r, tree, edited=True))
    if report is not None:
        run.extra["indexing.reindex_s"] = run.lat["index.reindex"][-1]
        run.extra["indexing.reembed_ratio"] = report["embedded_new"] / (changed + added)


def _index_layers(run: Run, tree, src: str) -> None:
    """Call each layer ``build_index`` chains, timed on its own: the
    corpus scan, the four chunkers, the Arrow embed UDF and the parquet
    upsert sink. ``.txt`` files go to the fixed-line chunker directly,
    since the scan keeps source extensions only."""
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators import chunking
    from adk_noui_vectordb_spark.operators.embed import make_embed_udf
    from adk_noui_vectordb_spark.sources.corpus import scan_corpus
    from adk_noui_vectordb_spark.sources.sinks import upsert_parquet

    spark, tr = run.spark, run.tr

    def timed(name, fn):
        t0 = time.perf_counter()
        with tr.span(name):
            out = fn()
        return out, time.perf_counter() - t0

    corpus, run.extra["corpus.scan_s"] = timed(
        "corpus.scan", lambda: scan_corpus(spark, src).localCheckpoint(eager=True)
    )
    txt = spark.createDataFrame(
        [(rel, tree.render(rel)) for rel in sorted(tree.files) if rel.endswith(".txt")],
        "path string, content string",
    )
    by_chunker = {
        "python_ast": (chunking.chunk_python_ast, corpus.filter(F.col("ext") == ".py")),
        "markdown": (chunking.chunk_markdown_sections, corpus.filter(F.col("ext") == ".md")),
        "js": (chunking.chunk_js_elements, corpus.filter(F.col("ext").isin(".js", ".ts"))),
        "fixed_lines": (chunking.chunk_fixed_lines, txt),
    }
    elements = None
    for name, (chunker, files) in by_chunker.items():
        out, dt = timed(
            f"chunking.{name}",
            lambda: chunker(files.select("path", "content"))
            .select("path", "name", "content")
            .localCheckpoint(eager=True),
        )
        run.extra[f"chunking.elements_per_s.{name}"] = out.count() / dt
        elements = out if elements is None else elements.unionByName(out)
    embed = make_embed_udf()
    embedded, dt = timed(
        "embed.udf",
        lambda: elements.withColumn("embedding", embed(F.col("content"))).localCheckpoint(eager=True),
    )
    run.extra["embed.rows_per_s"] = embedded.count() / dt
    keyed = embedded.withColumn("key", F.concat_ws("#", "path", "name"))
    sink = os.path.join(run.work, "sink.parquet")
    # a cold write, then a merge into the existing table
    upserts = [
        timed("sinks.upsert_parquet", lambda: upsert_parquet(spark, keyed, sink, key="key"))[1]
        for _ in range(2)
    ]
    run.extra["sinks.upsert_s"] = median(upserts)


def _check_report(report: dict, tree, edited: bool) -> "str | None":
    if report["indexed_files"] != tree.indexed_files():
        return f"indexed_files {report['indexed_files']} != {tree.indexed_files()}"
    if report["total_elements"] != tree.expected_elements():
        return f"total_elements {report['total_elements']} != {tree.expected_elements()}"
    if edited and report["embedded_new"] == 0:
        return "the edit round re-embedded no element"
    return None


def _write_tree(tree, root: str, rels) -> None:
    for rel in rels:
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(tree.render(rel))
