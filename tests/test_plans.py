"""Plan-shape assertions: the 100-TB contract (SURVEY.md §4).

Filters must reach the parquet scan, dimension joins must broadcast, exact
top-k must plan as TakeOrderedAndProject (heap-based, no global sort).
Regressions here mean a query silently became a full-scan/shuffle plan.
"""

import os

from adk_noui_vectordb_spark.operators.knn import knn_topk, make_query_from_vec
from adk_noui_vectordb_spark.plans import assert_pushed_filters, explain_str
from adk_noui_vectordb_spark.sources.tables import (
    load_table,
    maybe_broadcast,
)


def test_maybe_broadcast_hints_only_under_the_gate(spark, sf_dir):
    """A dimension at or under the size gate is broadcast-hinted; above it
    the join is left unhinted and plans as a shuffle join. Auto-broadcast
    is off so only the hint can produce a broadcast: a hinted broadcast is
    never demoted by AQE, which is why a dimension that grew with the data
    must not get one."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        c = load_table(spark, sf_dir, "customer")
        o = load_table(spark, sf_dir, "orders")
        size = os.path.getsize(os.path.join(sf_dir, "customer.parquet"))
        assert size > 0

        def plan_with_gate(max_bytes):
            dim = maybe_broadcast(c, size, max_bytes)
            df = o.join(dim, o.o_custkey == dim.c_custkey)
            return explain_str(df, mode="simple")

        under = plan_with_gate(size)
        assert "BroadcastHashJoin" in under, under

        over = plan_with_gate(size - 1)
        assert "BroadcastHashJoin" not in over, over
        assert "SortMergeJoin" in over or "ShuffledHashJoin" in over, over
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_knn_is_take_ordered(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    df = knn_topk(emb, make_query_from_vec(emb, 0), k=5)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_knn_filter_pushes_to_scan(spark, sf_dir):
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    df = knn_topk(
        emb, make_query_from_vec(emb, 0), k=5,
        candidate_filter=F.col("label") == 3,
    )
    assert_pushed_filters(df, "label")


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """orders |x| lineitem bucketed on the join key: zero exchanges."""
    from adk_noui_vectordb_spark.sources.sinks import write_bucketed
    from adk_noui_vectordb_spark.sources.tables import load_table

    write_bucketed(
        load_table(spark, sf_dir, "orders"), "orders_b",
        str(tmp_path / "orders_b"), "o_orderkey",
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem"), "lineitem_b",
        str(tmp_path / "lineitem_b"), "l_orderkey",
    )
    try:
        o = spark.table("orders_b").hint("merge")
        l = spark.table("lineitem_b")
        joined = l.join(o, l.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_totalprice", "l_quantity"
        )
        plan = explain_str(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column becomes a PartitionFilter — the
    scan lists only matching directories, no data IO elsewhere."""
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.sources.sinks import write_partitioned
    from adk_noui_vectordb_spark.sources.tables import load_table

    p = str(tmp_path / "events_by_type")
    write_partitioned(
        load_table(spark, sf_dir, "events").select("event_id", "value", "event_type"),
        p,
        "event_type",
    )
    df = spark.read.parquet(p).filter(F.col("event_type") == "purchase")
    plan = explain_str(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1].split("\n")[0], plan
    assert df.count() > 0


def test_text_index_probe_prunes_term_buckets(spark, sf_dir):
    """bm25_topk_served reads the on-disk postings partitioned by
    tbucket: the literal query-term buckets must be PartitionFilters on
    every index scan (postings AND termstats) — a query touches only its
    own terms' buckets however large the corpus (the lexical twin of the
    band/ivf serving contract)."""
    from adk_noui_vectordb_spark.operators import invindex

    df = invindex.bm25_topk_served(spark, sf_dir)
    plan = explain_str(df)
    seg = plan.split("PartitionFilters")
    pruned = [s.split("\n")[0] for s in seg[1:] if "tbucket" in s.split("\n")[0]]
    assert len(pruned) >= 2, plan  # postings scan + termstats scan
    buckets = sorted(
        {invindex.term_bucket_py(t) for t in invindex.QUERY_TERMS}
    )
    assert len(buckets) < invindex.N_TERM_BUCKETS  # probe is a strict subset


def test_dedup_gate_verification_broadcasts_batch_side(spark, sf_dir):
    """The ingest gate's verification join must BROADCAST the
    (candidate x batch-signature) side so the corpus-scale ``sigs/``
    store is streamed map-side, never shuffle-exchanged (VERDICT r9
    next #6) — and the candidate join must broadcast the batch band
    rows so the pruned band-table scan is likewise exchange-free."""
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators import dedup

    batch = spark.createDataFrame(
        [(900000001, "one two three four five six seven")],
        "doc_id bigint, text string",
    )
    df = dedup.dedup_gate_for(spark, sf_dir, batch)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan, plan
    # EVERY join in the gate must be broadcast: a SortMergeJoin or
    # ShuffledHashJoin anywhere means an index store (bands or sigs)
    # got shuffle-exchanged. The only exchanges allowed are the ones
    # under the batch-side distinct/broadcast, which never carry
    # corpus-scale data.
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_dedup_gate_serving_path_job_budget(spark, sf_dir):
    """VERDICT r10 next #8 / r11 next #5: the gate's probe-breadth
    decision, static-pruning pair set, and emptiness check are ONE
    auxiliary job (a <=128-group aggregate on the checkpointed batch
    bands), and the gate PROLOGUE (signing checkpoint + that aggregate)
    runs with AQE off — both statements are tiny and fully hand-planned,
    so AQE's per-exchange stage materialization was pure scheduler
    latency (r10: 14 jobs; r11 fusion: 12; r12 AQE-scoped prologue: 7).
    Pinned via job-group accounting so a regression that sneaks extra
    driver round-trips into the serving path fails here, not in a
    bench."""
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators import dedup

    # warm the memoized index so build jobs don't count against the gate
    dedup.build_minhash_index(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    sc = spark.sparkContext
    sc.setJobGroup("gate-job-budget", "dedup gate serving path")
    try:
        rows = dedup.dedup_gate_for(spark, sf_dir, batch).collect()
    finally:
        sc.setJobGroup(None, None)
    assert rows  # the clone batch always surfaces its originals
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("gate-job-budget"))
    assert n_jobs <= 8, f"gate serving path ran {n_jobs} jobs (budget 8)"


def test_boolean_probe_prunes_term_buckets_and_never_scans_corpus(
    spark, sf_dir
):
    """boolean_topk_served is index-only: the postings scan carries the
    probed terms' tbuckets as PartitionFilters (NOT terms ride the same
    probe — a posting row disqualifies, so negation never rescans the
    corpus), and documents.parquet appears nowhere in the plan."""
    from adk_noui_vectordb_spark.operators import invindex

    df = invindex.boolean_topk_served(
        spark, sf_dir, must_any=("join", "scan"), must_not=("window",)
    )
    plan = explain_str(df)
    assert "documents.parquet" not in plan, plan
    seg = plan.split("PartitionFilters")
    assert any("tbucket" in s.split("\n")[0] for s in seg[1:]), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_phrase_probe_prunes_term_buckets_and_never_scans_corpus(
    spark, sf_dir
):
    """phrase_topk_served reads only the positions store, pruned to the
    phrase terms' tbuckets; the corpus never enters the plan."""
    from adk_noui_vectordb_spark.operators import invindex

    df = invindex.phrase_topk_served(spark, sf_dir)
    plan = explain_str(df)
    assert "documents.parquet" not in plan, plan
    seg = plan.split("PartitionFilters")
    assert any("tbucket" in s.split("\n")[0] for s in seg[1:]), plan


def test_new_serving_ops_prune_and_avoid_corpus(spark, sf_dir):
    """One sweep over the r10b serving layer: proximity, prefix (probe
    phase) and highlight plans never scan the corpus files, and every
    positions/postings scan carries partition filters."""
    from adk_noui_vectordb_spark.operators import invindex

    cases = [
        (
            invindex.proximity_topk_served(spark, sf_dir),
            "documents.parquet",
            "tbucket",
        ),
        (
            invindex.search_highlight_served(spark, sf_dir),
            "documents.parquet",
            "tbucket",
        ),
    ]
    for df, corpus_file, part_col in cases:
        plan = explain_str(df)
        assert corpus_file not in plan, plan
        seg = plan.split("PartitionFilters")
        assert any(part_col in s.split("\n")[0] for s in seg[1:]), plan


def test_collection_serving_plans_are_index_only(spark, sf_dir, opened_dirs):
    """The facade's reads stay inside the collection root: a probe
    opens only vbucket= dirs (the band keys it matches are held with
    the stored vectors) and the mbucket= dirs of its candidates, a
    filtered get opens only meta dirs, and neither ever opens the
    source documents/embeddings parquet — the collection root is the
    corpus of record."""
    from adk_noui_vectordb_spark.api import collection as capi

    coll = capi.demo_collection(spark, sf_dir)
    cur = coll._cur()
    seen = opened_dirs
    capi.collection_query_topk(spark, sf_dir).collect()
    assert seen and all(p.startswith(cur + os.sep) for p in seen), seen
    comps = {os.path.relpath(p, cur).split(os.sep)[0] for p in seen}
    assert comps == {"vecs", "meta"}, seen
    assert not any("documents" in p or "embeddings" in p for p in seen)

    seen.clear()
    coll.get(where={"lang": {"$in": ["en", "de"]}}, limit=5).collect()
    assert seen and all(
        os.path.relpath(p, cur).startswith("meta" + os.sep) for p in seen
    ), seen


def test_collection_keyset_page_pushes_cursor_to_scan(spark, sf_dir, opened_dirs):
    """get(after_id=...) serves the page after the cursor from the meta
    partitions alone — the default get() projection opens no vecs/ dir
    (the docvalues split: no fat column)."""
    from adk_noui_vectordb_spark.api.collection import demo_collection

    coll = demo_collection(spark, sf_dir)
    seen = opened_dirs
    page = [r["id"] for r in coll.get(limit=5, after_id="doc-1").collect()]
    everything = [r["id"] for r in coll.get().collect()]
    assert page == [i for i in everything if i > "doc-1"][:5]
    assert seen and not any("/vecs/" in p for p in seen), seen


def test_collection_reads_run_no_spark_jobs(spark, sf_dir, stored):
    """Warm serving reads run ZERO Spark jobs: query (probe, filtered,
    batch, and the graph strategy's blind, ACORN and batch walks), get
    by ids, keyset-paged get(where, after_id) and count read memoized
    partitions on the driver and return a local DataFrame whose
    collect() schedules nothing."""
    from adk_noui_vectordb_spark.api.collection import demo_collection

    coll = demo_collection(spark, sf_dir)
    q = [r["emb"] for r in stored.vecs(coll._cur()).limit(2).collect()]
    reads = {
        "query.probe": lambda: coll.query(q[0], n_results=5).collect(),
        "query.filtered": lambda: coll.query(
            q[0], n_results=5, where={"lang": "en"}
        ).collect(),
        "query.batch": lambda: coll.query(q, n_results=5).collect(),
        "query.graph": lambda: coll.query(
            q[0], n_results=5, filter_strategy="graph"
        ).collect(),
        "query.graph_acorn": lambda: coll.query(
            q[0],
            n_results=5,
            where={"lang": "en"},
            filter_strategy="graph",
            graph_predicate_expansion=True,
        ).collect(),
        "query.graph_batch": lambda: coll.query(
            q, n_results=5, filter_strategy="graph"
        ).collect(),
        "get.ids": lambda: coll.get(ids=["doc-1", "doc-7"]).collect(),
        "get.where": lambda: coll.get(
            where={"lang": "en"}, after_id="doc-1", limit=5
        ).collect(),
        "count": coll.count,
    }
    sc = spark.sparkContext
    failures = []
    for name, read in reads.items():
        read()  # warm: partition memos
        group = f"read-jobs-{name}"
        sc.setJobGroup(group, name)
        try:
            read()
        finally:
            sc.setJobGroup(None, None)
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        if n:
            failures.append(f"{name}: {n} jobs")
    assert not failures, "; ".join(failures)


def test_collection_reads_make_no_py4j_call(spark, sf_dir, py4j_calls, stored):
    """Warm serving reads — the read set of
    test_collection_reads_run_no_spark_jobs plus peek — make no py4j
    call, the result's collect() included: the rows come from the
    driver-held Arrow table, never through the JVM."""
    from adk_noui_vectordb_spark.api.collection import demo_collection

    coll = demo_collection(spark, sf_dir)
    q = [r["emb"] for r in stored.vecs(coll._cur()).limit(2).collect()]
    reads = {
        "query.probe": lambda: coll.query(q[0], n_results=5).collect(),
        "query.filtered": lambda: coll.query(
            q[0], n_results=5, where={"lang": "en"}
        ).collect(),
        "query.batch": lambda: coll.query(q, n_results=5).collect(),
        "query.graph": lambda: coll.query(
            q[0], n_results=5, filter_strategy="graph"
        ).collect(),
        "query.graph_acorn": lambda: coll.query(
            q[0],
            n_results=5,
            where={"lang": "en"},
            filter_strategy="graph",
            graph_predicate_expansion=True,
        ).collect(),
        "query.graph_batch": lambda: coll.query(
            q, n_results=5, filter_strategy="graph"
        ).collect(),
        "get.ids": lambda: coll.get(ids=["doc-1", "doc-7"]).collect(),
        "get.where": lambda: coll.get(
            where={"lang": "en"}, after_id="doc-1", limit=5
        ).collect(),
        "count": coll.count,
        "peek": lambda: coll.peek().collect(),
    }
    failures = []
    for name, read in reads.items():
        read()  # warm: listings and partition memos
        with py4j_calls() as n:
            assert read()
        if n[0]:
            failures.append(f"{name}: {n[0]} py4j calls")
    assert not failures, "; ".join(failures)


def test_cold_graph_query_runs_no_spark_job(spark, tmp_path, py4j_calls):
    """The graph is built on the driver: the first graph query of a
    fresh version runs 0 Spark jobs and makes 0 py4j calls, and an
    ``at(v)`` view's graph query ranks that version's vectors."""
    import numpy as np
    import pandas as pd

    from adk_noui_vectordb_spark.api.collection import Collection

    rng = np.random.default_rng(5)
    mat = rng.normal(size=(300, 16))

    def batch(ids, rows):
        return spark.createDataFrame(
            pd.DataFrame({"id": ids, "embedding": [list(r) for r in rows]})
        )

    coll = Collection(spark, str(tmp_path / "cold"))
    v0 = coll.add(batch([f"r{i}" for i in range(300)], mat))
    coll.update(batch(["r5"], -mat[5:6]))
    q = [float(x) for x in mat[5]]
    sc = spark.sparkContext
    sc.setJobGroup("cold-graph", "first graph query of a version")
    try:
        with py4j_calls() as n:
            got = coll.query(q, n_results=3, filter_strategy="graph").collect()
    finally:
        sc.setJobGroup(None, None)
    assert n[0] == 0, f"{n[0]} py4j calls"
    assert not sc.statusTracker().getJobIdsForGroup("cold-graph")
    assert "r5" not in {r["id"] for r in got}
    old = coll.at(os.path.basename(v0)).query(
        q, n_results=3, filter_strategy="graph"
    ).collect()
    assert (old[0]["id"], old[0]["distance"]) == ("r5", 0.0)


def test_sampled_ivf_probe_prunes_cells_and_takeordered(spark, sf_dir):
    """The sample-trained index serves with literal nprobe cell
    PartitionFilters on the assignment scan and TakeOrderedAndProject for
    the exact rerank."""
    from adk_noui_vectordb_spark.operators import ann

    df = ann.ann_ivf_sampled_topk(spark, sf_dir)
    plan = explain_str(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l and "cluster" in l]
    assert pf, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_serving_path_job_budgets(spark, sf_dir):
    """VERDICT r16 next #3: machine-independent pins for the multi-job
    serving families. Seconds are bench weather; Spark JOB counts are
    scheduler round-trips and reproduce anywhere — so each key's
    WARM-serve job count is pinned as a ceiling. Budgets: the
    containment gate is its measured warm count + 2 slack (sf0.001:
    15); the collection graph key is pinned at
    its measured 2, both from reading the demo query vector
    (``_demo_query``'s head); the beam itself reads the graph version
    on the driver and runs none. A regression that re-adds a per-round
    fetch or an eager prologue job fails the pin, not a bench."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "collection_query_graph_topk": 2,
        "dedup_containment_gate": 17,
    }
    sc = spark.sparkContext
    failures = []
    for key, budget in budgets.items():
        qs[key](spark, sf_dir).collect()  # warm: index builds + memos
        group = f"job-budget-{key}"
        sc.setJobGroup(group, key)
        try:
            qs[key](spark, sf_dir).collect()
        finally:
            sc.setJobGroup(None, None)
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        if n > budget:
            failures.append(f"{key}: {n} jobs (budget {budget})")
    assert not failures, "; ".join(failures)


def test_local_writes_make_only_intake_py4j_calls(spark, tmp_path, py4j_calls):
    """An upsert of a pandas batch and a metadata-only partial update
    commit on the driver: each makes exactly the py4j calls of its
    batch's intake (``Collection._intake``: the schema and one
    ``collect``), and none after it."""
    import numpy as np
    import pandas as pd

    from adk_noui_vectordb_spark.api.collection import Collection

    rng = np.random.default_rng(9)

    def upsert_batch(ids):
        pdf = pd.DataFrame(
            {
                "id": ids,
                "embedding": [rng.normal(size=8) for _ in ids],
                "document": [f"doc {i}" for i in ids],
                "n": pd.array(range(len(ids)), dtype="int32"),
            }
        )
        return spark.createDataFrame(
            pdf, "id string, embedding array<double>, document string, n int"
        )

    def update_batch(ids):
        pdf = pd.DataFrame({"id": ids, "n": pd.array([7] * len(ids), dtype="int32")})
        return spark.createDataFrame(pdf, "id string, n int")

    coll = Collection(spark, str(tmp_path / "w"))
    coll.add(upsert_batch([f"r{i:02d}" for i in range(40)]))
    ids = [f"r{i:02d}" for i in range(0, 40, 4)] + ["x1", "x2"]
    calls = {}
    for name, make, write in (
        ("upsert", upsert_batch, coll.upsert),
        ("update", update_batch, coll.update),
    ):
        rows = ids[:-2] if name == "update" else ids
        alone, written = make(rows), make(rows)
        with py4j_calls() as intake:
            Collection._intake(alone)
        with py4j_calls() as n:
            write(written)
        calls[name] = (n[0], intake[0])
    assert calls["upsert"][0] == calls["upsert"][1], calls
    assert calls["update"][0] == calls["update"][1], calls
    got = {r["id"]: r["n"] for r in coll.get(ids=ids).collect()}
    assert got == {i: 7 for i in ids[:-2]} | {"x1": 10, "x2": 11}
