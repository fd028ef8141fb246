"""Inverted-index serving lifecycle (operators/invindex.py).

The lexical twin of the vector serving tests: build-once/serve-many,
derived-constant parity between the Spark bucket expression and the
client-side Python helper, and ranking equality with the scan-time BM25.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from adk_noui_vectordb_spark.operators import hybrid, invindex


def test_term_bucket_expr_matches_python(spark):
    """The build writes tbucket with the Spark expression; the probe
    computes buckets client-side in Python — the two md5 derivations
    must agree on every term or pruning silently drops postings."""
    terms = ["join", "scan", "window", "the", "", "naïve-ütf", "x" * 50]
    df = spark.createDataFrame([(t,) for t in terms], "term string").select(
        "term", invindex.term_bucket_expr(F.col("term")).alias("b")
    )
    got = {r["term"]: r["b"] for r in df.collect()}
    for t in terms:
        assert got[t] == invindex.term_bucket_py(t), t


def test_served_bm25_equals_scan_bm25(spark, sf_dir):
    """Same ranking, same 4-dp scores, same tie-breaks — the index moves
    the postings, not the arithmetic."""
    a = [tuple(r) for r in hybrid.bm25_topk(spark, sf_dir).collect()]
    b = [tuple(r) for r in invindex.bm25_topk_served(spark, sf_dir).collect()]
    assert a == b
    assert len(a) == 10


def test_build_is_idempotent_and_memoized_on_disk(spark, sf_dir):
    """A second build resolves the existing _CURRENT pointer — same
    version dir, pointer file untouched (r9 versioned-commit layout)."""
    ver1 = invindex.build_text_index(spark, sf_dir)
    cur_p = os.path.join(os.path.dirname(ver1), "_CURRENT")
    assert os.path.exists(cur_p)
    assert os.path.basename(ver1) == open(cur_p).read().strip()
    mtime = os.path.getmtime(cur_p)
    ver2 = invindex.build_text_index(spark, sf_dir)
    assert ver2 == ver1
    assert os.path.getmtime(cur_p) == mtime


def test_postings_match_direct_computation(spark, sf_dir):
    """Index content equals a from-scratch tf/dl computation over the
    corpus (the probed subset — the only part a query ever reads)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = F.split(F.col("text"), " ")
    direct = (
        docs.select(
            "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term")
        )
        .filter(F.col("term").isin(list(invindex.QUERY_TERMS)))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in invindex.inverted_postings_rows(spark, sf_dir).collect()
    }
    want = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in direct.collect()
    }
    assert got == want
    assert len(got) > 0


def test_stats_cover_whole_corpus(spark, sf_dir):
    """n_docs/tot_dl in the index equal the corpus totals — every doc
    yields >= 1 posting row (split() never returns an empty array), so
    deriving stats from the written postings loses nothing."""
    root = invindex.build_text_index(spark, sf_dir)
    srow = spark.read.parquet(os.path.join(root, "stats")).head()
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    want = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("dl"),
    ).head()
    assert srow["n_docs"] == want["n"]
    assert srow["tot_dl"] == want["dl"]


def test_incremental_update_equals_fresh_build(spark, sf_dir, tmp_path):
    """Splitting the corpus into base + batch, building on base and
    incrementally merging the batch must yield byte-equal postings,
    termstats, and stats to a from-scratch build over everything —
    while rewriting only the buckets the batch's terms touch."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base_dir, all_dir = str(tmp_path / "base"), str(tmp_path / "all")
    os.makedirs(base_dir), os.makedirs(all_dir)
    docs.filter(F.col("doc_id") % 5 != 0).write.parquet(
        os.path.join(base_dir, "documents.parquet")
    )
    docs.write.parquet(os.path.join(all_dir, "documents.parquet"))
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    root_inc = invindex.update_text_index(spark, base_dir, batch)
    root_all = invindex.build_text_index(spark, all_dir)

    def postings(root):
        return {
            (r["term"], r["doc_id"]): (r["tf"], r["dl"], r["tbucket"])
            for r in spark.read.parquet(os.path.join(root, "postings")).collect()
        }

    def termstats(root):
        return {
            r["term"]: (r["df"], r["tbucket"])
            for r in spark.read.parquet(os.path.join(root, "termstats")).collect()
        }

    assert postings(root_inc) == postings(root_all)
    assert termstats(root_inc) == termstats(root_all)
    s_inc = spark.read.parquet(os.path.join(root_inc, "stats")).head()
    s_all = spark.read.parquet(os.path.join(root_all, "stats")).head()
    assert (s_inc["n_docs"], s_inc["tot_dl"]) == (
        s_all["n_docs"],
        s_all["tot_dl"],
    )


def test_incremental_update_touches_only_affected_buckets(spark, sf_dir, tmp_path):
    """A single-document batch must leave every unaffected postings
    partition file untouched on disk (same inode mtimes)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base_dir = str(tmp_path / "base2")
    os.makedirs(base_dir)
    docs.write.parquet(os.path.join(base_dir, "documents.parquet"))
    root = invindex.build_text_index(spark, base_dir)
    post_p = os.path.join(root, "postings")

    one = spark.createDataFrame(
        [(10_000_000, "zzz-unique-term")], "doc_id bigint, text string"
    )
    affected = {invindex.term_bucket_py("zzz-unique-term")}
    before = {}
    for d in os.listdir(post_p):
        if d.startswith("tbucket="):
            p = os.path.join(post_p, d)
            before[d] = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
    invindex.update_text_index(spark, base_dir, one)
    for d, mt in before.items():
        b = int(d.split("=")[1])
        if b not in affected:
            p = os.path.join(post_p, d)
            now = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
            assert now == mt, f"bucket {b} rewritten by unrelated update"


def test_term_bucket_property_parity(spark):
    """Hypothesis: the Spark md5 bucket expression equals the Python
    helper for arbitrary printable-unicode terms — the derived-constant
    parity that static pruning depends on, beyond the fixed examples."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    terms_strategy = st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), max_codepoint=0x2FFF
            ),
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=12,
        unique=True,
    )

    @settings(max_examples=15, deadline=None)
    @given(terms_strategy)
    def check(terms):
        df = spark.createDataFrame(
            [(t,) for t in terms], "term string"
        ).select("term", invindex.term_bucket_expr(F.col("term")).alias("b"))
        got = {r["term"]: r["b"] for r in df.collect()}
        for t in terms:
            assert got[t] == invindex.term_bucket_py(t), repr(t)

    check()


def _postings_map(spark, ver):
    return {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in spark.read.parquet(os.path.join(ver, "postings")).collect()
    }


def test_resubmitting_same_batch_is_a_noop(spark, sf_dir, tmp_path):
    """Doc-level replace semantics (VERDICT r8 next #5): submitting the
    SAME batch twice leaves every tf/dl — and df and corpus stats —
    unchanged, where the old additive merge double-counted."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base_dir = str(tmp_path / "base")
    os.makedirs(base_dir)
    docs.write.parquet(os.path.join(base_dir, "documents.parquet"))
    batch = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")

    v1 = invindex.update_text_index(spark, base_dir, batch)
    p1 = _postings_map(spark, v1)
    t1 = {
        (r["term"], r["tbucket"]): r["df"]
        for r in spark.read.parquet(os.path.join(v1, "termstats")).collect()
    }
    s1 = spark.read.parquet(os.path.join(v1, "stats")).head()

    v2 = invindex.update_text_index(spark, base_dir, batch)
    assert v2 != v1  # a new version was committed...
    assert _postings_map(spark, v2) == p1  # ...with identical content
    t2 = {
        (r["term"], r["tbucket"]): r["df"]
        for r in spark.read.parquet(os.path.join(v2, "termstats")).collect()
    }
    s2 = spark.read.parquet(os.path.join(v2, "stats")).head()
    assert t2 == t1
    assert (s2["n_docs"], s2["tot_dl"]) == (s1["n_docs"], s1["tot_dl"])


def test_update_replaces_changed_doc_and_retracts_stale_terms(spark, tmp_path):
    """Re-submitting a doc with NEW text retracts its old postings even
    in term buckets the new text never touches — the docs/ reverse map
    names the stale buckets without an index scan."""
    base_dir = str(tmp_path / "rbase")
    os.makedirs(base_dir)
    spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "gamma delta")],
        "doc_id bigint, text string",
    ).write.parquet(os.path.join(base_dir, "documents.parquet"))
    v0 = invindex.build_text_index(spark, base_dir)
    assert ("beta", 1) in _postings_map(spark, v0)

    new = spark.createDataFrame(
        [(1, "epsilon")], "doc_id bigint, text string"
    )
    v1 = invindex.update_text_index(spark, base_dir, new)
    p = _postings_map(spark, v1)
    assert p[("epsilon", 1)] == (1, 1)
    assert ("alpha", 1) not in p and ("beta", 1) not in p  # stale retracted
    assert p[("gamma", 2)] == (1, 2)  # untouched doc intact
    s = spark.read.parquet(os.path.join(v1, "stats")).head()
    assert (s["n_docs"], s["tot_dl"]) == (2, 3)  # doc1 now dl=1, doc2 dl=2


def test_crash_before_current_swing_preserves_old_version(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Atomic multi-file commit (VERDICT r8 next #4): inject a crash
    after the new version dir is fully written but before the _CURRENT
    pointer swing — every reader still resolves the OLD, internally
    consistent version, and simply re-running the update succeeds."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base_dir = str(tmp_path / "cbase")
    os.makedirs(base_dir)
    docs.write.parquet(os.path.join(base_dir, "documents.parquet"))
    v0 = invindex.build_text_index(spark, base_dir)
    before = _postings_map(spark, v0)
    served_before = [
        tuple(r) for r in invindex.bm25_topk_served(spark, base_dir).collect()
    ]
    batch = spark.createDataFrame(
        [(10_000_001, "hello world hello")], "doc_id bigint, text string"
    )

    from adk_noui_vectordb_spark.sources import versioning

    real = versioning.point_current

    def boom(root, name):
        raise RuntimeError("injected crash before commit point")

    monkeypatch.setattr(versioning, "point_current", boom)
    try:
        invindex.update_text_index(spark, base_dir, batch)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.setattr(versioning, "point_current", real)

    # reader view: unchanged, consistent
    v_now = invindex.build_text_index(spark, base_dir)
    assert v_now == v0
    assert _postings_map(spark, v_now) == before
    assert [
        tuple(r) for r in invindex.bm25_topk_served(spark, base_dir).collect()
    ] == served_before

    # recovery is just re-running the idempotent update
    v1 = invindex.update_text_index(spark, base_dir, batch)
    assert v1 != v0
    assert _postings_map(spark, v1)[("hello", 10_000_001)] == (2, 3)


def test_version_gc_keeps_current_and_previous(spark, sf_dir, tmp_path):
    """Retention: after several updates only the current and previous
    versions remain on disk (readers mid-query on the previous version
    keep valid handles); stale tmp dirs are swept."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base_dir = str(tmp_path / "gbase")
    os.makedirs(base_dir)
    docs.write.parquet(os.path.join(base_dir, "documents.parquet"))
    invindex.build_text_index(spark, base_dir)
    ver = None
    for i in range(3):
        batch = spark.createDataFrame(
            [(20_000_000 + i, f"word{i} filler")], "doc_id bigint, text string"
        )
        ver = invindex.update_text_index(spark, base_dir, batch)
    root = os.path.dirname(ver)
    versions = sorted(d for d in os.listdir(root) if d.startswith("v_"))
    assert versions == ["v_000002", "v_000003"]
    assert not [d for d in os.listdir(root) if d.startswith(".__tmp_")]


def test_compact_text_index_preserves_content(spark, sf_dir, tmp_path):
    """Compaction (threshold=0 forces every partition) must preserve the
    postings/termstats/docs/stats content EXACTLY, leave at most one
    part file per partition dir, and publish as a normal versioned
    commit (pointer bumped, old version retained for in-flight
    readers)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base_dir = str(tmp_path / "compbase")
    os.makedirs(base_dir)
    docs.filter(F.col("doc_id") % 3 != 0).write.parquet(
        os.path.join(base_dir, "documents.parquet")
    )
    invindex.build_text_index(spark, base_dir)
    invindex.update_text_index(
        spark, base_dir, docs.filter(F.col("doc_id") % 3 == 0)
    )
    v_before = invindex.build_text_index(spark, base_dir)
    before = _postings_map(spark, v_before)
    served_before = [
        tuple(r) for r in invindex.bm25_topk_served(spark, base_dir).collect()
    ]

    v_after = invindex.compact_text_index(spark, base_dir, threshold=0)
    assert v_after != v_before
    assert _postings_map(spark, v_after) == before
    assert [
        tuple(r) for r in invindex.bm25_topk_served(spark, base_dir).collect()
    ] == served_before
    for comp in ("postings", "termstats", "docs"):
        croot = os.path.join(v_after, comp)
        for d in os.listdir(croot):
            dp = os.path.join(croot, d)
            if os.path.isdir(dp):
                n = sum(1 for f in os.listdir(dp) if f.startswith("part-"))
                assert n <= 1, (comp, d, n)

    # below-threshold compaction is a no-op commit-wise
    assert invindex.compact_text_index(spark, base_dir, threshold=64) == v_after


def test_delete_from_text_index_retracts_everything(spark, sf_dir, tmp_path):
    """Deleting docs must equal a fresh build over the corpus WITHOUT
    them — postings, termstats and stats all retract; deleting an
    absent id is a no-op (same version returned)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    full_dir = str(tmp_path / "delfull")
    rest_dir = str(tmp_path / "delrest")
    os.makedirs(full_dir), os.makedirs(rest_dir)
    docs.write.parquet(os.path.join(full_dir, "documents.parquet"))
    docs.filter(F.col("doc_id") % 7 != 0).write.parquet(
        os.path.join(rest_dir, "documents.parquet")
    )
    invindex.build_text_index(spark, full_dir)
    victims = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    v_del = invindex.delete_from_text_index(spark, full_dir, victims)
    v_ref = invindex.build_text_index(spark, rest_dir)

    assert _postings_map(spark, v_del) == _postings_map(spark, v_ref)
    ts = lambda v: {
        (r["term"], r["tbucket"]): r["df"]
        for r in spark.read.parquet(os.path.join(v, "termstats")).collect()
    }
    assert ts(v_del) == ts(v_ref)
    s_del = spark.read.parquet(os.path.join(v_del, "stats")).head()
    s_ref = spark.read.parquet(os.path.join(v_ref, "stats")).head()
    assert (s_del["n_docs"], s_del["tot_dl"]) == (
        s_ref["n_docs"],
        s_ref["tot_dl"],
    )

    absent = spark.createDataFrame([(99_999_999,)], "doc_id bigint")
    assert invindex.delete_from_text_index(spark, full_dir, absent) == v_del


def test_reader_snapshot_survives_concurrent_commit(spark, sf_dir, tmp_path):
    """Snapshot isolation for in-flight readers: a DataFrame resolved
    against the current version keeps collecting correctly AFTER an
    update commits a new version, because retention keeps the previous
    version's files on disk (gc keep=2)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base_dir = str(tmp_path / "snapbase")
    os.makedirs(base_dir)
    docs.write.parquet(os.path.join(base_dir, "documents.parquet"))
    v0 = invindex.build_text_index(spark, base_dir)
    reader = spark.read.parquet(os.path.join(v0, "postings"))
    n_before = reader.count()

    batch = spark.createDataFrame(
        [(40_000_000, "snapshot isolation term")], "doc_id bigint, text string"
    )
    v1 = invindex.update_text_index(spark, base_dir, batch)
    assert v1 != v0
    # the old snapshot still reads its own consistent version in full
    assert reader.count() == n_before
    assert os.path.isdir(v0)


def test_describe_index_reports_lifecycle_state(spark, sf_dir, tmp_path):
    """describe_index reports the current pointer, retained versions,
    component partition/file/byte counts, and flags orphan tmp dirs."""
    from adk_noui_vectordb_spark.sources.versioning import describe_index

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base_dir = str(tmp_path / "descbase")
    os.makedirs(base_dir)
    docs.write.parquet(os.path.join(base_dir, "documents.parquet"))
    v0 = invindex.build_text_index(spark, base_dir)
    root = os.path.dirname(v0)
    invindex.update_text_index(
        spark,
        base_dir,
        spark.createDataFrame([(50_000_000, "desc probe text")],
                              "doc_id bigint, text string"),
    )
    d = describe_index(root)
    assert d["current"] == "v_000001"
    assert d["versions"] == ["v_000000", "v_000001"]
    assert d["orphan_tmp_dirs"] == []
    for comp in ("postings", "termstats", "docs", "stats"):
        assert comp in d["components"], d["components"]
        assert d["components"][comp]["data_files"] >= 1
        assert d["components"][comp]["bytes"] > 0
    assert d["components"]["postings"]["partitions"] >= 1


def test_empty_index_state_serves_and_recovers(spark, tmp_path):
    """Delete-EVERYTHING is a legal index state (the r9 hypothesis
    finding): serving against it returns 0 rows (no schema-inference
    crash), compaction no-ops, and a subsequent update re-populates and
    serves again — the product-level pins VERDICT r9 next #1 asked for."""
    base = str(tmp_path / "emptybase")
    os.makedirs(base)
    spark.createDataFrame(
        [
            (1, "alpha beta", "en", "pin", 10),
            (2, "beta gamma", "en", "pin", 10),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.parquet(os.path.join(base, "documents.parquet"))
    invindex.build_text_index(spark, base)
    v_del = invindex.delete_from_text_index(
        spark, base, spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    )

    # every serving path answers the empty state with 0 rows
    assert (
        invindex.bm25_topk_served(spark, base, terms=("alpha", "beta")).count()
        == 0
    )
    assert (
        invindex.inverted_postings_rows(spark, base, terms=("alpha",)).count()
        == 0
    )
    assert invindex.text_index_doc_map(spark, base).count() == 0
    s = spark.read.parquet(os.path.join(v_del, "stats")).head()
    assert (s["n_docs"], s["tot_dl"]) == (0, 0)

    # compacting the empty state commits nothing (no empty versions)
    assert invindex.compact_text_index(spark, base, threshold=0) == v_del

    # a subsequent update re-populates and the index serves again
    invindex.update_text_index(
        spark,
        base,
        spark.createDataFrame(
            [(3, "alpha alpha")], "doc_id bigint, text string"
        ),
    )
    served = invindex.bm25_topk_served(
        spark, base, terms=("alpha", "beta")
    ).collect()
    assert [r["doc_id"] for r in served] == [3]


def test_update_with_zero_term_text_retracts_doc(spark, tmp_path):
    """ADVICE r9 (low): re-submitting a doc whose new text tokenizes to
    ZERO terms (NULL text — explode of a null token array emits no rows)
    must still retract its old postings, docs entry and stats
    contribution, equaling a fresh build over the combined corpus (where
    a null-text doc indexes nowhere). Pre-fix the batch doc set was
    derived from the batch POSTINGS, so the doc was silently kept."""
    base = str(tmp_path / "zerobase")
    os.makedirs(base)
    spark.createDataFrame(
        [(1, "hello world", "en", "pin", 11), (2, "keep me", "en", "pin", 7)],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.parquet(os.path.join(base, "documents.parquet"))
    invindex.build_text_index(spark, base)
    v1 = invindex.update_text_index(
        spark,
        base,
        spark.createDataFrame([(1, None)], "doc_id bigint, text string"),
    )
    post = {
        (r["term"], r["doc_id"])
        for r in spark.read.schema(invindex.POSTINGS_SCHEMA)
        .parquet(os.path.join(v1, "postings"))
        .collect()
    }
    assert post == {("keep", 2), ("me", 2)}
    docs_ids = {
        r["doc_id"]
        for r in spark.read.schema(invindex.DOCS_SCHEMA)
        .parquet(os.path.join(v1, "docs"))
        .collect()
    }
    assert docs_ids == {2}
    ts = {
        r["term"]
        for r in spark.read.schema(invindex.TERMSTATS_SCHEMA)
        .parquet(os.path.join(v1, "termstats"))
        .collect()
    }
    assert ts == {"keep", "me"}
    s = spark.read.parquet(os.path.join(v1, "stats")).head()
    assert (s["n_docs"], s["tot_dl"]) == (1, 2)


def test_boolean_semantics_against_corpus(spark, sf_dir):
    """AND / OR / NOT agree with per-document token membership computed
    straight from the corpus (the brute-force definition)."""
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators import invindex
    from adk_noui_vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    member = {
        r["doc_id"]: (
            r["j"] > 0, r["s"] > 0, r["w"] > 0
        )
        for r in toks.select(
            "doc_id",
            F.size(F.filter("t", lambda x: x == F.lit("join"))).alias("j"),
            F.size(F.filter("t", lambda x: x == F.lit("scan"))).alias("s"),
            F.size(F.filter("t", lambda x: x == F.lit("window"))).alias("w"),
        ).collect()
    }
    n_and = sum(1 for j, s, w in member.values() if j and s and w)
    n_ornot = sum(1 for j, s, w in member.values() if (j or s) and not w)

    got_and = invindex.boolean_topk_served(
        spark, sf_dir, must_all=("join", "scan", "window"), k=10**6
    ).collect()
    assert len(got_and) == n_and
    assert all(member[r["doc_id"]] == (True, True, True) for r in got_and)

    got_ornot = invindex.boolean_topk_served(
        spark, sf_dir, must_any=("join", "scan"), must_not=("window",),
        k=10**6,
    ).collect()
    assert len(got_ornot) == n_ornot
    for r in got_ornot:
        j, s, w = member[r["doc_id"]]
        assert (j or s) and not w

    # ranking is exact-integer: tf_total descends, doc_id breaks ties
    tot = [(r["tf_total"], -r["doc_id"]) for r in got_and]
    assert tot == sorted(tot, reverse=True)


def test_phrase_repeated_term_and_adjacency_semantics(spark, tmp_path):
    """Hand-built corpus pins phrase-match edge cases: repeated phrase
    terms (every offset of 'a' must vote), overlapping occurrences, and
    non-adjacent term pairs NOT matching."""
    import os

    from adk_noui_vectordb_spark.operators import invindex

    base = str(tmp_path / "phrasesrc")
    os.makedirs(base)
    spark.createDataFrame(
        [
            (0, "a b a b a", "en", "t", 9),   # 'a b' at 1,3 -> tf 2
            (1, "a x b a b", "en", "t", 9),   # 'a b' at 4 only
            (2, "b a x x x", "en", "t", 9),   # reversed — no match
            (3, "a a a x x", "en", "t", 9),   # 'a a' twice, no 'a b'
        ],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.parquet(os.path.join(base, "documents.parquet"))

    ab = {
        r["doc_id"]: r["phrase_tf"]
        for r in invindex.phrase_topk_served(
            spark, base, phrase=("a", "b")
        ).collect()
    }
    assert ab == {0: 2, 1: 1}

    # repeated-term phrase: 'a a' occurs at 1 and 2 in doc 3 (overlap ok)
    aa = {
        r["doc_id"]: r["phrase_tf"]
        for r in invindex.phrase_topk_served(
            spark, base, phrase=("a", "a")
        ).collect()
    }
    assert aa == {0: 0, 3: 2} or aa == {3: 2}, aa

    # trigram across the repeated pattern
    aba = {
        r["doc_id"]: r["phrase_tf"]
        for r in invindex.phrase_topk_served(
            spark, base, phrase=("a", "b", "a")
        ).collect()
    }
    assert aba == {0: 2}, aba


def test_phrase_survives_update_and_delete(spark, tmp_path):
    """Lifecycle: an upserted doc's phrase occurrences serve; a doc
    REPLACE retracts its old positions; deletion removes it entirely."""
    import os

    from adk_noui_vectordb_spark.operators import invindex

    base = str(tmp_path / "phraselc")
    os.makedirs(base)
    spark.createDataFrame(
        [(0, "window join window join", "en", "t", 23)],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.parquet(os.path.join(base, "documents.parquet"))
    invindex.build_text_index(spark, base)

    got = {
        r["doc_id"]: r["phrase_tf"]
        for r in invindex.phrase_topk_served(spark, base).collect()
    }
    assert got == {0: 2}

    # new doc with one occurrence + replace doc 0 with a phrase-free text
    invindex.update_text_index(
        spark,
        base,
        spark.createDataFrame(
            [(0, "join window x"), (1, "y window join")],
            "doc_id bigint, text string",
        ),
    )
    got = {
        r["doc_id"]: r["phrase_tf"]
        for r in invindex.phrase_topk_served(spark, base).collect()
    }
    assert got == {1: 1}, got

    invindex.delete_from_text_index(
        spark, base, spark.createDataFrame([(1,)], "doc_id bigint")
    )
    assert invindex.phrase_topk_served(spark, base).collect() == []

    # fsck stays green through the whole lifecycle, incl. positions<->tf
    checks = invindex.fsck_text_index(spark, base)
    assert all(ok for _c, ok, _d in checks), checks


def test_prefix_expansion_cap_and_empty_prefix(spark, tmp_path):
    """Expansion picks the max_expansions highest-df terms (df DESC,
    term ASC — deterministic), a no-match prefix returns an empty
    frame, and expansion survives an update that shifts df order."""
    import os

    from adk_noui_vectordb_spark.operators import invindex

    base = str(tmp_path / "prefixsrc")
    os.makedirs(base)
    spark.createDataFrame(
        [
            (0, "sa sa sb sc x", "en", "t", 13),
            (1, "sa sb sb x x", "en", "t", 12),
            (2, "sc x x x x", "en", "t", 10),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.parquet(os.path.join(base, "documents.parquet"))

    # df: sa=2 sb=2 sc=2 -> cap 2 keeps (sa, sb) by term tiebreak
    got = {
        r["doc_id"]: r["tf_total"]
        for r in invindex.prefix_topk_served(
            spark, base, prefix="s", max_expansions=2
        ).collect()
    }
    assert got == {0: 3, 1: 3}, got  # doc0: sa*2+sb, doc1: sa+sb*2; sc excluded

    assert (
        invindex.prefix_topk_served(spark, base, prefix="zz").collect() == []
    )

    # an upsert raising sc's df into the cap changes the expansion
    invindex.update_text_index(
        spark,
        base,
        spark.createDataFrame(
            [(3, "sc sc sc"), (4, "sc y")], "doc_id bigint, text string"
        ),
    )
    got = {
        r["doc_id"]: r["tf_total"]
        for r in invindex.prefix_topk_served(
            spark, base, prefix="sc", max_expansions=2
        ).collect()
    }
    assert got == {3: 3, 0: 1, 2: 1, 4: 1}, got


def test_proximity_window_semantics(spark, tmp_path):
    """Min-distance metric on a hand corpus: either order counts, the
    window excludes far pairs, absent-term docs never appear."""
    import os

    from adk_noui_vectordb_spark.operators import invindex

    base = str(tmp_path / "proxsrc")
    os.makedirs(base)
    spark.createDataFrame(
        [
            (0, "u v x x x x x x x x", "en", "t", 1),   # dist 1
            (1, "v x x u x x x x x x", "en", "t", 1),   # dist 3 (reversed)
            (2, "u x x x x x x x x v", "en", "t", 1),   # dist 9 — outside
            (3, "u u x v x x x x x x", "en", "t", 1),   # min over pairs = 2
            (4, "u x x x x x x x x x", "en", "t", 1),   # v absent
        ],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.parquet(os.path.join(base, "documents.parquet"))

    got = {
        r["doc_id"]: r["min_dist"]
        for r in invindex.proximity_topk_served(
            spark, base, term_a="u", term_b="v", window=5
        ).collect()
    }
    assert got == {0: 1, 1: 3, 3: 2}, got


def test_highlight_picks_densest_window(spark, tmp_path):
    """Hand corpus: the chosen window maximizes covered hits; earliest
    window wins ties; the snippet start is a real hit position."""
    import os

    from adk_noui_vectordb_spark.operators import invindex

    base = str(tmp_path / "hlsrc")
    os.makedirs(base)
    # terms u,v; width 4
    spark.createDataFrame(
        [
            # hits at 1, 5, 6, 7 -> window [5,8] covers 3
            (0, "u x x x u v u x x x", "en", "t", 1),
            # hits at 1, 4: windows [1,4]={1,4}, [4,7]={4} -> start 1
            (1, "u x x v x x x x x x", "en", "t", 1),
            # single hit
            (2, "x x v x x x x x x x", "en", "t", 1),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.parquet(os.path.join(base, "documents.parquet"))

    got = {
        r["doc_id"]: (r["win_start"], r["n_hits"])
        for r in invindex.search_highlight_served(
            spark, base, terms=("u", "v"), width=4
        ).collect()
    }
    assert got == {0: (5, 3), 1: (1, 2), 2: (3, 1)}, got


def test_batch_bm25_matches_single_query_serving(spark, sf_dir):
    """Each query's slice of the batched result equals the single-query
    served ranking — batching changes the plan, never the contract."""
    from adk_noui_vectordb_spark.operators import invindex

    batch = invindex.bm25_batch_topk_served(spark, sf_dir, k=5).collect()
    for qi, terms in enumerate(invindex.BATCH_QUERIES):
        single = invindex.bm25_topk_served(
            spark, sf_dir, terms=terms, k=5
        ).collect()
        got = [
            (r["doc_id"], r["bm25"])
            for r in sorted(
                (r for r in batch if r["query_id"] == qi),
                key=lambda r: r["rank"],
            )
        ]
        want = [(r["doc_id"], r["bm25"]) for r in single]
        assert got == want, (qi, terms, got, want)


def test_explain_contribs_sum_to_served_score(spark, sf_dir):
    """Every top doc's rounded contribs sum (within rounding slack of
    the 4-dp arms) to its bm25_topk_served score, and (tf, df) match
    the postings/termstats the ranking consumed."""
    from collections import defaultdict

    from adk_noui_vectordb_spark.operators import invindex

    served = {
        r["doc_id"]: r["bm25"]
        for r in invindex.bm25_topk_served(spark, sf_dir, k=3).collect()
    }
    rows = invindex.bm25_explain_served(spark, sf_dir, k=3).collect()
    assert {r["doc_id"] for r in rows} == set(served)
    sums = defaultdict(float)
    for r in rows:
        assert r["tf"] > 0 and r["df"] > 0
        sums[r["doc_id"]] += r["contrib"]
    for doc, s in sums.items():
        # three 4-dp-rounded arms vs the 4-dp-rounded exact sum
        assert abs(s - served[doc]) <= 2e-4, (doc, s, served[doc])


def test_facet_counts_cover_result_set(spark, sf_dir):
    """Each facet's counts sum to the ranked-result size, and every
    (value, n) matches a direct count over the same doc set."""
    from collections import Counter

    from adk_noui_vectordb_spark.operators import invindex
    from adk_noui_vectordb_spark.sources.tables import load_table

    top = {
        r["doc_id"]
        for r in invindex.bm25_topk_served(spark, sf_dir, k=100).collect()
    }
    meta = {
        r["doc_id"]: (r["lang"], r["source"])
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source")
        .collect()
    }
    want_lang = Counter(meta[d][0] for d in top)
    want_src = Counter(meta[d][1] for d in top)
    rows = invindex.search_facet_counts(spark, sf_dir).collect()
    got_lang = {r["value"]: r["n"] for r in rows if r["facet"] == "lang"}
    got_src = {r["value"]: r["n"] for r in rows if r["facet"] == "source"}
    assert got_lang == dict(want_lang)
    assert got_src == dict(want_src)
    assert sum(got_lang.values()) == len(top) == sum(got_src.values())


def test_fuzzy_expansion_distance_cap_and_lifecycle(spark, tmp_path):
    """Fuzzy expansion keeps only terms within max_edit (length-band
    prefiltered), ranks the cap by df, returns empty when nothing is
    near, and sees terms ingested after an upsert."""
    import os

    from adk_noui_vectordb_spark.operators import invindex

    base = str(tmp_path / "fuzzysrc")
    os.makedirs(base)
    spark.createDataFrame(
        [
            (0, "cat cart card x", "en", "t", 15),
            (1, "cat cat dog x x", "en", "t", 15),
            (2, "carp x x x x", "en", "t", 12),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.parquet(os.path.join(base, "documents.parquet"))

    # distance-1 neighborhood of 'cart': cart, card, carp, cat(2? c-a-r-t
    # -> c-a-t is one deletion = 1). df: cat=2, cart=1, card=1, carp=1;
    # cap=2 keeps (cat, card? no — df DESC then term ASC: cat(2), then
    # card/carp/cart tie at 1 -> card first).
    got = {
        r["doc_id"]: r["tf_total"]
        for r in invindex.fuzzy_topk_served(
            spark, base, term="cart", max_edit=1, max_expansions=2
        ).collect()
    }
    assert got == {1: 2, 0: 2}, got  # doc0: cat+card, doc1: cat*2

    # nothing within distance 1 of a far token
    assert (
        invindex.fuzzy_topk_served(spark, base, term="zzzzzz").collect() == []
    )

    # an upsert adds an exact-match term that dominates by df
    invindex.update_text_index(
        spark,
        base,
        spark.createDataFrame(
            [(3, "cart cart cart"), (4, "cart y")],
            "doc_id bigint, text string",
        ),
    )
    got = {
        r["doc_id"]: r["tf_total"]
        for r in invindex.fuzzy_topk_served(
            spark, base, term="cart", max_edit=0, max_expansions=2
        ).collect()
    }
    assert got == {3: 3, 0: 1, 4: 1}, got  # exact-only at max_edit=0


def test_search_after_is_disjoint_continuation(spark, sf_dir):
    """Page 2 starts exactly after page 1: disjoint doc sets, every
    page-2 row ranks strictly after every page-1 row, and page1+page2
    equals the top-20 of a single query."""
    p1 = [tuple(r) for r in invindex.bm25_topk_served(spark, sf_dir, k=10).collect()]
    p2 = [tuple(r) for r in invindex.bm25_search_after(spark, sf_dir, k=10).collect()]
    top20 = [
        tuple(r) for r in invindex.bm25_topk_served(spark, sf_dir, k=20).collect()
    ]
    assert p1 + p2 == top20
    assert {d for d, _ in p1}.isdisjoint({d for d, _ in p2})


def test_msm_interpolates_between_or_and_and(spark, sf_dir):
    """minimum_should_match nests monotonically: msm=1 ⊇ msm=2 ⊇ msm=3
    (at generous k), msm=len(terms) equals the AND result set, and every
    returned doc really matches >= msm of the terms."""
    from adk_noui_vectordb_spark.operators import invindex as inv

    terms = inv.QUERY_TERMS
    big = 10_000
    sets = {
        m: {
            r["doc_id"]: r["n_matched"]
            for r in inv.msm_topk_served(
                spark, sf_dir, terms, min_should_match=m, k=big
            ).collect()
        }
        for m in (1, 2, 3)
    }
    assert set(sets[3]) <= set(sets[2]) <= set(sets[1])
    assert all(n >= 2 for n in sets[2].values())
    and_docs = {
        r["doc_id"]
        for r in inv.boolean_topk_served(
            spark, sf_dir, must_all=terms, k=big
        ).collect()
    }
    assert set(sets[3]) == and_docs
    import pytest

    with pytest.raises(ValueError, match="min_should_match"):
        inv.msm_topk_served(spark, sf_dir, terms, min_should_match=0)


def test_folded_analyzer_index_round_trips(spark, sf_dir, tmp_path):
    """r12 (VERDICT r11 next #7): the folded analyzer is a versioned
    index OPTION — recorded in the version dir, honored by the update
    path (a mismatched-analyzer update raises; a matching one folds its
    batch through the same pipeline), normalizing query terms
    client-side, and cross-checked by fsck."""
    import os

    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.functions.text import analyze_terms_py
    from adk_noui_vectordb_spark.operators import invindex as inv

    # query-term twin: fold + stopword-drop
    assert analyze_terms_py(("Join", "the", "Scan"), "folded") == ("join", "scan")
    assert analyze_terms_py(("Café",), "folded") == ("cafe",)

    cur = inv.build_text_index(spark, sf_dir, analyzer="folded")
    assert inv._read_analyzer(cur) == "folded"
    # serving normalizes: mixed-case + stopword query == pre-folded query
    a = [tuple(r) for r in inv.bm25_topk_served(
        spark, sf_dir, terms=("Join", "the", "Scan", "window"), analyzer="folded"
    ).collect()]
    b = [tuple(r) for r in inv.bm25_topk_served(
        spark, sf_dir, terms=("join", "scan", "window"), analyzer="folded"
    ).collect()]
    assert a == b and len(a) == 10

    # fsck: recorded analyzer + postings respect the pipeline
    checks = {c[0]: (c[1], c[2]) for c in inv.fsck_text_index(spark, sf_dir, analyzer="folded")}
    assert checks["analyzer_recorded"][0] is True
    assert checks["postings_respect_analyzer"][0] is True

    # update path: the analyzer is part of the index IDENTITY (the
    # root tag), so a raw update can never touch the folded index —
    # and the folded update folds its batch through the same pipeline.
    # Runs on a PRIVATE corpus copy: an update makes the root represent
    # corpus ∪ batch, which must never leak into the shared sf_dir
    # roots the driver keys serve from (the documented corpus-of-record
    # contract — violating it here poisons every later oracle run).
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base = str(tmp_path / "folded_upd")
    os.makedirs(base)
    docs.write.parquet(os.path.join(base, "documents.parquet"))
    batch = spark.createDataFrame(
        [(9_900_001, "The Café JOIN window Scan")], "doc_id bigint, text string"
    )
    folded_root = inv.text_index_root(base, "folded")
    raw_root = inv.text_index_root(base, "raw")
    assert folded_root != raw_root
    new_cur = inv.update_text_index(spark, base, batch, analyzer="folded")
    assert new_cur.startswith(folded_root)
    post = spark.read.schema(inv.POSTINGS_SCHEMA).parquet(
        os.path.join(new_cur, "postings")
    )
    got = {
        r["term"]
        for r in post.filter(F.col("doc_id") == 9_900_001).collect()
    }
    assert got == {"cafe", "join", "window", "scan"}, got  # folded, stopword dropped
