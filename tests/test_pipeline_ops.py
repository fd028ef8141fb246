"""Unit + plan tests for the dedup operators: canonical selection, the
duplicate-cluster histogram, the MinHash and containment indexes and
their ingest gates, and substring rewriting.

Invariant style mirrors test_properties.py: check conservation laws and
boundary behavior, not golden values (those are the oracle's job).
"""

from pyspark.sql import functions as F

from adk_noui_vectordb_spark.sources.tables import load_table


# -------------------------------------------------------- canonical selection

def test_canonical_selection_covers_all_docs(spark, sf_dir):
    """Cluster member counts must sum to the corpus size, and each
    canonical doc must belong to its own cluster."""
    from adk_noui_vectordb_spark.operators.dedup import (
        dedup_canonical_selection,
    )

    rows = dedup_canonical_selection(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_members"] for r in rows) == n_docs
    assert all(r["n_members"] >= 1 for r in rows)


def test_canonical_selection_windows_share_partitioning(spark, sf_dir):
    """rank and member-count windows both key on cluster_id: the plan
    must contain exactly ONE exchange for the two window functions
    (Catalyst reuses the partitioning)."""
    from adk_noui_vectordb_spark.operators.dedup import (
        dedup_canonical_selection,
    )
    from adk_noui_vectordb_spark.plans import explain_str

    plan = explain_str(dedup_canonical_selection(spark, sf_dir), mode="simple")
    # two Window nodes, back to back, no exchange between them
    import re
    assert plan.count("Window") >= 1
    assert not re.search(r"Window[^\n]*\n[^\n]*Exchange[^\n]*\n[^\n]*Window", plan), plan


# ------------------------------------------------------ cluster histogram

def test_cluster_size_histogram_conserves_docs(spark, sf_dir):
    """sum(cluster_size * n_clusters) equals the corpus size — every
    document lands in exactly one cluster."""
    from adk_noui_vectordb_spark.operators.dedup import (
        dup_cluster_size_histogram,
    )

    rows = dup_cluster_size_histogram(spark, sf_dir).collect()
    total = sum(r["cluster_size"] * r["n_clusters"] for r in rows)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert total == n_docs
    assert all(r["cluster_size"] >= 1 and r["n_clusters"] >= 1 for r in rows)


def test_minhash_index_update_equals_fresh_build(spark, sf_dir, tmp_path):
    """Incrementally signing a batch into the persisted MinHash index
    must equal a fresh build over the combined corpus (bands AND sigs —
    the shared kernel makes equality exact); a replaced doc's stale
    band rows retract; the gate serves a vector of the ingested docs
    one update later."""
    import os

    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base_dir, all_dir = str(tmp_path / "mhbase"), str(tmp_path / "mhall")
    os.makedirs(base_dir), os.makedirs(all_dir)
    docs.filter(F.col("doc_id") % 5 != 0).write.parquet(
        os.path.join(base_dir, "documents.parquet")
    )
    docs.write.parquet(os.path.join(all_dir, "documents.parquet"))

    dedup.build_minhash_index(spark, base_dir)
    v_inc = dedup.update_minhash_index(
        spark, base_dir, docs.filter(F.col("doc_id") % 5 == 0)
    )
    v_all = dedup.build_minhash_index(spark, all_dir)

    def bands(v):
        return {
            (r["doc_id"], r["band"], r["band_hash"])
            for r in spark.read.schema(dedup.MINHASH_BANDS_SCHEMA)
            .parquet(os.path.join(v, "bands"))
            .collect()
        }

    def sigs(v):
        return {
            (r["doc_id"],) + tuple(r[f"m{i}"] for i in range(dedup.NUM_HASHES))
            for r in spark.read.schema(dedup.MINHASH_SIGS_SCHEMA)
            .parquet(os.path.join(v, "sigs"))
            .collect()
        }

    assert bands(v_inc) == bands(v_all)
    assert sigs(v_inc) == sigs(v_all)

    # replace: re-submit doc 1 with fresh text -> stale bands retracted
    before = bands(v_inc)
    old_rows_1 = {t for t in before if t[0] == 1}
    assert len(old_rows_1) == dedup.NUM_BANDS
    new1 = spark.createDataFrame(
        [(1, "entirely different replacement content words here")],
        "doc_id bigint, text string",
    )
    v2 = dedup.update_minhash_index(spark, base_dir, new1)
    after = bands(v2)
    assert {t for t in after if t[0] == 1}.isdisjoint(old_rows_1)
    assert {t for t in after if t[0] != 1} == {t for t in before if t[0] != 1}


def test_dedup_gate_flags_only_true_duplicates(spark, sf_dir, tmp_path):
    """The gate must flag an exact clone at matches=16 and pass a
    disjoint-vocabulary document with zero candidates (no shared
    shingles -> no shared band)."""
    import os

    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base_dir = str(tmp_path / "gatebase")
    os.makedirs(base_dir)
    docs.write.parquet(os.path.join(base_dir, "documents.parquet"))
    clone_text = docs.filter(F.col("doc_id") == 3).head()["text"]
    batch = spark.createDataFrame(
        [
            (9_000_001, clone_text),
            (9_000_002, "zzq xqv wqj pqk qqm nqr vqt bqw"),  # alien vocab
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["new_doc_id"], r["dup_of"]): r["matches"]
        for r in dedup.dedup_gate_for(spark, base_dir, batch).collect()
    }
    assert got[(9_000_001, 3)] == dedup.NUM_HASHES
    assert not any(nd == 9_000_002 for nd, _ in got)


def test_minhash_update_crash_preserves_served_gate(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The versioning discipline holds for the MinHash index: a crash
    injected before the _CURRENT swing leaves the gate serving the old
    consistent version; re-running the update succeeds."""
    import os

    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators import dedup
    from adk_noui_vectordb_spark.sources import versioning

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base_dir = str(tmp_path / "mhcrash")
    os.makedirs(base_dir)
    docs.write.parquet(os.path.join(base_dir, "documents.parquet"))
    dedup.build_minhash_index(spark, base_dir)
    clone = docs.filter(F.col("doc_id") == 7).select(
        F.lit(7_000_007).cast("bigint").alias("doc_id"), "text"
    )
    gate_before = {
        (r["new_doc_id"], r["dup_of"])
        for r in dedup.dedup_gate_for(spark, base_dir, clone).collect()
    }
    assert (7_000_007, 7) in gate_before

    real = versioning.point_current

    def boom(root, name):
        raise RuntimeError("injected crash before commit point")

    monkeypatch.setattr(versioning, "point_current", boom)
    try:
        dedup.update_minhash_index(spark, base_dir, clone)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.setattr(versioning, "point_current", real)

    # served gate unchanged and consistent
    assert {
        (r["new_doc_id"], r["dup_of"])
        for r in dedup.dedup_gate_for(spark, base_dir, clone).collect()
    } == gate_before
    # recovery = re-run; afterwards the clone is indexed, so gating it
    # again ALSO surfaces itself-as-corpus (7_000_007 now indexed)
    v = dedup.update_minhash_index(spark, base_dir, clone)
    sigs = {
        r["doc_id"]
        for r in spark.read.schema(dedup.MINHASH_SIGS_SCHEMA)
        .parquet(os.path.join(v, "sigs"))
        .collect()
    }
    assert 7_000_007 in sigs


def test_delete_from_minhash_index_retracts_and_gate_forgets(
    spark, sf_dir, tmp_path
):
    """Targeted deletion from the MinHash index (r10, completing the
    delete family): the victim's band AND sig rows retract, a clone of
    the deleted doc subsequently passes the gate clean, other docs'
    rows are untouched, and deleting an absent id is a no-op."""
    import os

    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base = str(tmp_path / "mhdel")
    os.makedirs(base)
    docs.write.parquet(os.path.join(base, "documents.parquet"))
    v0 = dedup.build_minhash_index(spark, base)

    def rows(v, comp, schema):
        return {
            tuple(r)
            for r in spark.read.schema(schema)
            .parquet(os.path.join(v, comp))
            .collect()
        }

    bands0 = rows(v0, "bands", dedup.MINHASH_BANDS_SCHEMA)
    sigs0 = rows(v0, "sigs", dedup.MINHASH_SIGS_SCHEMA)
    victim_text = docs.filter(F.col("doc_id") == 7).head()["text"]

    # clone of doc 7 is flagged before deletion
    clone = spark.createDataFrame(
        [(9_000_007, victim_text)], "doc_id bigint, text string"
    )
    assert any(
        r["dup_of"] == 7
        for r in dedup.dedup_gate_for(spark, base, clone).collect()
    )

    v1 = dedup.delete_from_minhash_index(
        spark, base, spark.createDataFrame([(7,)], "doc_id bigint")
    )
    bands1 = rows(v1, "bands", dedup.MINHASH_BANDS_SCHEMA)
    sigs1 = rows(v1, "sigs", dedup.MINHASH_SIGS_SCHEMA)
    assert not any(t[0] == 7 for t in bands1)
    assert not any(t[0] == 7 for t in sigs1)
    assert bands1 == {t for t in bands0 if t[0] != 7}
    assert sigs1 == {t for t in sigs0 if t[0] != 7}

    # the gate no longer names the deleted doc
    assert not any(
        r["dup_of"] == 7
        for r in dedup.dedup_gate_for(spark, base, clone).collect()
    )

    # absent-id deletion is a no-op commit-wise
    v2 = dedup.delete_from_minhash_index(
        spark, base, spark.createDataFrame([(123456789,)], "doc_id bigint")
    )
    assert v2 == v1


# ------------------------------------------------- substring-dedup rewrite


def test_substring_rewrite_keeper_and_mask_semantics(spark, tmp_path):
    """dedup_substring_rewrite (Lee et al. exact-substring dedup as a
    rewrite): a shared 8-token span survives in exactly ONE of its
    occurrences (the md5-min occurrence key), a WITHIN-doc repeat masks
    its non-keeper copy, docs shorter than the window and unique docs
    are untouched, and n_removed counts distinct masked positions."""
    import os

    from adk_noui_vectordb_spark.operators.dedup import (
        dedup_substring_rewrite,
    )

    span = " ".join(f"s{i}" for i in range(8))
    span_b = " ".join(f"t{i}" for i in range(8))
    rows = [
        # docs 1 and 2 share span A (cross-doc duplicate)
        (1, f"a1 a2 {span} a3 a4"),
        (2, f"b1 {span} b2 b3 b4 b5"),
        # doc 3 repeats its OWN span B twice (self-duplicate)
        (3, f"{span_b} c1 c2 {span_b}"),
        # doc 4: unique text, long enough to window
        (4, " ".join(f"u{i}" for i in range(12))),
        # doc 5: shorter than the window
        (5, "tiny doc"),
    ]
    base = str(tmp_path / "subdup")
    os.makedirs(base, exist_ok=True)
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        os.path.join(base, "documents.parquet")
    )
    out = {
        r["doc_id"]: r for r in dedup_substring_rewrite(spark, base).collect()
    }
    assert out[4]["n_removed"] == 0 and out[5]["n_removed"] == 0
    # untouched docs hash to their original text
    import hashlib

    assert out[5]["clean_md5"] == hashlib.md5(b"tiny doc").hexdigest()
    # the shared span is removed from SOME occurrences but kept in
    # exactly one: total kept copies of the span across docs 1-3 == 1.
    # Each doc's removal count is a multiple of full windows' coverage;
    # doc 3 lost at least one 8-token copy, docs 1+2 lost 8 tokens
    # between them (one keeps, one loses).
    removed_12 = out[1]["n_removed"] + out[2]["n_removed"]
    assert removed_12 == 8, (out[1], out[2])
    # doc 3's two non-overlapping copies of span B collapse to one:
    # exactly one 8-token copy masked
    assert out[3]["n_removed"] == 8, out[3]
    assert out[3]["n_tokens"] == 18


def test_containment_pairs_catch_subset_duplication(spark, tmp_path):
    """dedup_containment_pairs (PPJoin prefix filtering + exact verify):
    a short doc fully quoted inside a long one pairs with containment
    1.0 in the short->long direction even though its Jaccard is far
    below any dedup threshold; unrelated docs never pair; exact
    duplicates read 1.0 both ways."""
    import os

    from adk_noui_vectordb_spark.operators.dedup import (
        dedup_containment_pairs,
    )

    quoted = "alpha beta gamma delta"
    rows = [
        (1, quoted),  # short doc
        (2, quoted + " " + " ".join(f"f{i}" for i in range(16))),  # superset
        (3, " ".join(f"z{i}" for i in range(10))),  # unrelated
        (4, "p q r s t"),
        (5, "p q r s t"),  # exact duplicate of 4
    ]
    base = str(tmp_path / "contain")
    os.makedirs(base, exist_ok=True)
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        os.path.join(base, "documents.parquet")
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
        for r in dedup_containment_pairs(spark, base, threshold=0.8).collect()
    }
    assert set(got) == {(1, 2), (4, 5)}, got
    c12 = got[(1, 2)]
    assert c12[0] == 1.0  # the short doc's 2 shingles are both contained
    assert c12[1] == 0.1111  # 2 of the superset's 18 shingles back
    assert got[(4, 5)] == (1.0, 1.0)


def test_ppjoin_prefix_len_exact_boundary(spark):
    """ADVICE r14 #1: the prefix bound is n − ⌈t·n⌉ + 1 in exact integer
    arithmetic. The inexact-double formula floor((1−0.8)·n)+1 is one
    short exactly when (1−t)·n is integral (n divisible by 5 at t=0.8):
    floor(0.19999999999999996·5)+1 = 1, exact = 2 — a containment-
    exactly-0.8 pair needs both prefix shingles to stay complete."""
    import math

    from adk_noui_vectordb_spark.operators.dedup import ppjoin_prefix_len

    df = spark.range(1, 51).select(F.col("id").alias("n"))
    got = {
        r["n"]: r["p"]
        for r in df.select(
            "n", ppjoin_prefix_len(F.col("n"), 0.8).alias("p")
        ).collect()
    }
    for n in range(1, 51):
        assert got[n] == n - math.ceil(
            __import__("fractions").Fraction(4, 5) * n
        ) + 1, (n, got[n])
    # the motivating case: every multiple of 5 reads one LONGER than
    # the old double-floor formula
    for n in (5, 10, 25, 50):
        assert got[n] == n // 5 + 1
        assert got[n] == math.floor(0.19999999999999996 * n) + 1 + 1


def test_containment_gate_rejects_below_build_threshold(spark, sf_dir):
    """ADVICE r14 #2: the stored in_prefix flags are baked at
    CONTAIN_THRESHOLD; a lower gate threshold needs LONGER stored
    prefixes than the index has, so the gate refuses loudly instead of
    silently returning incomplete old-contained-in-new candidates.
    Thresholds >= the build threshold stay servable (prefix length is
    antitone in t, so stored prefixes remain complete)."""
    import pytest

    from adk_noui_vectordb_spark.operators.dedup import (
        CONTAIN_THRESHOLD,
        dedup_containment_gate_for,
    )
    from adk_noui_vectordb_spark.sources.tables import load_table

    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        .limit(3)
    )
    with pytest.raises(ValueError, match="below the"):
        dedup_containment_gate_for(
            spark, sf_dir, batch, threshold=CONTAIN_THRESHOLD - 0.1
        )
    # >= build threshold serves (stricter gate over the same prefixes)
    rows = dedup_containment_gate_for(
        spark, sf_dir, batch, threshold=0.9
    ).collect()
    assert all(
        max(r["cont_new_in_old"], r["cont_old_in_new"]) >= 0.9 for r in rows
    )


def test_containment_gate_catches_clones_and_truncations(spark, sf_dir):
    """dedup_containment_gate: every re-keyed clone surfaces its
    original at containment 1.0 both ways, every truncated variant
    (first 12 words) surfaces the original at 1.0 in the new-in-old
    direction (its shingles are a prefix-subset of the original's) —
    the pair class a Jaccard gate misses — and no batch doc matches an
    unrelated corpus doc at 1.0 without sharing its shingles."""
    from adk_noui_vectordb_spark.operators.dedup import (
        dedup_containment_gate,
    )
    from adk_noui_vectordb_spark.sources.tables import load_table

    rows = dedup_containment_gate(spark, sf_dir).collect()
    pairs = {(r["new_doc_id"], r["dup_of"]): r for r in rows}
    origs = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
        .collect()
    ]
    assert origs
    for d in origs:
        clone = pairs[(1_000_000 + d, d)]
        assert (
            clone["cont_new_in_old"] == 1.0
            and clone["cont_old_in_new"] == 1.0
        ), clone
        trunc = pairs[(2_000_000 + d, d)]
        assert trunc["cont_new_in_old"] == 1.0, trunc


def test_containment_index_admit_and_replace(spark, tmp_path):
    """update_containment_index: an admitted doc becomes gate-visible
    (both directions), a re-submitted doc_id REPLACES its postings
    (stale shingles stop matching), and the frozen-dfs prefix flags
    keep candidate generation complete for exact clones."""
    import os

    from adk_noui_vectordb_spark.operators.dedup import (
        dedup_containment_gate_for,
        update_containment_index,
    )

    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t3 = "one two three four five six seven eight nine"
    rows = [
        (1, t1),
        (2, " ".join(f"x{i}" for i in range(12))),
        (3, t3),
    ]
    base = str(tmp_path / "ing")
    os.makedirs(base, exist_ok=True)
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        os.path.join(base, "documents.parquet")
    )

    def gate(text):
        b = spark.createDataFrame(
            [(999, text)], "doc_id bigint, text string"
        )
        return {
            r["dup_of"]
            for r in dedup_containment_gate_for(spark, base, b).collect()
        }

    # before any admit: a clone of doc 1 surfaces only doc 1
    assert gate(t1) == {1}
    # admit id 100 with doc-1 text: the clone now surfaces both
    update_containment_index(
        spark,
        base,
        spark.createDataFrame([(100, t1)], "doc_id bigint, text string"),
    )
    assert gate(t1) == {1, 100}
    # REPLACE: resubmit id 100 with doc-3 text — the stale doc-1
    # postings must stop matching and the new ones must match
    update_containment_index(
        spark,
        base,
        spark.createDataFrame([(100, t3)], "doc_id bigint, text string"),
    )
    assert gate(t1) == {1}
    assert gate(t3) == {3, 100}


def test_containment_fsck_green_after_build_and_admit(spark, tmp_path):
    """fsck_containment_index: all checks pass on a fresh build AND
    after an admit + doc-level replace (the write paths must preserve
    post≡grams, sizes, and the exact prefix-flag bound)."""
    import os

    from adk_noui_vectordb_spark.operators.dedup import (
        fsck_containment_index,
        update_containment_index,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, " ".join(f"x{i}" for i in range(10))),
    ]
    base = str(tmp_path / "cfsck")
    os.makedirs(base, exist_ok=True)
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        os.path.join(base, "documents.parquet")
    )
    assert all(ok for _, ok, _ in fsck_containment_index(spark, base)), (
        fsck_containment_index(spark, base)
    )
    update_containment_index(
        spark,
        base,
        spark.createDataFrame(
            [(50, "one two three four five six")],
            "doc_id bigint, text string",
        ),
    )
    # replace the admitted doc, then re-check every invariant
    update_containment_index(
        spark,
        base,
        spark.createDataFrame(
            [(50, "seven eight nine ten eleven twelve thirteen")],
            "doc_id bigint, text string",
        ),
    )
    got = fsck_containment_index(spark, base)
    assert all(ok for _, ok, _ in got), got


def test_containment_drift_advisory_and_rebuild(spark, tmp_path):
    """containment_drift_metrics + rebuild_containment_index (VERDICT
    r15 next #3): a clone-heavy admit under frozen dfs fattens the
    stored prefixes' true posting fanout — the metrics fire, the fsck
    prefix_drift row points at the rebuild, the rebuild resets the
    baseline, and the rebuilt index equals a fresh build over the
    combined corpus row-for-row across all four components."""
    import os

    from adk_noui_vectordb_spark.operators.dedup import (
        build_containment_index,
        containment_drift_metrics,
        fsck_containment_index,
        rebuild_containment_index,
        update_containment_index,
    )

    t1 = "alpha beta gamma delta epsilon zeta"
    t2 = " ".join(f"x{i}" for i in range(10))
    base = str(tmp_path / "drift")
    os.makedirs(base, exist_ok=True)
    spark.createDataFrame(
        [(1, t1), (2, t2)], "doc_id bigint, text string"
    ).write.parquet(os.path.join(base, "documents.parquet"))
    m0 = containment_drift_metrics(spark, base)
    assert m0["drifted"] is False, m0
    # admit 8 clones of doc 1: every stored prefix gk of doc 1 now
    # posts 9 docs — fanout and mass both blow past their thresholds
    update_containment_index(
        spark,
        base,
        spark.createDataFrame(
            [(100 + i, t1) for i in range(8)], "doc_id bigint, text string"
        ),
    )
    m1 = containment_drift_metrics(spark, base)
    assert m1["drifted"] is True, m1
    assert m1["mass_growth"] == 5.0 and m1["fanout_growth"] > 1.5, m1
    fsck = {c: (ok, d) for c, ok, d in fsck_containment_index(spark, base)}
    ok, detail = fsck["prefix_drift"]
    assert not ok and "rebuild_containment_index" in detail, fsck
    new_cur = rebuild_containment_index(spark, base)
    m2 = containment_drift_metrics(spark, base)
    assert m2["drifted"] is False and m2["mass_growth"] == 1.0, m2
    assert all(ok for _, ok, _ in fsck_containment_index(spark, base))
    # equality with a fresh build over the combined corpus
    base2 = str(tmp_path / "fresh")
    os.makedirs(base2, exist_ok=True)
    spark.createDataFrame(
        [(1, t1), (2, t2)] + [(100 + i, t1) for i in range(8)],
        "doc_id bigint, text string",
    ).write.parquet(os.path.join(base2, "documents.parquet"))
    cur2 = build_containment_index(spark, base2)
    for comp, schema in [
        ("post", "gk bigint, doc_id bigint, in_prefix boolean, gbucket int"),
        ("dfs", "gk bigint, df bigint, gbucket int"),
        ("grams", "doc_id bigint, gk bigint, sbucket int"),
        ("sizes", "doc_id bigint, n bigint, sbucket int"),
    ]:
        a = sorted(
            tuple(r)
            for r in spark.read.schema(schema)
            .parquet(os.path.join(new_cur, comp))
            .collect()
        )
        b = sorted(
            tuple(r)
            for r in spark.read.schema(schema)
            .parquet(os.path.join(cur2, comp))
            .collect()
        )
        assert a == b, comp


def test_containment_fsck_catches_zero_prefix_doc(spark, tmp_path):
    """ADVICE r15 #2 regression: a doc whose in_prefix rows were ALL
    lost (the worst short-prefix completeness break) must fail
    prefix_flags_exact_bound — the pre-fix inner join dropped such a
    doc from the comparison entirely and passed."""
    import os
    import shutil

    from adk_noui_vectordb_spark.operators.dedup import (
        build_containment_index,
        fsck_containment_index,
    )

    rows = [(1, "alpha beta gamma delta epsilon"), (2, "one two three four five")]
    base = str(tmp_path / "zp")
    os.makedirs(base, exist_ok=True)
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        os.path.join(base, "documents.parquet")
    )
    cur = build_containment_index(spark, base)
    assert all(ok for _, ok, _ in fsck_containment_index(spark, base))
    schema = "gk bigint, doc_id bigint, in_prefix boolean, gbucket int"
    post = spark.read.schema(schema).parquet(os.path.join(cur, "post"))
    tampered = post.withColumn(
        "in_prefix", F.col("in_prefix") & (F.col("doc_id") != 1)
    ).collect()
    shutil.rmtree(os.path.join(cur, "post"))
    spark.createDataFrame(tampered, schema).write.partitionBy(
        "gbucket"
    ).parquet(os.path.join(cur, "post"))
    got = {c: ok for c, ok, _ in fsck_containment_index(spark, base)}
    assert got["prefix_flags_exact_bound"] is False, got
