"""Single-writer enforcement and auto-compaction on versioned index
roots (VERDICT r9 next #3/#7): interleaved committers serialize via the
writer lock, a commit whose plan is stale CAS-fails without destroying
the winner's data, the loser retries successfully, and incremental
upserts self-compact hot partitions past the threshold."""

import os
import subprocess

import pytest
from pyspark.sql import functions as F

from adk_noui_vectordb_spark.operators import invindex
from adk_noui_vectordb_spark.sources import versioning as vn


def _commit_kv(spark, root, rows, expected):
    """One-component commit: append (k, v) rows partitioned by k."""
    df = spark.createDataFrame(rows, "k int, v string")
    return vn.commit_version(
        spark,
        root,
        [vn.Component("data", ("k",), frozenset(), (df,))],
        expected=expected,
    )


def _read_kv(spark, ver):
    return {
        (r["k"], r["v"])
        for r in spark.read.schema("v string, k int")
        .parquet(os.path.join(ver, "data"))
        .collect()
    }


def test_interleaved_committers_one_wins_loser_retries(spark, tmp_path):
    """The r9 verdict's concurrent-committer scenario: writers A and B
    both derive their plan from v_000000; B commits first; A's commit
    CAS-fails with ConcurrentWriterError, B's committed data is intact,
    and A's retry from the new current version succeeds."""
    root = str(tmp_path / "cas_root")
    v0 = _commit_kv(spark, root, [(0, "base")], expected=None)
    assert vn.current_name(root) == "v_000000"

    # both writers snapshot the same predecessor
    pred = vn.current_name(root)

    # B wins the race
    v1 = _commit_kv(spark, root, [(1, "from_b")], expected=pred)
    assert vn.current_name(root) == "v_000001"

    # A's stale commit must fail WITHOUT touching B's committed version
    with pytest.raises(vn.ConcurrentWriterError):
        _commit_kv(spark, root, [(2, "from_a")], expected=pred)
    assert vn.current_name(root) == "v_000001"
    assert _read_kv(spark, v1) == {(0, "base"), (1, "from_b")}

    # the loser retries from the NEW current version and succeeds
    v2 = _commit_kv(spark, root, [(2, "from_a")], expected="v_000001")
    assert vn.current_name(root) == "v_000002"
    assert _read_kv(spark, v2) == {(0, "base"), (1, "from_b"), (2, "from_a")}
    # nothing orphaned for gc to choke on later
    assert vn.describe_index(root)["orphan_tmp_dirs"] == []
    _ = v0


def test_writer_lock_waits_for_live_holder(spark, tmp_path):
    """A live concurrent writer makes a second committer WAIT (a commit
    holds the lock for whole Spark jobs — instant retries would always
    lose); ``wait_s=0`` restores fail-fast; once the holder releases,
    the waiter's commit proceeds."""
    import threading
    import time

    root = str(tmp_path / "lock_root")
    _commit_kv(spark, root, [(0, "base")], expected=None)

    release = threading.Event()
    held = threading.Event()

    def holder():
        with vn.writer_lock(root):
            held.set()
            release.wait(20)

    t = threading.Thread(target=holder)
    t.start()
    assert held.wait(5)
    # fail-fast path: zero wait raises while the holder is live
    with pytest.raises(vn.ConcurrentWriterError):
        with vn.writer_lock(root, wait_s=0):
            pass
    # waiting path: the holder releases shortly; the commit blocks on
    # the lock, then proceeds
    threading.Timer(0.8, release.set).start()
    _commit_kv(spark, root, [(1, "x")], expected="v_000000")
    t.join(10)
    assert vn.current_name(root) == "v_000001"


def test_stale_lock_from_dead_writer_is_stolen(spark, tmp_path):
    """A lockfile whose owner process died (crashed writer) must not
    wedge the root forever — the next committer steals it."""
    root = str(tmp_path / "stale_root")
    _commit_kv(spark, root, [(0, "base")], expected=None)
    p = subprocess.Popen(["true"])
    p.wait()  # a pid guaranteed dead once reaped
    with open(os.path.join(root, "_LOCK"), "w") as f:
        f.write(str(p.pid))
    _commit_kv(spark, root, [(1, "x")], expected="v_000000")
    assert vn.current_name(root) == "v_000001"
    assert not os.path.exists(os.path.join(root, "_LOCK"))


def test_lockfile_is_born_with_its_pid(tmp_path):
    """The link-claim means the lockfile is NEVER observably empty —
    the old O_EXCL-create-then-write window made a fresh live lock look
    dead (pid=0) to a concurrent waiter, inviting a wrongful steal."""
    root = str(tmp_path / "born_root")
    with vn.writer_lock(root):
        with open(os.path.join(root, "_LOCK")) as f:
            assert int(f.read().strip()) == os.getpid()
    assert not os.path.exists(os.path.join(root, "_LOCK"))


def test_steal_reverifies_and_restores_a_live_owners_lock(tmp_path):
    """The TOCTOU interleaving from ADVICE r11, pinned deterministically:
    waiter W observes a dead owner, but between W's liveness check and
    its removal the lock is stolen by someone else and re-claimed by a
    LIVE owner. The rename-and-reverify steal must put the live owner's
    lockfile back instead of destroying it (the old blind unlink let two
    writers run concurrently)."""
    root = str(tmp_path / "toctou_root")
    os.makedirs(root)
    path = os.path.join(root, "_LOCK")
    # the lock W is ABOUT to unlink now belongs to a live owner (us)
    with open(path, "w") as f:
        f.write(str(os.getpid()))
    claim = os.path.join(root, "_LOCK.claim.test")
    with open(claim, "w") as f:
        f.write(str(os.getpid()))
    vn._steal_stale_lock(path, os.path.join(root, "_LOCK.steal.test"), claim)
    assert os.path.exists(path), "live owner's lock was destroyed"
    with open(path) as f:
        assert int(f.read().strip()) == os.getpid()
    assert not os.path.exists(os.path.join(root, "_LOCK.steal.test"))


def test_steal_removes_a_dead_owners_lock(tmp_path):
    root = str(tmp_path / "dead_root")
    os.makedirs(root)
    path = os.path.join(root, "_LOCK")
    p = subprocess.Popen(["true"])
    p.wait()
    with open(path, "w") as f:
        f.write(str(p.pid))
    claim = os.path.join(root, "_LOCK.claim.test")
    with open(claim, "w") as f:
        f.write(str(os.getpid()))
    vn._steal_stale_lock(path, os.path.join(root, "_LOCK.steal.test"), claim)
    assert not os.path.exists(path)
    assert not os.path.exists(os.path.join(root, "_LOCK.steal.test"))


def test_concurrent_waiters_stealing_one_stale_lock_yield_one_holder(tmp_path):
    """Three threads race to steal one dead-owner lock and acquire; the
    rename-steal guarantees at most one holder at any instant."""
    import threading

    root = str(tmp_path / "race_root")
    os.makedirs(root)
    p = subprocess.Popen(["true"])
    p.wait()
    with open(os.path.join(root, "_LOCK"), "w") as f:
        f.write(str(p.pid))

    holders = []
    overlap = []
    lk = threading.Lock()

    def worker():
        with vn.writer_lock(root, wait_s=10.0, poll_s=0.01):
            with lk:
                holders.append(1)
                overlap.append(len(holders))
            import time

            time.sleep(0.05)
            with lk:
                holders.pop()

    ts = [threading.Thread(target=worker) for _ in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(30)
    assert max(overlap) == 1  # never two concurrent holders
    assert len(overlap) == 3  # all three eventually acquired


def test_publish_never_destroys_committed_current(spark, tmp_path):
    """publish_version must refuse to rmtree a directory _CURRENT
    names, even when a buggy caller targets the committed name."""
    root = str(tmp_path / "guard_root")
    v0 = _commit_kv(spark, root, [(0, "base")], expected=None)
    tmp = os.path.join(root, ".__tmp_evil__")
    os.makedirs(tmp)
    with pytest.raises(vn.ConcurrentWriterError):
        vn.publish_version(root, tmp, "v_000000")
    assert os.path.isdir(os.path.join(v0, "data"))  # committed data intact
    assert _read_kv(spark, v0) == {(0, "base")}


def test_auto_compaction_bounds_files_per_partition(spark, tmp_path):
    """k successive upserts leave <= threshold data files per partition
    without any explicit compact call (VERDICT r9 next #7): every
    update passes the index's component spec to the commit kernel,
    which folds any partition that crossed the threshold."""
    base = str(tmp_path / "acbase")
    os.makedirs(base)
    spark.createDataFrame(
        [(i, f"w{i} common") for i in range(8)], "doc_id bigint, text string"
    ).write.parquet(os.path.join(base, "documents.parquet"))
    invindex.build_text_index(spark, base)

    threshold = 2
    for i in range(5):  # pure adds: each appends a part file per bucket
        batch = spark.createDataFrame(
            [(100 + 10 * i + j, f"common extra{i}") for j in range(3)],
            "doc_id bigint, text string",
        )
        cur = invindex.update_text_index(
            spark, base, batch, auto_compact_threshold=threshold
        )

    for comp in ("postings", "termstats", "docs"):
        cdir = os.path.join(cur, comp)
        for part in os.listdir(cdir):
            pdir = os.path.join(cdir, part)
            if not os.path.isdir(pdir):
                continue
            n = sum(1 for f in os.listdir(pdir) if f.startswith("part-"))
            assert n <= threshold, f"{comp}/{part} has {n} files"

    # content survives the self-compaction: all 8 + 15 docs indexed
    s = spark.read.parquet(os.path.join(cur, "stats")).head()
    assert s["n_docs"] == 8 + 15


def test_fsck_passes_on_healthy_indexes_and_flags_damage(
    spark, sf_dir, tmp_path
):
    """fsck: every check green on freshly built + updated text and
    minhash indexes; a surgically corrupted component is flagged
    without raising."""
    import shutil

    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators import dedup, invindex

    base = str(tmp_path / "fsck")
    os.makedirs(base)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs.write.parquet(os.path.join(base, "documents.parquet"))

    invindex.build_text_index(spark, base)
    invindex.update_text_index(
        spark,
        base,
        spark.createDataFrame(
            [(900001, "integrity checker coverage words")],
            "doc_id bigint, text string",
        ),
    )
    checks = invindex.fsck_text_index(spark, base)
    assert checks and all(ok for _, ok, _ in checks), checks

    dedup.build_minhash_index(spark, base)
    checks2 = dedup.fsck_minhash_index(spark, base)
    assert checks2 and all(ok for _, ok, _ in checks2), checks2

    # damage: delete the stats component -> flagged, not raised
    cur = invindex.build_text_index(spark, base)
    shutil.rmtree(os.path.join(cur, "stats"))
    damaged = dict(
        (c, ok) for c, ok, _ in invindex.fsck_text_index(spark, base)
    )
    assert damaged.get("component_stats") is False
    _ = F


def test_fsck_gated_pair_detects_lockstep_and_drift(spark, sf_dir, tmp_path):
    """The gated-ingest pair checker: green when both indexes hold the
    same corpus; flags drift after a doc is deleted from only ONE of
    the two indexes."""
    from adk_noui_vectordb_spark.operators import dedup, invindex

    base = str(tmp_path / "pairbase")
    os.makedirs(base)
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).write.parquet(
        os.path.join(base, "documents.parquet")
    )
    invindex.build_text_index(spark, base)
    dedup.build_minhash_index(spark, base)
    checks = dict((c, ok) for c, ok, _ in dedup.fsck_gated_pair(spark, base))
    assert checks.get("doc_sets_in_lockstep") is True

    # drift: delete doc 3 from the TEXT index only
    invindex.delete_from_text_index(
        spark, base, spark.createDataFrame([(3,)], "doc_id bigint")
    )
    checks2 = dict((c, ok) for c, ok, _ in dedup.fsck_gated_pair(spark, base))
    assert checks2.get("doc_sets_in_lockstep") is False


def _retry_cas(fn, attempts: int = 3) -> None:
    """The documented loser protocol: every ``update_*`` re-derives its
    plan from the new current version on each call, so a plain re-invoke
    after a lost CAS race is the whole retry."""
    last = None
    for _ in range(attempts):
        try:
            fn()
            return
        except vn.ConcurrentWriterError as e:
            last = e
    raise last


def test_two_concurrent_text_index_writers_both_land(spark, sf_dir, tmp_path):
    """END-TO-END concurrency: two threads upsert DIFFERENT batches into
    the same text index root simultaneously. The writer lock serializes
    them, the loser's stale plan CAS-fails and the retry protocol
    (re-invoke — each call re-derives from the new current version)
    lands it, and the final index equals a fresh build over base + both
    batches."""
    import threading

    base, alldir = str(tmp_path / "ccbase"), str(tmp_path / "ccall")
    os.makedirs(base), os.makedirs(alldir)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs.write.parquet(os.path.join(base, "documents.parquet"))
    b1 = spark.createDataFrame(
        [(910001, "thread one words alpha"), (910002, "thread one beta")],
        "doc_id bigint, text string",
    ).localCheckpoint(eager=True)
    b2 = spark.createDataFrame(
        [(920001, "thread two words gamma"), (920002, "thread two delta")],
        "doc_id bigint, text string",
    ).localCheckpoint(eager=True)
    invindex.build_text_index(spark, base)

    errs = []

    def writer(batch):
        try:
            _retry_cas(lambda: invindex.update_text_index(spark, base, batch))
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    t1 = threading.Thread(target=writer, args=(b1,))
    t2 = threading.Thread(target=writer, args=(b2,))
    t1.start(), t2.start()
    t1.join(300), t2.join(300)
    assert not errs, errs

    docs.select("doc_id", "text").unionByName(
        b1.select("doc_id", "text")
    ).unionByName(b2.select("doc_id", "text")).write.parquet(
        os.path.join(alldir, "documents.parquet")
    )
    v_got = invindex.build_text_index(spark, base)
    v_want = invindex.build_text_index(spark, alldir)

    def postings(v):
        return {
            tuple(r)
            for r in spark.read.schema(invindex.POSTINGS_SCHEMA)
            .parquet(os.path.join(v, "postings"))
            .collect()
        }

    assert postings(v_got) == postings(v_want)


def test_rollback_restores_previous_version(spark, tmp_path):
    """The bad-batch undo: rollback re-points _CURRENT at the on-disk
    predecessor; the next commit overwrites the abandoned orphan."""
    root = str(tmp_path / "rb")
    v1 = _commit_kv(spark, root, [(1, "a")], expected=None)
    v2 = _commit_kv(spark, root, [(2, "bad")], expected=os.path.basename(v1))
    assert _read_kv(spark, v2) == {(1, "a"), (2, "bad")}

    back = vn.rollback_index(root)
    assert os.path.basename(back) == os.path.basename(v1)
    assert vn.current_name(root) == os.path.basename(v1)
    assert _read_kv(spark, vn.current_dir(root)) == {(1, "a")}
    # the orphan's files are untouched (readers on it finish)
    assert os.path.isdir(v2)

    # versions catalog shows both, current flagged
    names = {v["name"]: v["current"] for v in vn.list_versions(root)}
    assert names == {os.path.basename(v1): True, os.path.basename(v2): False}

    # next commit reuses the orphan's name and replaces it cleanly
    v2b = _commit_kv(spark, root, [(3, "good")], expected=os.path.basename(v1))
    assert os.path.basename(v2b) == os.path.basename(v2)
    assert _read_kv(spark, vn.current_dir(root)) == {(1, "a"), (3, "good")}


def test_rollback_validation(spark, tmp_path):
    root = str(tmp_path / "rbv")
    os.makedirs(root)
    with pytest.raises(ValueError, match="nothing to roll back"):
        vn.rollback_index(root)
    v1 = _commit_kv(spark, root, [(1, "a")], expected=None)
    with pytest.raises(ValueError, match="no predecessor"):
        vn.rollback_index(root)
    v2 = _commit_kv(spark, root, [(2, "b")], expected=os.path.basename(v1))
    with pytest.raises(ValueError, match="FORWARD"):
        vn.rollback_index(root, to="v_999999")
    # a third commit gc's v_000000 — rolling back to it must fail loudly
    _commit_kv(spark, root, [(3, "c")], expected=os.path.basename(v2))
    assert not os.path.isdir(os.path.join(root, "v_000000"))
    with pytest.raises(ValueError, match="not on disk"):
        vn.rollback_index(root, to="v_000000")
    vn.rollback_index(root, to=os.path.basename(v2))
    assert vn.current_name(root) == os.path.basename(v2)
    # no-op rollback to the current name
    same = vn.rollback_index(root, to=os.path.basename(v2))
    assert os.path.basename(same) == os.path.basename(v2)


def test_fork_index_is_generic_and_independent(spark, tmp_path):
    """fork_index works on ANY versioned root (not just collections):
    the fork serves the same rows from shared inodes; mutations on
    either side stay invisible to the other; gc on the source (forced
    by two further commits) cannot disturb the fork's data."""
    src = str(tmp_path / "fsrc")
    dst = str(tmp_path / "fdst")
    _commit_kv(spark, src, [(0, "a"), (1, "b")], expected=None)
    fork_cur = vn.fork_index(src, dst)
    assert _read_kv(spark, fork_cur) == {(0, "a"), (1, "b")}
    # source moves on twice (gc window passes over the forked version)
    _commit_kv(spark, src, [(2, "c")], expected="v_000000")
    _commit_kv(spark, src, [(3, "d")], expected="v_000001")
    assert _read_kv(spark, vn.current_dir(dst)) == {(0, "a"), (1, "b")}
    # fork moves on without touching the source
    _commit_kv(spark, dst, [(9, "z")], expected="v_000000")
    assert (0, "a") in _read_kv(spark, vn.current_dir(dst))
    assert (9, "z") in _read_kv(spark, vn.current_dir(dst))
    assert (9, "z") not in _read_kv(spark, vn.current_dir(src))
    # refuse to fork onto a root that already has versions
    with pytest.raises(FileExistsError):
        vn.fork_index(src, dst)


def test_text_doc_reapplies_after_delete(spark, tmp_path):
    """A doc deleted from the text index comes back when the same content
    is upserted again: the delete bumps the version, so nothing keyed to
    the older version can skip the re-apply."""
    base = str(tmp_path / "resur")
    os.makedirs(base)
    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id bigint, text string",
    ).write.parquet(os.path.join(base, "documents.parquet"))
    invindex.build_text_index(spark, base)
    doc = spark.createDataFrame(
        [(6_200_001, "resurrect this document whiskey xray yankee")],
        "doc_id bigint, text string",
    )

    def doc_ids():
        ver = invindex.build_text_index(spark, base)
        return {
            r["doc_id"]
            for r in spark.read.schema(invindex.DOCS_SCHEMA)
            .parquet(os.path.join(ver, "docs"))
            .collect()
        }

    invindex.update_text_index(spark, base, doc)
    assert 6_200_001 in doc_ids()
    invindex.delete_from_text_index(
        spark, base, spark.createDataFrame([(6_200_001,)], "doc_id bigint")
    )
    assert 6_200_001 not in doc_ids()
    invindex.update_text_index(spark, base, doc)
    assert doc_ids() == {1, 2, 6_200_001}


def test_gated_batch_replay_after_partial_apply_converges(
    spark, sf_dir, tmp_path
):
    """A gated ingest that crashed after the MinHash update but before the
    text update converges on replay. Once the batch's own ids are excluded
    from the gate's candidates, the replayed gate decides exactly as the
    first attempt did, although the MinHash index already holds the batch.
    Re-applying the MinHash update is a content no-op under doc-level
    replace, and the text update then lands every admitted doc."""
    from adk_noui_vectordb_spark.operators import dedup

    base = str(tmp_path / "gcrash")
    os.makedirs(base)
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).write.parquet(
        os.path.join(base, "documents.parquet")
    )
    dedup.build_minhash_index(spark, base)
    invindex.build_text_index(spark, base)
    twin = "crash recovery twin sentence kilo lima mike november oscar"
    batch = spark.createDataFrame(
        [
            (9_000_001, twin),
            (9_000_002, twin),
            (9_000_003, "wholly distinct crash recovery paragraph papa"),
        ],
        "doc_id bigint, text string",
    ).localCheckpoint(eager=True)
    batch_ids = {9_000_001, 9_000_002, 9_000_003}

    def gate(exclude_batch=True):
        return {
            (r["new_doc_id"], r["dup_of"])
            for r in dedup.dedup_gate_for(spark, base, batch).collect()
            if not (exclude_batch and r["dup_of"] in batch_ids)
        }

    def content(ver):
        read = spark.read.schema
        return (
            {tuple(r) for r in read(dedup.MINHASH_SIGS_SCHEMA).parquet(
                os.path.join(ver, "sigs")).collect()},
            {tuple(r) for r in read(dedup.MINHASH_BANDS_SCHEMA).parquet(
                os.path.join(ver, "bands")).collect()},
        )

    first = gate()
    v1 = dedup.update_minhash_index(spark, base, batch)  # then the crash
    # unfiltered, the replayed gate matches the batch against itself
    assert {(9_000_001, 9_000_001), (9_000_001, 9_000_002)} <= gate(False)
    assert gate() == first
    v2 = dedup.update_minhash_index(spark, base, batch)  # the replay
    assert content(v2) == content(v1)
    invindex.update_text_index(spark, base, batch)
    ver = invindex.build_text_index(spark, base)
    text_ids = {
        r["doc_id"]
        for r in spark.read.schema(invindex.DOCS_SCHEMA)
        .parquet(os.path.join(ver, "docs"))
        .collect()
    }
    assert batch_ids <= text_ids
