"""Self-tests of the benchmark's pure parts (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import pickle

import pytest

from perfbench import gen
from perfbench.stats import median, tail


def test_tail_needs_ten_samples_beyond_it():
    # below 20 samples even the median leaves fewer than 10 above it
    assert tail([float(i) for i in range(19)]) is None
    assert tail([float(i) for i in range(20)]) == (50.0, 9.0)


def test_tail_picks_highest_percentile_with_ten_beyond():
    # n=20: p50 is rank 10, 10 samples above it; p75 (rank 15) leaves 5
    assert tail([float(i) for i in range(1, 21)]) == (50.0, 10.0)
    # n=40: p75 is rank 30, leaving exactly 10
    assert tail([float(i) for i in range(1, 41)]) == (75.0, 30.0)
    # n=100: p90 is rank 90; p95 would leave only 5
    assert tail([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    # n=1000: p99 is rank 990
    assert tail([float(i) for i in range(1, 1001)]) == (99.0, 990.0)
    # order of the input does not matter
    assert tail([float(i) for i in range(40, 0, -1)]) == (75.0, 30.0)


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def _digest(obj) -> str:
    return hashlib.sha256(pickle.dumps(obj)).hexdigest()


def _serve_inputs(seed: int):
    ledger = gen.Elements(seed, "serve")
    rows = ledger.corpus(1000)
    ledger.apply(rows)
    ops = [gen.serve_cycle(ledger, seed, c) for c in range(3)]
    return [(i, v.tobytes(), d, m) for i, v, d, m in rows], [
        [(k, {a: (pickle.dumps(b)) for a, b in args.items()}) for k, args in cyc] for cyc in ops
    ]


def _ingest_inputs(seed: int):
    ledger = gen.Elements(seed, "ingest")
    ledger.apply(ledger.corpus(100))
    out = []
    for i in range(6):
        kind, path, rows, ids = gen.commit(ledger, seed, i)
        out.append((kind, path, [(r[0], r[1].tobytes(), r[2], r[3]) for r in rows], ids))
        if kind == "delete":
            ledger.remove(ids)
        else:
            ledger.apply(rows)
    return out


def _tree_inputs(seed: int):
    tree = gen.SourceTree(seed, 30)
    before = {rel: tree.render(rel) for rel in tree.files}
    edit = tree.edit_round(4)
    after = {rel: tree.render(rel) for rel in tree.files}
    return before, edit, after


@pytest.mark.parametrize("make", [_serve_inputs, _ingest_inputs, _tree_inputs])
def test_same_seed_gives_identical_inputs(make):
    assert _digest(make(7)) == _digest(make(7))
    assert _digest(make(7)) != _digest(make(8))


def test_where_filters_keep_half_and_a_tenth():
    ledger = gen.Elements(3, "serve")
    ledger.apply(ledger.corpus(1000))
    metas = [m for _, _, m in ledger.rows.values()]
    assert sum(gen.passes(m, gen.WHERE_HALF) for m in metas) == 500
    assert sum(gen.passes(m, gen.WHERE_TENTH) for m in metas) == 100


def test_serve_cycle_has_every_kind_once_and_full_pages():
    ledger = gen.Elements(1, "serve")
    ledger.apply(ledger.corpus(1000))
    for cycle in range(20):
        ops = gen.serve_cycle(ledger, 1, cycle)
        assert sorted(k for k, _ in ops) == sorted(gen.SERVE_KINDS)
        for kind, args in ops:
            if kind.startswith("page_"):
                after = [i for i, (_, _, m) in ledger.rows.items() if gen.passes(m, args["where"]) and i > args["after_id"]]
                assert len(after) >= args["pages"] * args["limit"]


def test_edit_round_changes_or_adds_elements():
    tree = gen.SourceTree(5, 30)
    n0 = tree.expected_elements()
    touched, changed, added = tree.edit_round(6)
    assert len(touched) == 6 and changed + added == 6 and changed > 0 and added > 0
    assert tree.expected_elements() == n0 + added
    assert not any(rel.endswith(".txt") for rel in touched)
