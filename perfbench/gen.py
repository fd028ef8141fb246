"""Seeded input generator: the only source of the benchmark's inputs.

Everything the program under test receives is derived here from one
integer seed, with no clock, pid or filesystem state involved, so the same
seed yields byte-identical rows, operations and source trees.

Three kinds of input:

- code-element rows (the reference's ``code_elements`` collection):
  topic-clustered 64-dim unit vectors, so that nearest neighbours are
  well separated rather than ties, plus ``element_type``/``file_path``/
  ``lang``/``start_line`` metadata whose ``lang`` mix is sized so the two
  ``where`` filters keep exactly half and a tenth of the rows;
- operation schedules (serving cycles, ingest commits) over a ledger of
  the live rows, which the benchmark also uses as the correctness oracle;
- a source tree of ``.py/.md/.js/.ts/.txt`` files with edit rounds that
  change function bodies or append functions, so every round gives the
  incremental indexer real work.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np

DIM = 64
N_TOPICS = 40
TOPIC_NOISE = 0.45

# lang shares (of 20): python+markdown = 10/20 = 50%, text = 2/20 = 10%
LANG_SHARES = (("python", 7), ("markdown", 3), ("javascript", 4), ("typescript", 4), ("text", 2))
LANG_EXT = {"python": ".py", "markdown": ".md", "javascript": ".js", "typescript": ".ts", "text": ".txt"}
WHERE_HALF = {"lang": {"$in": ["python", "markdown"]}}
WHERE_TENTH = {"lang": "text"}
ELEMENT_TYPES = {
    "python": ("function", "function", "class", "import"),
    "markdown": ("markdown_section",),
    "javascript": ("function", "function", "class"),
    "typescript": ("function", "function", "class"),
    "text": ("text_chunk",),
}
WORDS = (
    "parse index query vector embed chunk scan token cache shard merge "
    "commit version filter probe graph beam rank score batch stream write "
    "read upsert delete compact split join group window sketch bloom hash"
).split()

# one serving cycle: five query shapes and four metadata lookups (the
# reference's agent issues both; a get costs a fifth of a query here).
# A page lookup reads two keyset pages, so a cycle is always 11 ops. A
# run measures one cycle, so each metric needs several samples of it:
# four single-query calls, six gets. A run starts a Spark session and
# loads a collection, about 40 s of fixed cost, so the cycle is kept
# short enough for the benchmark's runs to fit their time budget.
SERVE_KINDS = (
    "probe", "filtered_half", "filtered_tenth", "batch", "texts",
    "get_ids", "get_ids", "page_half", "page_tenth",
)
PAGE_LIMIT = 20
PAGES = 2
# one ingest cycle: an upsert (a changed file's rewritten bodies plus a
# new file) and a delete (a removed file); the initial load is the add.
# The order is fixed so every seed runs the same kinds in the same places
# and only the rows differ.
COMMIT_KINDS = ("upsert", "delete")


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=-1, keepdims=True)


def _rid(seed: int, *parts) -> int:
    """Deterministic sub-seed for one named stream of a run."""
    h = hashlib.sha256(repr((seed,) + parts).encode()).hexdigest()
    return int(h[:15], 16)


class Elements:
    """Ledger of the live code elements of one collection: ids in insert
    order, their vectors, documents and metadata. The benchmark mutates it
    in step with every write it sends, so it is also the oracle."""

    def __init__(self, seed: int, stream: str):
        rng = np.random.default_rng(_rid(seed, stream, "centroids"))
        self.centroids = _unit(rng.normal(size=(N_TOPICS, DIM)))
        self.rng = np.random.default_rng(_rid(seed, stream, "rows"))
        self.rows: dict = {}  # id -> (vec, document, meta)
        self.next_file = 0
        self.corpus_files: list = []

    def _lang_cycle(self, n: int) -> list:
        pool = [lang for lang, k in LANG_SHARES for _ in range(k)]
        out = [pool[i % len(pool)] for i in range(n)]
        self.rng.shuffle(out)
        return out

    def _vector(self, topic: int) -> np.ndarray:
        v = self.centroids[topic] + TOPIC_NOISE * self.rng.normal(size=DIM)
        return np.round(_unit(v), 6)

    def _document(self, topic: int, name: str, etype: str) -> str:
        pick = self.rng.integers(0, len(WORDS), size=6)
        words = " ".join(WORDS[(topic + int(i)) % len(WORDS)] for i in pick)
        return f"{name} {etype}\ntopic{topic} {words}"

    def new_file(self, n_elements: int, lang: "str | None" = None) -> list:
        """Rows for one new source file: one lang, one topic-heavy mix."""
        fid = self.next_file
        self.next_file += 1
        langs = self._lang_cycle(20)
        lang = lang or langs[0]
        path = f"src/pkg{fid % 13}/mod{fid}{LANG_EXT[lang]}"
        topic0 = int(self.rng.integers(0, N_TOPICS))
        out = []
        for j in range(n_elements):
            etype = ELEMENT_TYPES[lang][j % len(ELEMENT_TYPES[lang])]
            start = 1 + 7 * j
            topic = topic0 if self.rng.random() < 0.6 else int(self.rng.integers(0, N_TOPICS))
            name = f"{etype[:2]}_{fid}_{j}"
            doc = self._document(topic, name, etype)
            digest = hashlib.md5(doc.encode()).hexdigest()[:8]
            out.append(
                (
                    f"{path}:{start}:{digest}",
                    self._vector(topic),
                    doc,
                    {"element_type": etype, "file_path": path, "lang": lang, "start_line": start},
                )
            )
        return out

    def corpus(self, n: int, per_file: int = 10) -> list:
        """``n`` rows over n/per_file files with an exact lang mix."""
        langs = self._lang_cycle(max(1, n // per_file))
        out = []
        for lang in langs:
            out.extend(self.new_file(per_file, lang))
            self.corpus_files.append(out[-1][3]["file_path"])
        return out[:n]

    def changed(self, ids: list) -> list:
        """Replacement rows for existing ids: a rewritten body (new
        document and a vector pulled toward another topic)."""
        out = []
        for i in ids:
            vec, doc, meta = self.rows[i]
            topic = int(self.rng.integers(0, N_TOPICS))
            v = np.round(_unit(vec + self._vector(topic)), 6)
            out.append((i, v, doc + f"\nedited topic{topic}", dict(meta)))
        return out

    def apply(self, rows: list) -> None:
        for i, vec, doc, meta in rows:
            self.rows[i] = (vec, doc, meta)

    def remove(self, ids: list) -> None:
        for i in ids:
            del self.rows[i]

    def live_files(self) -> list:
        return sorted({m["file_path"] for _, _, m in self.rows.values()})

    def ids_of_file(self, path: str) -> list:
        return sorted(i for i, (_, _, m) in self.rows.items() if m["file_path"] == path)

    def matrix(self, ids: list) -> np.ndarray:
        return np.array([self.rows[i][0] for i in ids])

    def query_vector(self, near_id: "str | None" = None) -> np.ndarray:
        """A query close to a live row (or a random topic), never equal to
        any stored vector."""
        if near_id is None:
            base = self.centroids[int(self.rng.integers(0, N_TOPICS))]
        else:
            base = self.rows[near_id][0]
        return np.round(_unit(base + 0.25 * self.rng.normal(size=DIM)), 6)


def passes(meta: dict, where: "dict | None") -> bool:
    """Oracle for the two where shapes the benchmark sends."""
    if where is None:
        return True
    ((col, cond),) = where.items()
    if isinstance(cond, dict):
        return meta[col] in cond["$in"]
    return meta[col] == cond


def serve_cycle(ledger: Elements, seed: int, cycle: int) -> list:
    """One serving cycle: each entry of SERVE_KINDS once, in a seeded
    order, with seeded arguments. Each op is (kind, args)."""
    rng = random.Random(_rid(seed, "serve", cycle))
    ids = sorted(ledger.rows)
    kinds = list(SERVE_KINDS)
    rng.shuffle(kinds)
    ops = []
    for kind in kinds:
        near = ids[rng.randrange(len(ids))]
        if kind == "probe":
            args = {"vectors": [ledger.query_vector(near)], "where": None}
        elif kind == "filtered_half":
            args = {"vectors": [ledger.query_vector(near)], "where": WHERE_HALF}
        elif kind == "filtered_tenth":
            args = {"vectors": [ledger.query_vector(near)], "where": WHERE_TENTH}
        elif kind == "batch":
            picks = [ids[rng.randrange(len(ids))] for _ in range(8)]
            args = {"vectors": [ledger.query_vector(p) for p in picks], "where": None}
        elif kind == "texts":
            topic = rng.randrange(N_TOPICS)
            words = " ".join(rng.choice(WORDS) for _ in range(4))
            args = {"text": f"topic{topic} {words}"}
        elif kind == "get_ids":
            args = {"ids": sorted(rng.sample(ids, 10))}
        else:  # page_half / page_tenth: keyset pages after a random id that
            # leaves at least PAGES full pages, so every cycle reads them all
            where = WHERE_HALF if kind == "page_half" else WHERE_TENTH
            keep = [i for i in ids if passes(ledger.rows[i][2], where)]
            after = keep[rng.randrange(len(keep) - PAGES * PAGE_LIMIT)]
            args = {"where": where, "after_id": after, "limit": PAGE_LIMIT, "pages": PAGES}
        ops.append((kind, args))
    return ops


def commit(ledger: Elements, seed: int, index: int) -> tuple:
    """The ``index``-th commit of the ingest stream: (kind, path, rows,
    ids). ``path`` is the corpus file it changes or removes, ``rows`` are
    written (upsert), ``ids`` are the ids the commit touches (deleted ids
    for a delete). The ledger is NOT updated here."""
    kind = COMMIT_KINDS[index % len(COMMIT_KINDS)]
    rng = random.Random(_rid(seed, "commit", index))
    # changed and removed files come from the initial corpus, so every
    # seed touches files of one size
    live = set(ledger.live_files())
    path = rng.choice([p for p in ledger.corpus_files if p in live])
    if kind == "upsert":
        old = ledger.ids_of_file(path)
        rows = ledger.changed(rng.sample(old, min(len(old), 8)))
        rows += ledger.new_file(12)
        return kind, path, rows, [r[0] for r in rows]
    return kind, path, [], ledger.ids_of_file(path)


# ------------------------------------------------------------ source tree

def _py_source(i: int, bodies: list) -> str:
    # the class comes first so an appended function shifts no other element
    out = [f'"""module {i}."""', "import os", ""]
    out += [f"class C{i}:", f'    """holder {i}."""', "", "    def m(self):", f"        return os.sep * {i % 5}", ""]
    for j, k in enumerate(bodies):
        out += [f"def f_{i}_{j}(x):", f'    """{WORDS[(i + j) % len(WORDS)]} step {j}."""', f"    return x * {k}", ""]
    return "\n".join(out)


def _js_source(i: int, bodies: list) -> str:
    return "".join(
        f"function g_{i}_{j}(a) {{\n  return a + {k};\n}}\n\n" for j, k in enumerate(bodies)
    )


def _md_source(i: int, bodies: list) -> str:
    # no trailing newline: the last section's body then ends at its own
    # text, and an appended section leaves it unchanged
    return "\n".join(
        f"# Section {i}.{j}\n\n{WORDS[(i + j) % len(WORDS)]} note {k}\n" for j, k in enumerate(bodies)
    )


def _txt_source(i: int, bodies: list) -> str:
    return "".join(f"line {j} of file {i}: {k}\n" for j, k in enumerate(bodies))


_SOURCES = {".py": _py_source, ".js": _js_source, ".ts": _js_source, ".md": _md_source, ".txt": _txt_source}
# elements the reference's chunkers emit per file, given its body count
_ELEMENTS = {
    ".py": lambda n: n + 3,  # functions + import + class + method
    ".js": lambda n: n,
    ".ts": lambda n: n,
    ".md": lambda n: n,
    ".txt": lambda n: 0,  # not a source extension: the scan skips it
}
TREE_EXTS = (".py", ".py", ".md", ".js", ".ts", ".txt")


class SourceTree:
    """A generated repository: file -> list of function-body constants.
    Files render deterministically from that state, so edits are exact:
    a body edit changes one element in place, an append adds one."""

    def __init__(self, seed: int, n_files: int):
        self.rng = random.Random(_rid(seed, "tree"))
        self.files: dict = {}
        for i in range(n_files):
            ext = TREE_EXTS[i % len(TREE_EXTS)]
            n = 4 if ext != ".txt" else 60
            self.files[f"pkg{i % 9}/m{i}{ext}"] = [self.rng.randrange(1, 1000) for _ in range(n)]

    def render(self, rel: str) -> str:
        i = int(rel.rsplit("/m", 1)[1].split(".")[0])
        ext = "." + rel.rsplit(".", 1)[1]
        return _SOURCES[ext](i, self.files[rel])

    def indexed_files(self) -> int:
        return sum(1 for rel in self.files if not rel.endswith(".txt"))

    def expected_elements(self) -> int:
        return sum(_ELEMENTS["." + rel.rsplit(".", 1)[1]](len(b)) for rel, b in self.files.items())

    def edit_round(self, n_files: int) -> tuple:
        """Edit ``n_files`` indexed files: alternately rewrite one body in
        place or append one function. Returns (touched paths, changed
        elements, added elements)."""
        cands = sorted(rel for rel in self.files if not rel.endswith(".txt"))
        touched = self.rng.sample(cands, n_files)
        changed = added = 0
        for k, rel in enumerate(touched):
            bodies = self.files[rel]
            if k % 2 == 0:
                j = self.rng.randrange(len(bodies))
                bodies[j] = bodies[j] % 997 + 1000  # always a new constant
                changed += 1
            else:
                bodies.append(self.rng.randrange(1, 1000))
                added += 1
        return touched, changed, added
