"""Text-analysis expressions (tokenization, quality stats) — pure Catalyst.

The reference's text surface is rule-based line scanning (reference:
coding_agent/tools/lsp_tool.py:122-278 — length thresholds, trailing
whitespace, substring predicates) plus whitespace-ish chunking (reference:
coding_agent/tools/indexing_agent.py:290-312). All of it is expressible as
built-in string functions, so the hot path stays inside whole-stage codegen —
no Python per row, which is what makes these usable over a 100 TB corpus.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic small stopword list (shared verbatim with the DuckDB oracles).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def whitespace_tokens(text: Column) -> Column:
    return F.split(text, " ")


# Accent-fold table for the 'folded' analyzer: an EXPLICIT character map
# (not a locale/ICU call) so Spark's translate(), DuckDB's translate()
# and Python's str.translate() produce byte-identical folds — the
# cross-engine-tokenization contract every oracle twin rides on.
FOLD_SRC = "ÁÀÂÄÅÃÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÑÇÝáàâäåãéèêëíìîïóòôöõúùûüñçý"
FOLD_DST = "AAAAAAEEEEIIIIOOOOOUUUUNCYaaaaaaeeeeiiiiooooouuuuncy"

ANALYZERS = ("raw", "folded")


def analyzed_tokens(text: Column, analyzer: str = "raw") -> Column:
    """The index token pipeline, selected by ANALYZER (r12 — a
    versioned-index OPTION recorded in the index sidecar):

    - 'raw' (default, the pre-r12 behavior verbatim): whitespace split.
    - 'folded': accent-fold (the explicit FOLD table) → lowercase →
      whitespace split → drop empties and STOPWORDS. The Lucene-style
      normalizing analyzer; tf/df/dl all measure the folded universe.

    One expression serves the build, the incremental update, and (via
    ``analyze_terms_py``) the client-side query-term normalization, so
    the two sides can never disagree — and the DuckDB oracle twins run
    the same translate/lower/list_filter chain."""
    if analyzer == "raw":
        return whitespace_tokens(text)
    if analyzer == "folded":
        folded = F.lower(F.translate(text, FOLD_SRC, FOLD_DST))
        toks = F.split(folded, " ")
        return F.filter(
            toks, lambda t: (t != F.lit("")) & ~t.isin(*STOPWORDS)
        )
    raise ValueError(f"unknown analyzer {analyzer!r} — expected {ANALYZERS}")


def analyze_terms_py(terms, analyzer: str = "raw") -> tuple:
    """Client-side query-term twin of ``analyzed_tokens`` (the probe
    terms must be normalized exactly like the indexed tokens)."""
    if analyzer == "raw":
        return tuple(terms)
    if analyzer == "folded":
        table = str.maketrans(FOLD_SRC, FOLD_DST)
        out = []
        for t in terms:
            t2 = t.translate(table).lower()
            if t2 and t2 not in STOPWORDS:
                out.append(t2)
        return tuple(out)
    raise ValueError(f"unknown analyzer {analyzer!r} — expected {ANALYZERS}")


def stopword_ratio(text: Column) -> Column:
    words = whitespace_tokens(F.lower(text))
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    n = F.size(words)
    return F.when(n > 0, n_stop / n.cast("double")).otherwise(F.lit(0.0))
