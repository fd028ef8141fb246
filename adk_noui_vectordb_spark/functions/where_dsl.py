"""ChromaDB ``where`` / ``where_document`` filter DSL → Spark Column,
SQL and a pyarrow mask.

The reference drives every filtered read through ChromaDB's metadata
filter dict (coding_agent/tools/vector_search_tool.py:39-46 builds
``where={"file_type": ...}``; :166 ``where={"element_type": ...}``;
:219 ``where={"file_path": ...}``) — the equality SHORTHAND of
ChromaDB's public filter grammar. A user switching from the reference
owns queries written in the full grammar, so this module compiles all
of it:

``where`` (metadata):
    {field: value}                       — shorthand for {"$eq": value}
    {field: {"$eq"|"$ne"|"$gt"|"$gte"|"$lt"|"$lte": value}}
    {field: {"$in"|"$nin": [v, ...]}}
    {"$and"|"$or": [where, where, ...]}  — >= 2 branches
    {f1: ..., f2: ...}                   — implicit AND across fields

``where_document`` (text):
    {"$contains": "substr"} | {"$not_contains": "substr"}
    {"$and"|"$or": [where_document, ...]}

One tree walk (``_walk`` / ``_walk_doc``) validates a filter and folds
it through a target's leaf and AND/OR rules. ``compile_where`` is the
dict→``pyspark.sql.Column`` fold — the output is
ordinary Catalyst predicates (EqualTo / GreaterThan / In / Contains /
And / Or / Not), so filter pushdown, partition pruning and column
pruning all apply exactly as if the user had written ``F.col(...)``
by hand (pinned in tests/test_where_dsl.py: a compiled filter reaches
the parquet scan's PushedFilters). ``where_to_sql`` renders the SAME tree
as an ANSI-SQL predicate so every consumer's DuckDB oracle twin can
share one source of truth, and the property test replays random trees
cross-engine (tests/test_where_dsl.py). ``where_mask`` /
``where_document_mask`` are the third target: a numpy boolean mask over
a pyarrow table, which the collection's driver-side read path filters
with. A comparison against NULL is false there, the rows Spark's filter
drops; the negations that keep NULL (``$ne``, ``$nin``) keep it.

Scale shape: a compiled filter is a zero-cost plan node — no UDF, no
driver materialization; selectivity lives wherever the consumer puts
the predicate (metadata sidecar scan, parquet row-group skip).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

_CMP = {
    "$eq": lambda c, v: c == v,
    # ChromaDB's negation operators match rows where the field is MISSING
    # (NULL here): $ne mirrors the $nin treatment below, closing the
    # three-valued-NULL hole a plain c != v leaves open.
    "$ne": lambda c, v: (c != v) | c.isNull(),
    "$gt": lambda c, v: c > v,
    "$gte": lambda c, v: c >= v,
    "$lt": lambda c, v: c < v,
    "$lte": lambda c, v: c <= v,
}
_CMP_SQL = {"$eq": "=", "$ne": "<>", "$gt": ">", "$gte": ">=", "$lt": "<", "$lte": "<="}
_CMP_ARROW = {
    "$eq": "equal",
    "$ne": "not_equal",
    "$gt": "greater",
    "$gte": "greater_equal",
    "$lt": "less",
    "$lte": "less_equal",
}
_SCALARS = (str, int, float, bool)


def _check_scalar(op: str, v):
    if not isinstance(v, _SCALARS):
        raise ValueError(f"{op}: expected str/int/float/bool, got {type(v).__name__}")
    return v


def _check_list(op: str, v):
    if not isinstance(v, (list, tuple)) or not v:
        raise ValueError(f"{op}: expected a non-empty list")
    for x in v:
        _check_scalar(op, x)
    return list(v)


def _check_str(op: str, v) -> str:
    if not isinstance(v, str) or not v:
        raise ValueError(f"{op}: expected a non-empty string")
    return v


def _branches(op: str, v):
    if not isinstance(v, (list, tuple)) or len(v) < 2:
        raise ValueError(f"{op}: expected a list of >= 2 sub-filters")
    return v


def _field_op(field: str, spec) -> tuple:
    """The checked (operator, value) of one field's condition."""
    if not isinstance(spec, dict):
        return "$eq", _check_scalar("$eq", spec)
    if len(spec) != 1:
        raise ValueError(f"{field}: operator dict must have exactly one key, got {sorted(spec)}")
    (op, v), = spec.items()
    if op in _CMP:
        return op, _check_scalar(op, v)
    if op in ("$in", "$nin"):
        return op, _check_list(op, v)
    raise ValueError(f"{field}: unknown operator {op!r}")


def _walk(where: dict, leaf, and_, or_):
    """Fold a ``where`` tree: ``leaf(field, op, value)`` per condition,
    ``and_``/``or_`` over a list of >= 1 folded branches."""
    if not isinstance(where, dict) or not where:
        raise ValueError("where: expected a non-empty dict")
    preds = []
    for k, v in where.items():
        if k in ("$and", "$or"):
            kids = [_walk(b, leaf, and_, or_) for b in _branches(k, v)]
            preds.append(and_(kids) if k == "$and" else or_(kids))
        elif k.startswith("$"):
            raise ValueError(f"where: unknown logical operator {k!r}")
        else:
            preds.append(leaf(k, *_field_op(k, v)))
    return and_(preds)


def _walk_doc(where_document: dict, leaf, and_, or_):
    """Fold a ``where_document`` tree: ``leaf(op, substring)``."""
    if not isinstance(where_document, dict) or len(where_document) != 1:
        raise ValueError("where_document: expected a dict with exactly one key")
    (op, v), = where_document.items()
    if op in ("$contains", "$not_contains"):
        return leaf(op, _check_str(op, v))
    if op in ("$and", "$or"):
        kids = [_walk_doc(b, leaf, and_, or_) for b in _branches(op, v)]
        return and_(kids) if op == "$and" else or_(kids)
    raise ValueError(f"where_document: unknown operator {op!r}")


# ------------------------------------------------------------ Spark Column


def _fold_and(cols):
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def _fold_or(cols):
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


def _column_leaf(field: str, op: str, v) -> Column:
    c = F.col(field)
    if op in _CMP:
        return _CMP[op](c, v)
    if op == "$in":
        return c.isin(v)
    # ChromaDB $nin keeps rows whose value is outside the list; a NULL
    # metadata value is "not in" any list there, so the three-valued-NULL
    # hole is closed explicitly.
    return ~c.isin(v) | c.isNull()


def compile_where(where: dict) -> Column:
    """Compile a ChromaDB ``where`` metadata filter to a Spark Column."""
    return _walk(where, _column_leaf, _fold_and, _fold_or)


def compile_where_document(where_document: dict, text_col: str = "text") -> Column:
    """Compile a ChromaDB ``where_document`` filter against ``text_col``.

    ``$contains`` is raw SUBSTRING containment (ChromaDB's contract —
    not token match; the token-exact surface is the inverted-index
    family, operators/invindex.py).
    """
    c = F.col(text_col)
    return _walk_doc(
        where_document,
        lambda op, s: c.contains(s) if op == "$contains" else ~c.contains(s),
        _fold_and,
        _fold_or,
    )


# ---------------------------------------------------------------- SQL twin


def _sql_lit(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def _sql_leaf(field: str, op: str, v) -> str:
    if op == "$ne":
        # twin of _CMP["$ne"]: negation matches NULL (missing) values
        return f"({field} <> {_sql_lit(v)} OR {field} IS NULL)"
    if op in _CMP_SQL:
        return f"{field} {_CMP_SQL[op]} {_sql_lit(v)}"
    lst = ", ".join(_sql_lit(x) for x in v)
    if op == "$in":
        return f"{field} IN ({lst})"
    return f"({field} NOT IN ({lst}) OR {field} IS NULL)"


def _sql_join(word: str):
    return lambda ps: ps[0] if len(ps) == 1 else "(" + f" {word} ".join(ps) + ")"


def where_to_sql(where: dict) -> str:
    """Render the same ``where`` tree as an ANSI-SQL predicate (DuckDB
    oracle twin — one filter definition, two engines)."""
    return _walk(where, _sql_leaf, _sql_join("AND"), _sql_join("OR"))


def where_document_to_sql(where_document: dict, text_col: str = "text") -> str:
    """ANSI-SQL twin of ``compile_where_document`` (DuckDB oracle)."""

    def leaf(op, s):
        neg = "" if op == "$contains" else "NOT "
        return f"{neg}contains({text_col}, {_sql_lit(s)})"

    return _walk_doc(where_document, leaf, _sql_join("AND"), _sql_join("OR"))


# --------------------------------------------------------------- mask twin


def _kernel(name: str, *args):
    """A pyarrow compute call as a numpy bool array, NULL read as false."""
    try:
        out = getattr(pc, name)(*args)
    except (pa.ArrowNotImplementedError, pa.ArrowInvalid, pa.ArrowTypeError) as e:
        raise ValueError(f"where: {e}") from None
    return pc.fill_null(out, False).to_numpy(zero_copy_only=False)


def _column(table, field: str):
    if field not in table.column_names:
        raise ValueError(f"where: unknown field {field!r}")
    return table.column(field)


def _mask_leaf(table, field: str, op: str, v):
    c = _column(table, field)
    if op in ("$in", "$nin"):
        try:
            values = pa.array(v)
        except (pa.ArrowInvalid, pa.ArrowTypeError) as e:
            raise ValueError(f"{field}: {op} list of mixed types: {e}") from None
        m = _kernel("is_in", c, values)
        return m if op == "$in" else ~m | ~_kernel("is_valid", c)
    m = _kernel(_CMP_ARROW[op], c, v)
    return m | ~_kernel("is_valid", c) if op == "$ne" else m


def where_mask(where: dict, table):
    """``compile_where`` as a numpy boolean mask over the rows of a
    pyarrow ``table``."""
    return _walk(
        where,
        lambda *a: _mask_leaf(table, *a),
        np.logical_and.reduce,
        np.logical_or.reduce,
    )


def where_document_mask(where_document: dict, table, text_col: str = "text"):
    """``compile_where_document`` as a numpy boolean mask. A NULL text
    passes neither ``$contains`` nor ``$not_contains`` (Spark's NOT of
    NULL is NULL)."""

    def leaf(op, s):
        c = _column(table, text_col)
        m = _kernel("match_substring", c, s)
        return m if op == "$contains" else ~m & _kernel("is_valid", c)

    return _walk_doc(
        where_document, leaf, np.logical_and.reduce, np.logical_or.reduce
    )
