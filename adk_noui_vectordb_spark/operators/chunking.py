"""Chunking operators — the reference's table-generating (flatMap) stage.

The reference parses one file into many "code element" rows (SURVEY.md
section 2.7): tree-sitter AST walk, markdown heading splitter, and a
fixed-50-line fallback (reference: coding_agent/tools/indexing_agent.py:
150-240, 242-288, 290-312). All three are one-row-to-many-rows.

Spark-first: the line/word chunkers and the markdown sectioner are PURE SQL
(posexplode + window + groupBy) — no Python in the row path, fully
parallel, and the groupBy shuffles on (doc, chunk) which is perfectly
balanced at any scale. The reference's tree-sitter walk is the one
genuinely imperative piece; it is reimplemented without native deps as
``chunk_python_ast`` (stdlib ``ast``) and ``chunk_js_elements`` (heuristic
js/ts extractor). ``indexing.build_index`` routes each file to one of
them, to the markdown sectioner or to the fixed-line chunker.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table


def _reassemble(order_col: str, value_col: str) -> Column:
    """Order-correct string reassembly under groupBy: collect (pos, value)
    structs, sort by pos, join. collect_list alone is NOT order-stable."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(order_col, value_col))),
            lambda s: s[value_col],
        ),
        " ",
    )


def chunk_fixed_words(
    spark: SparkSession, sf_dir: str, chunk_size: int = 20
) -> DataFrame:
    """Fixed-size chunks over the documents corpus (word granularity — the
    testdata corpus is single-line, so words stand in for the reference's
    50-line chunks, indexing_agent.py:290-312; names follow its
    ``chunk_<i>`` convention)."""
    d = load_table(spark, sf_dir, "documents")
    tokens = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word"),
    )
    chunk_id = F.floor(F.col("pos") / chunk_size).cast("int")
    return (
        tokens.withColumn("chunk_id", chunk_id)
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.min("pos").alias("start_pos"),
            F.max("pos").alias("end_pos"),
            F.count(F.lit(1)).alias("n_words"),
            _reassemble("pos", "word").alias("chunk_text"),
        )
        .withColumn(
            "chunk_name", F.concat(F.lit("chunk_"), F.col("chunk_id").cast("string"))
        )
    )


def chunk_fixed_lines(lines_df: DataFrame, chunk_size: int = 50) -> DataFrame:
    """The reference's exact fallback chunker shape over a (path, content)
    corpus: 50-line blocks, whitespace-only blocks skipped, 1-based line
    spans (indexing_agent.py:290-312).

    Input: DataFrame(path string, content string). Output: one row per
    non-blank chunk with (path, name, element_type, start_line, end_line,
    content).
    """
    lines = lines_df.select(
        "path", F.posexplode(F.split(F.col("content"), "\n")).alias("pos", "line")
    )
    chunked = lines.withColumn(
        "chunk_id", F.floor(F.col("pos") / chunk_size).cast("int")
    )
    joined = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "line"))),
            lambda s: s["line"],
        ),
        "\n",
    )
    return (
        chunked.groupBy("path", "chunk_id")
        .agg(
            (F.min("pos") + 1).alias("start_line"),
            (F.max("pos") + 1).alias("end_line"),
            joined.alias("content"),
        )
        .filter(F.regexp_replace(F.col("content"), r"\s", "") != "")
        .select(
            "path",
            F.concat(F.lit("chunk_"), F.col("chunk_id").cast("string")).alias("name"),
            F.lit("text_chunk").alias("element_type"),
            "start_line",
            "end_line",
            "content",
        )
    )


def chunk_markdown_sections(md_df: DataFrame) -> DataFrame:
    """Markdown heading sectioner as window algebra (indexing_agent.py:242-288).

    The reference's sequential "current heading" loop is the classic running
    ``last(_, ignorenulls=True)`` window; sections are then grouped on the
    running heading-count. Blank sections are dropped, matching the
    reference's skip (indexing_agent.py:266,274).

    Input: DataFrame(path string, content string) of markdown files.
    Output: (path, name, element_type='markdown_section', start_line,
    end_line, content) — content EXCLUDES the heading line itself, matching
    the reference (section_content accumulates only lines after the
    heading).
    """
    lines = md_df.select(
        "path", F.posexplode(F.split(F.col("content"), "\n")).alias("pos", "line")
    )
    is_heading = F.trim(F.col("line")).startswith("#")
    flagged = lines.withColumn("is_heading", is_heading.cast("int")).withColumn(
        "heading_text",
        F.when(
            is_heading, F.trim(F.regexp_replace(F.trim(F.col("line")), "^#+", ""))
        ),
    )
    w = (
        Window.partitionBy("path")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sectioned = flagged.withColumn("section_id", F.sum("is_heading").over(w)).withColumn(
        "section_name",
        F.coalesce(F.last("heading_text", ignorenulls=True).over(w), F.lit("Introduction")),
    )
    body = sectioned.filter(F.col("is_heading") == 0)
    joined = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "line"))),
            lambda s: s["line"],
        ),
        "\n",
    )
    return (
        body.groupBy("path", "section_id", "section_name")
        .agg(
            (F.min("pos") + 1).alias("start_line"),
            (F.max("pos") + 1).alias("end_line"),
            joined.alias("content"),
        )
        .filter(F.regexp_replace(F.col("content"), r"\s", "") != "")
        .select(
            "path",
            F.col("section_name").alias("name"),
            F.lit("markdown_section").alias("element_type"),
            "start_line",
            "end_line",
            "content",
        )
    )


PY_AST_SCHEMA = (
    "path string, name string, element_type string, "
    "start_line int, end_line int, content string, docstring string"
)

_FALLBACK_CHUNK_LINES = 50


def chunk_python_ast(source_df: DataFrame, chunk_size: int = _FALLBACK_CHUNK_LINES) -> DataFrame:
    """AST-based Python chunking — the reference's core extraction operator
    (indexing_agent.py:150-240) on stdlib ``ast`` instead of tree-sitter
    (zero native deps; also sidesteps the reference's 'function_def'
    node-type bug, SURVEY.md §2.7a — the correct tree-sitter type is
    'function_definition', so the reference never actually emitted
    functions).

    Runs ``ast.parse`` per file inside ``mapInPandas`` — a NARROW op (no
    shuffle): each Arrow batch of (path, content) rows maps to element
    rows. Emitted, matching the reference's walk:

    - every function/method def -> 'function' (the reference's recursive
      traverse_node also descends into class bodies), with its docstring
      (indexing_agent.py:227-240) and exact source line span;
    - every class def -> 'class' with docstring;
    - every import / import-from -> 'import' named 'import'
      (indexing_agent.py:197-198);
    - content = the source lines [start_line-1:end_line] joined, the
      reference's slice (indexing_agent.py:181-183).

    Files that do not parse fall back to the reference's fixed-line text
    chunks (indexing_agent.py:290-312) so one bad file cannot poison a
    batch — at 100 TB some fraction of any corpus is malformed.
    """

    def extract(batches):
        import ast as ast_mod

        import pandas as pd

        cols = (
            "path",
            "name",
            "element_type",
            "start_line",
            "end_line",
            "content",
            "docstring",
        )
        for pdf in batches:
            out = {k: [] for k in cols}

            def emit(path, name, etype, start, end, content, ds):
                out["path"].append(path)
                out["name"].append(name)
                out["element_type"].append(etype)
                out["start_line"].append(start)
                out["end_line"].append(end)
                out["content"].append(content)
                out["docstring"].append(ds)

            for path, content in zip(pdf["path"], pdf["content"]):
                lines = content.split("\n")
                try:
                    tree = ast_mod.parse(content)
                except SyntaxError:
                    for c0 in range(0, len(lines), chunk_size):
                        seg = lines[c0 : c0 + chunk_size]
                        text = "\n".join(seg)
                        if not "".join(text.split()):
                            continue
                        emit(
                            path,
                            f"chunk_{c0 // chunk_size}",
                            "text_chunk",
                            c0 + 1,
                            c0 + len(seg),
                            text,
                            "",
                        )
                    continue
                for node in ast_mod.walk(tree):
                    if isinstance(
                        node, (ast_mod.FunctionDef, ast_mod.AsyncFunctionDef)
                    ):
                        etype, name = "function", node.name
                        ds = ast_mod.get_docstring(node, clean=False) or ""
                    elif isinstance(node, ast_mod.ClassDef):
                        etype, name = "class", node.name
                        ds = ast_mod.get_docstring(node, clean=False) or ""
                    elif isinstance(node, (ast_mod.Import, ast_mod.ImportFrom)):
                        etype, name, ds = "import", "import", ""
                    else:
                        continue
                    start, end = node.lineno, node.end_lineno
                    emit(
                        path,
                        name,
                        etype,
                        start,
                        end,
                        "\n".join(lines[start - 1 : end]),
                        ds,
                    )
            df = pd.DataFrame(out)
            df["start_line"] = df["start_line"].astype("int32")
            df["end_line"] = df["end_line"].astype("int32")
            yield df

    return source_df.select("path", "content").mapInPandas(extract, PY_AST_SCHEMA)


JS_SCHEMA = (
    "path string, name string, element_type string, "
    "start_line int, end_line int, content string"
)

# Control-flow keywords that look like `name(...) {` inside a class body
# but are NOT method definitions.
_JS_KEYWORDS = frozenset(
    "if for while switch catch return else do with new try function".split()
)

import re as _re

# One whole-file alternation pass: earliest-match-wins makes the
# constructs mutually exclusive (a backtick inside a block comment opens
# nothing, a /* inside a string closes nothing). Multi-line spans are
# replaced newline-preserving so line numbers and per-line brace counts
# stay aligned with the original source.
_JS_SANITIZE_RE = _re.compile(
    r"'(?:\\.|[^'\\\n])*'"  # single-quoted string (one line)
    r"|\"(?:\\.|[^\"\\\n])*\""  # double-quoted string (one line)
    r"|`(?:\\.|[^`\\])*`"  # template literal (may span lines)
    r"|/\*.*?\*/"  # block comment (may span lines)
    r"|/\*.*\Z"  # unterminated block comment at EOF
    r"|//[^\n]*",  # line comment
    _re.S,
)


def _js_scrub(m: "_re.Match[str]") -> str:
    s = m.group(0)
    nl = "\n" * s.count("\n")
    # keep an inert literal token where a string/template stood so
    # declaration-shaped lines still match their regexes
    return ("''" + nl) if s[0] in "'\"`" else nl


# Characters after which a `/` opens a REGEX LITERAL, not division —
# expression-start positions (the standard pre-scanner heuristic used by
# formatter front-ends; division can only follow a value: identifier,
# number, `)`, `]`, `}`, or a string/our inert `''` token).
_JS_REGEX_PREV_CHARS = frozenset("=([{,;:!&|?+-*%^~<>")
# ...and keywords after which a `/` is likewise a regex
# (`return /x/.test(s)`, `case /x/:`, `typeof /x/`, ...).
_JS_REGEX_PREV_WORDS = frozenset(
    "return case typeof instanceof in of do else void delete new throw "
    "yield await".split()
)

# Cheap routing hint: a `/` in expression-start position that is not a
# comment opener means the source MAY contain regex literals, so it takes
# the exact scanner. False positives only cost speed (the scanner is
# semantically identical for regex-free sources); a miss keeps the old
# behavior.
_JS_REGEX_HINT_RE = _re.compile(
    r"(?:^|[\r\n]|[=(\[{,;:!&|?+\-*%^~<>]|\b(?:return|case|typeof|instanceof|"
    r"in|of|do|else|void|delete|new|throw|yield|await)\b)\s*/[^/*=]"
)


def _sanitize_js_scan(src: str) -> str:
    """Single-pass scanner twin of the regex sanitizer for sources
    containing ``${`` interpolations or regex literals.

    Interpolations: a template literal's interpolation can hold braces,
    comments, strings, and NESTED template literals — pairing those
    backticks correctly needs a stack, which a regex alternation cannot
    express (the regex would close the outer template at the nested
    template's opening backtick and leak interpolation braces into the
    depth count).

    Regex literals (r7): a ``/`` in expression-start position (after
    ``= ( [ { , ; : ! & | ? + - * % ^ ~ < >`` or a keyword like
    ``return``) opens a regex literal — ``/[{]/`` would otherwise leak a
    spurious brace into the depth count. The literal is skipped to its
    unescaped closing ``/`` honoring ``[...]`` character classes (where
    ``/`` is literal) and replaced by the inert ``''`` token. The
    division-vs-regex decision is the standard pre-scanner heuristic
    (division can only FOLLOW a value); an unterminated candidate (no
    close before the newline) is treated as plain division. Reference
    fidelity target: the tree-sitter walk at indexing_agent.py:150-240,
    which parses these for free."""
    out: list[str] = []
    n = len(src)

    def skip_string(i: int, quote: str) -> int:
        i += 1
        while i < n and src[i] not in (quote, "\n"):
            if src[i] == "\\" and i + 1 < n:
                i += 1
            i += 1
        return i + 1 if i < n and src[i] == quote else i

    def skip_block_comment(i: int) -> int:
        j = src.find("*/", i + 2)
        if j == -1:
            out.append("\n" * src.count("\n", i))
            return n
        out.append("\n" * src.count("\n", i, j))
        return j + 2

    def skip_line_comment(i: int) -> int:
        while i < n and src[i] != "\n":
            i += 1
        return i

    def skip_template(i: int) -> int:
        i += 1  # opening backtick
        while i < n:
            c = src[i]
            if c == "\\" and i + 1 < n:
                i += 2
            elif c == "`":
                return i + 1
            elif c == "\n":
                out.append("\n")
                i += 1
            elif c == "$" and i + 1 < n and src[i + 1] == "{":
                i = skip_interp(i + 2)
            else:
                i += 1
        return i

    def regex_end(i: int) -> int:
        """End index (past flags) of a regex literal opening at
        ``src[i] == '/'``, or -1 if no unescaped close before the newline
        (then the slash was division after all). Inside ``[...]`` a ``/``
        is literal; ``\\x`` escapes anywhere."""
        j = i + 1
        in_class = False
        while j < n and src[j] != "\n":
            c = src[j]
            if c == "\\" and j + 1 < n:
                j += 2
                continue
            if in_class:
                if c == "]":
                    in_class = False
            elif c == "[":
                in_class = True
            elif c == "/":
                j += 1
                while j < n and (src[j].isalnum() or src[j] in "_$"):
                    j += 1  # regex flags
                return j
            j += 1
        return -1

    def regex_opens(prev: str, word: str) -> bool:
        return (
            prev == ""
            or prev in _JS_REGEX_PREV_CHARS
            or word in _JS_REGEX_PREV_WORDS
        )

    def skip_interp(i: int) -> int:
        depth = 1
        prev = "{"  # interpolation body starts in expression position
        word = ""
        while i < n and depth:
            c = src[i]
            if c in "'\"":
                i = skip_string(i, c)
                prev, word = "'", ""
            elif c == "`":
                i = skip_template(i)
                prev, word = "'", ""
            elif c == "/" and i + 1 < n and src[i + 1] == "*":
                i = skip_block_comment(i)
            elif c == "/" and i + 1 < n and src[i + 1] == "/":
                i = skip_line_comment(i)
            elif c == "/" and regex_opens(prev, word) and regex_end(i) != -1:
                i = regex_end(i)
                prev, word = "'", ""
            else:
                if c == "\n":
                    out.append("\n")
                elif c == "{":
                    depth += 1
                elif c == "}":
                    depth -= 1
                if not c.isspace():
                    prev = c
                    word = word + c if (c.isalnum() or c in "_$") else ""
                i += 1
        return i

    i = 0
    prev = ""  # last meaningful (non-space) char of the sanitized stream
    word = ""  # trailing identifier run, for keyword-preceded regexes
    while i < n:
        c = src[i]
        if c in "'\"":
            out.append("''")
            prev, word = "'", ""
            i = skip_string(i, c)
        elif c == "`":
            out.append("''")
            prev, word = "'", ""
            i = skip_template(i)
        elif c == "/" and i + 1 < n and src[i + 1] == "*":
            i = skip_block_comment(i)
        elif c == "/" and i + 1 < n and src[i + 1] == "/":
            i = skip_line_comment(i)
        elif c == "/" and regex_opens(prev, word) and regex_end(i) != -1:
            out.append("''")
            prev, word = "'", ""
            i = regex_end(i)
        else:
            out.append(c)
            if not c.isspace():
                prev = c
                word = word + c if (c.isalnum() or c in "_$") else ""
            i += 1
    return "".join(out)


def sanitize_js(content: str) -> str:
    """Strip strings/comments/template literals/regex literals
    newline-preserving before brace counting. The regex alternation is
    the fast (C-speed) path; a ``${`` anywhere means interpolations may
    nest templates/braces, and a ``/`` in expression-start position
    means regex literals (whose char classes can hold braces) may be
    present — either routes the source to the exact scanner instead."""
    if "${" in content or _JS_REGEX_HINT_RE.search(content):
        return _sanitize_js_scan(content)
    return _JS_SANITIZE_RE.sub(_js_scrub, content)


def chunk_js_elements(source_df: DataFrame) -> DataFrame:
    """Heuristic JS/TS element extraction — the reference's js/ts
    tree-sitter walk (indexing_agent.py:150-240) via line/regex scanning
    with brace matching, zero native deps.

    The reference visits ``function_declaration`` / ``method_definition``
    / ``class_declaration`` / ``import_statement`` nodes
    (indexing_agent.py:165). Its extractor has NO branch for
    ``method_definition`` (indexing_agent.py:210-225 handles only the
    other three), so methods are silently dropped — the same class of bug
    as its Python 'function_def' node-type typo. As with the Python path,
    we emit them (as 'function', matching how the reference's recursive
    walk labels nested defs) rather than reproducing the drop.

    Heuristics (documented preconditions, same spirit as the reference's
    line-slice extraction):
    - string literals, ``//`` comments, ``/* */`` block comments, and
      backtick template literals (both possibly spanning lines) are
      stripped before brace counting, newline-preserving so reported
      line numbers stay exact;
    - an import is a line whose stripped text starts with ``import``
      (single-line imports, the overwhelmingly common form);
    - function/class declarations are recognized at top-level brace depth,
      method definitions at depth class+1 inside a class body;
    - spans run from the declaration line to the line that closes its
      brace, content = the exact source line slice
      (indexing_agent.py:207-208).

    Runs per-file inside ``mapInPandas`` — a NARROW op, no shuffle, same
    scale shape as ``chunk_python_ast``.
    """

    def extract(batches):
        import re

        import pandas as pd

        import_re = re.compile(r"^\s*import\b")
        func_re = re.compile(
            r"^\s*(?:export\s+)?(?:default\s+)?(?:async\s+)?"
            r"function\s*\*?\s*([A-Za-z_$][\w$]*)"
        )
        class_re = re.compile(
            r"^\s*(?:export\s+)?(?:default\s+)?(?:abstract\s+)?"
            r"class\s+([A-Za-z_$][\w$]*)"
        )
        method_re = re.compile(
            r"^\s*(?:static\s+)?(?:async\s+)?(?:get\s+|set\s+)?\*?\s*"
            r"([A-Za-z_$][\w$]*)\s*\([^)]*\)\s*\{"
        )
        cols = ("path", "name", "element_type", "start_line", "end_line",
                "content")

        for pdf in batches:
            out = {k: [] for k in cols}

            def emit(path, name, etype, start, end, lines):
                out["path"].append(path)
                out["name"].append(name)
                out["element_type"].append(etype)
                out["start_line"].append(start)
                out["end_line"].append(end)
                out["content"].append("\n".join(lines[start - 1 : end]))

            for path, content in zip(pdf["path"], pdf["content"]):
                lines = content.split("\n")  # original, for emitted slices
                slines = sanitize_js(content).split("\n")
                depth = 0
                stack = []  # open constructs: (kind, name, start, open_depth)
                for ln, stripped in enumerate(slines, start=1):
                    in_class = bool(stack) and stack[-1][0] == "class"
                    if import_re.match(stripped):
                        emit(path, "import", "import", ln, ln, lines)
                    else:
                        fm = func_re.match(stripped)
                        cm = class_re.match(stripped)
                        mm = method_re.match(stripped)
                        if fm and depth == 0:
                            stack.append(("function", fm.group(1), ln, depth))
                        elif cm and depth == 0:
                            stack.append(("class", cm.group(1), ln, depth))
                        elif (
                            mm
                            and in_class
                            and depth == stack[-1][3] + 1
                            and mm.group(1) not in _JS_KEYWORDS
                        ):
                            stack.append(("function", mm.group(1), ln, depth))
                    depth += stripped.count("{") - stripped.count("}")
                    while stack and depth <= stack[-1][3]:
                        kind, name, start, _ = stack.pop()
                        emit(path, name, kind, start, ln, lines)
            df = pd.DataFrame(out)
            df["start_line"] = df["start_line"].astype("int32")
            df["end_line"] = df["end_line"].astype("int32")
            yield df

    return source_df.select("path", "content").mapInPandas(extract, JS_SCHEMA)

