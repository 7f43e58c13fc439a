"""DuckDB-dialect shim for the *documented* query surface.

The reference forwards user SQL verbatim to DuckDB (query.py:72); we
forward to Spark SQL. Spark natively parses almost everything the
reference documents (SELECT/WHERE/GROUP BY/JOIN/ORDER BY/LIMIT/LIKE/
IS NULL/TRY_CAST/aliases), and sqlfuncs registers the DuckDB function
names (list_contains, array_cosine_similarity, ...). What remains are
two syntactic DuckDB-isms exercised by the reference's README/tests
(SURVEY §2.B B10/B11):

1. ``from_json(col, '["VARCHAR"]')`` — DuckDB schema-hint strings.
   Spark wants a DDL type: rewrite to ``from_json(col, 'array<string>')``.
2. comma-UNNEST laterals: ``FROM files, UNNEST(expr) AS t(tag)`` —
   rewrite to ``FROM files LATERAL VIEW explode(expr) t AS tag``.
3. DuckDB ``list_*`` lambda/utility functions over Spark's array
   builtins. DuckDB and Spark share the same lambda syntax
   (``x -> expr``), so most are pure function-name renames:
   ``list_filter``→``filter``, ``list_transform``→``transform``,
   ``list_sort``→``array_sort`` (both default ASC NULLS LAST),
   ``string_split_regex``→``split``. ``list_distinct`` is NOT a pure
   rename — DuckDB drops null elements where Spark keeps one — so it
   rewrites to ``filter(array_distinct(X), x -> x IS NOT NULL)``.
   Residual divergence: ELEMENT ORDER. DuckDB's list_distinct returns
   an unspecified order (observed hash-order, e.g. [2,1]); Spark
   preserves first occurrence. An unspecified order cannot be
   mirrored — the shim guarantees set equality, order-sensitive
   consumers should list_sort the result (identical in both engines).

The rewrites are deliberately conservative token-level transforms of
exactly these documented constructs; any other SQL passes through
untouched so Catalyst sees the user's query as-is.
"""

from __future__ import annotations

import re

# '["VARCHAR"]' / '[""]' / '["INTEGER"]' ... -> Spark DDL array types
_JSON_HINT_TYPES = {
    "VARCHAR": "string",
    "TEXT": "string",
    "INTEGER": "int",
    "INT": "int",
    "BIGINT": "bigint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "BOOLEAN": "boolean",
    "": "string",
}

_JSON_HINT_RE = re.compile(r"""'\[\s*"([A-Za-z]*)"\s*\]'""")

# FROM <table>, UNNEST(<expr>) AS <alias>(<col>)
_UNNEST_RE = re.compile(
    r",\s*UNNEST\s*\((?P<expr>[^()]*(?:\([^()]*(?:\([^()]*\)[^()]*)*\)[^()]*)*)\)\s+AS\s+(?P<tab>\w+)\s*\(\s*(?P<col>\w+)\s*\)",
    re.IGNORECASE,
)


def _rewrite_json_hint(sql: str) -> str:
    def repl(m: re.Match) -> str:
        duck_t = m.group(1).upper()
        spark_t = _JSON_HINT_TYPES.get(duck_t)
        if spark_t is None:
            return m.group(0)  # unknown hint: leave untouched
        return f"'array<{spark_t}>'"

    return _JSON_HINT_RE.sub(repl, sql)


def _rewrite_comma_unnest(sql: str) -> str:
    return _UNNEST_RE.sub(
        lambda m: f" LATERAL VIEW explode({m.group('expr')}) {m.group('tab')} AS {m.group('col')}",
        sql,
    )


# DuckDB list function -> Spark array builtin taking the SAME arguments
# (lambda syntax included — both engines spell it `x -> expr`).
# list_distinct is NOT here: it is not a pure rename — DuckDB drops NULL
# elements while Spark's array_distinct keeps one — so it gets its own
# balanced-paren rewrite below.
_LIST_FN_RENAMES = {
    "list_filter": "filter",
    "list_transform": "transform",
    "list_sort": "array_sort",
    "string_split_regex": "split",
}

_LIST_FN_RE = re.compile(
    r"\b(" + "|".join(_LIST_FN_RENAMES) + r")\s*\(", re.IGNORECASE
)

_LIST_DISTINCT_RE = re.compile(r"\blist_distinct\s*\(", re.IGNORECASE)


def _rewrite_list_functions(sql: str) -> str:
    sql = _LIST_FN_RE.sub(
        lambda m: _LIST_FN_RENAMES[m.group(1).lower()] + "(", sql
    )
    return _rewrite_list_distinct(sql)


# where a run opens that is not SQL code: a string literal, a quoted
# identifier or a comment
OPAQUE_RE = re.compile(r"['\"`]|--|/\*")


def skip_opaque(sql: str, i: int) -> int:
    """Index just past the string literal ('...' or "..."), backquoted
    identifier or comment opening at ``sql[i]`` — ``len(sql)`` when it
    is unterminated. Inside quotes a doubled quote escapes itself, and
    in a string literal a backslash escapes the next character (Spark
    SQL's lexer rules)."""
    n = len(sql)
    if sql.startswith("--", i):
        end = sql.find("\n", i)
        return n if end < 0 else end + 1
    if sql.startswith("/*", i):
        end = sql.find("*/", i + 2)
        return n if end < 0 else end + 2
    quote, i = sql[i], i + 1
    while i < n:
        ch = sql[i]
        if ch == "\\" and quote != "`":
            i += 2
        elif ch != quote:
            i += 1
        elif sql[i + 1 : i + 2] == quote:
            i += 2
        else:
            return i + 1
    return n


def _rewrite_list_distinct(sql: str) -> str:
    """``list_distinct(X)`` -> ``filter(array_distinct(X), x -> x IS NOT
    NULL)``: DuckDB's list_distinct REMOVES null elements, Spark's
    array_distinct keeps one — a bare rename would silently change
    results on arrays containing nulls. The argument is found by
    balanced-paren scan (quote-aware), innermost-first so nested calls
    rewrite correctly."""
    while True:
        m = _LIST_DISTINCT_RE.search(sql)
        if not m:
            return sql
        depth, i, n = 1, m.end(), len(sql)
        while i < n and depth:
            if OPAQUE_RE.match(sql, i):
                i = skip_opaque(sql, i)
                continue
            ch = sql[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            i += 1
        if depth:  # unbalanced: leave untouched rather than corrupt
            return sql
        arg = sql[m.end() : i - 1]
        sql = (
            sql[: m.start()]
            + "filter(array_distinct("
            + arg
            + "), __ld_x -> __ld_x IS NOT NULL)"
            + sql[i:]
        )


_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
# A sort-item list ends at a set-op/limit keyword — or, inside an OVER(...)
# window spec, at the frame clause (ROWS/RANGE/GROUPS ...).  The frame
# keywords only terminate when followed by frame syntax, so a column
# literally named "rows" or "groups" still parses as a sort item.
_CLAUSE_END_RE = re.compile(
    r"\b(LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT|WINDOW)\b"
    r"|\b(ROWS|RANGE|GROUPS)\b(?=\s+(BETWEEN|UNBOUNDED|CURRENT|[0-9]|INTERVAL|'))",
    re.IGNORECASE,
)


def _split_top_level(s: str) -> list[str]:
    """Split on commas at paren/quote depth zero."""
    parts, depth, start, i, n = [], 0, 0, 0, len(s)
    in_str: str | None = None
    while i < n:
        c = s[i]
        if in_str:
            if c == in_str:
                in_str = None
        elif c in "'\"":
            in_str = c
        elif c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                break  # closing paren of an enclosing subquery: clause ends
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
        i += 1
    parts.append(s[start:i])
    return parts + ([s[i:]] if i < n else [])


def _rewrite_null_ordering(sql: str) -> str:
    """DuckDB defaults to NULLS LAST for ascending sorts; Spark to NULLS
    FIRST. To keep ORDER BY results reference-identical, every ascending
    sort item without an explicit NULLS modifier gets NULLS LAST.
    (Descending sorts already agree: both default NULLS LAST.)

    Paren/quote-aware so expressions with commas and nested subqueries
    pass through untouched; items already carrying NULLS FIRST/LAST are
    left alone.
    """
    out: list[str] = []
    pos = 0
    for m in _ORDER_BY_RE.finditer(sql):
        if m.start() < pos:
            continue
        # find the end of this ORDER BY clause: top-level LIMIT/terminator,
        # an unbalanced closing paren, or end of string
        tail = sql[m.end() :]
        # clause candidate: scan to depth-0 terminator keyword
        depth = 0
        in_str: str | None = None
        end = len(tail)
        i = 0
        while i < len(tail):
            c = tail[i]
            if in_str:
                if c == in_str:
                    in_str = None
            elif c in "'\"":
                in_str = c
            elif c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
            elif depth == 0:
                km = _CLAUSE_END_RE.match(tail, i)
                if km:
                    end = i
                    break
            i += 1
        clause = tail[:end]
        items = _split_top_level(clause)
        fixed = []
        for item in items:
            body = item.strip()
            if not body or re.search(r"\bNULLS\s+(FIRST|LAST)\b", body, re.IGNORECASE):
                fixed.append(item)
            elif re.search(r"\bDESC\b\s*$", body, re.IGNORECASE):
                fixed.append(item)  # DESC already defaults to NULLS LAST
            else:
                stripped = item.rstrip()
                # preserve trailing whitespace so a following keyword
                # (LIMIT/...) stays separated
                fixed.append(stripped + " NULLS LAST" + item[len(stripped) :])
        out.append(sql[pos : m.end()])
        out.append(",".join(fixed))
        pos = m.end() + end
    out.append(sql[pos:])
    return "".join(out)


def translate(sql: str) -> str:
    """Apply the documented DuckDB-ism rewrites; everything else passes
    through to Spark SQL verbatim."""
    return _rewrite_null_ordering(
        _rewrite_comma_unnest(_rewrite_list_functions(_rewrite_json_hint(sql)))
    )
