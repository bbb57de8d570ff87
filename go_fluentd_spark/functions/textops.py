"""Scalar-function library: the reference's template engines and map surgery
(``library/add.go``, ``library/utils.go``) compiled to Column expressions;
the JSON flatten, with its constant higher-order lambdas, is SQL text.

All of these run per-row millions of times in the reference; here each
template is compiled ONCE at plan build into a concat of literals, column
refs, and builtins — zero per-row Python, fully codegen'd.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

from go_fluentd_spark.functions.sqltext import sql_str

_DOLLAR_RE = re.compile(r"\$\{([^}]+)\}")
_PCT_RE = re.compile(r"%\{([^}]+)\}")


def _nested_col(df_cols: list[str], path: str) -> Column:
    """GetValFromMap (``library/add.go:210-250``): dotted-path lookup.

    A path segment before the first dot that names a struct/map column is
    traversed with getField semantics; a literal column whose name contains
    dots is preferred if present (the reference checks the flat key first).
    """
    if path in df_cols:
        return F.col(f"`{path}`")
    return F.col(path)  # struct traversal a.b.c


def template_with_map(tpl: str, df_cols: list[str]) -> Column:
    """``${var}`` templates (``library/utils.go:87-117``; golden
    ``utils_test.go:98-110``): unknown vars render as empty string; numeric
    fields stringify naturally (41 -> "41", 213.11 -> "213.11")."""
    parts: list[Column] = []
    pos = 0
    for m in _DOLLAR_RE.finditer(tpl):
        if m.start() > pos:
            parts.append(F.lit(tpl[pos : m.start()]))
        name = m.group(1)
        if name in df_cols:
            parts.append(F.coalesce(F.col(f"`{name}`").cast("string"), F.lit("")))
        else:
            parts.append(F.lit(""))
        pos = m.end()
    if pos < len(tpl):
        parts.append(F.lit(tpl[pos:]))
    return F.concat(*parts) if parts else F.lit(tpl)


def replace_str_by_msg(tpl: str, df_cols: list[str], tag_col: str = "tag", id_col: str = "id") -> Column:
    """``%{...}`` template engine (``library/add.go:60-147``; 23 golden cases
    ``add_test.go:8-88``).  Directives:

    - ``%{key}`` / ``%{a.b}``  field or dotted-path lookup
    - ``%{@tag}`` / ``%{@id}`` message tag / id
    - ``%{@str}``              random 8-char string (nondeterministic)
    - ``%{@now}``              RFC3339 now (nondeterministic)
    - ``%{@unix}``             epoch seconds (nondeterministic)
    - ``%{@lower:k}`` / ``%{@upper:k}`` case-mapped field
    Unknown keys are left verbatim (the reference leaves the ``%{...}``
    untouched when the key is absent, ``add.go:96-99``).
    """
    parts: list[Column] = []
    pos = 0
    for m in _PCT_RE.finditer(tpl):
        if m.start() > pos:
            parts.append(F.lit(tpl[pos : m.start()]))
        d = m.group(1)
        if d == "@tag":
            parts.append(F.col(tag_col))
        elif d == "@id":
            parts.append(F.col(id_col).cast("string"))
        elif d == "@str":
            parts.append(F.substring(F.md5(F.rand().cast("string")), 1, 8))
        elif d == "@now":
            parts.append(F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssXXX"))
        elif d == "@unix":
            parts.append(F.unix_timestamp().cast("string"))
        elif d.startswith("@lower:"):
            parts.append(F.lower(_nested_col(df_cols, d[7:]).cast("string")))
        elif d.startswith("@upper:"):
            parts.append(F.upper(_nested_col(df_cols, d[7:]).cast("string")))
        elif d.startswith("@"):
            parts.append(F.lit(m.group(0)))  # unknown directive left verbatim
        else:
            root = d.split(".")[0]
            if d in df_cols or root in df_cols:
                parts.append(
                    F.coalesce(_nested_col(df_cols, d).cast("string"), F.lit(m.group(0)))
                )
            else:
                parts.append(F.lit(m.group(0)))
        pos = m.end()
    if pos < len(tpl):
        parts.append(F.lit(tpl[pos:]))
    return F.concat(*parts) if parts else F.lit(tpl)


def flatten_json_map(expr: str, delimiter: str = "__", max_depth: int = 3) -> str:
    """FlattenMap over a DYNAMIC JSON payload (``library/utils.go:75-85``,
    called from ``parser_f.go:109`` and ``http.go:206``) as SQL text over
    the SQL expression ``expr``: parse a JSON-object string to
    ``map<string,string>`` and recursively flatten nested objects to
    ``parent__child`` keys, up to ``max_depth`` levels (the loop unrolls at
    plan-build time into higher-order functions, no per-row Python).

    Matches the reference's semantics: after flattening, the parent key is
    deleted and only the joined leaf keys remain (``utils_test.go:11-54``,
    the ``{"b": {"c": 2, "d": {"e": 3}}}`` => ``b.c, b.d.e`` golden).  Scalars
    stringify (2 -> "2"); nested objects deeper than ``max_depth`` stay as
    JSON text under their flattened prefix; malformed JSON => NULL map.
    """
    as_map = "'map<string,string>'"
    child = f"from_json(e.value, {as_map})"
    # one entry e: a JSON-object value becomes its prefixed child entries,
    # anything else stays the one entry it was
    expand = (
        f"e -> CASE WHEN (startswith(ltrim(e.value), '{{') AND ({child} IS NOT NULL)) "
        f"THEN transform(map_entries({child}), ce -> struct("
        f"concat(e.key, {sql_str(delimiter)}, ce.key) AS key, ce.value AS value)) "
        "ELSE array(struct(e.key AS key, e.value AS value)) END"
    )
    # Flattening can COLLIDE with a literal key (payload {"a__b":"1",
    # "a":{"b":"2"}} yields the key a__b twice); map_from_entries under
    # Spark's default mapKeyDedupPolicy=EXCEPTION would abort the whole
    # batch on one such (untrusted) log line.  The reference's FlattenMap
    # assigns into one Go map (library/utils.go:75-85), i.e. overwrite —
    # restated deterministically as LAST-entry-wins: fold the reversed
    # entries keeping first occurrence per key, then restore order.
    # Payload maps are small (dozens of keys), so the O(n^2) fold is
    # noise; only lambda variables are referenced inside the lambdas (no
    # re-evaluated outer expressions).
    empty = "CAST(array() AS ARRAY<STRUCT<key: STRING, value: STRING>>)"
    keep_first = (
        "(acc, x) -> CASE WHEN exists(acc, y -> (y.key = x.key)) "
        "THEN acc ELSE array_append(acc, x) END"
    )
    m = f"from_json({expr}, {as_map})"
    for _ in range(max(max_depth - 1, 0)):
        entries = f"flatten(transform(map_entries({m}), {expand}))"
        dedup = f"aggregate(reverse({entries}), {empty}, {keep_first})"
        m = f"CASE WHEN ({m} IS NOT NULL) THEN map_from_entries(reverse({dedup})) END"
    return m
