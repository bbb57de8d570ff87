"""SQL text for the plan builders: config data rendered as Spark SQL
expressions, parsed once per column by ``F.expr``/``selectExpr``.

A Column tree built in Python costs the driver one or more JVM round trips
per node (every ``F.lit``, ``F.col``, ``when`` and comparison), and every
``withColumn`` analyses the whole plan again.  A constant-heavy expression
written as SQL text crosses once: one CASE over 36 tags, or a 39-branch
synth line, is one string.  The analysed expressions are the ones the
Column builders made, so the plans do not change.

Every string that comes from config data (a regex, a tag, a sink name, a
time format) enters SQL text through :func:`sql_str` and every column name
through :func:`ident`; nothing else quotes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_PLAIN = frozenset(chr(c) for c in range(0x20, 0x7F)) - {"\\", "'", "$"}


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal that parses back to ``s``.

    Spark unescapes backslash sequences in string literals, so ``\\`` and
    ``'`` are escaped, and a regex such as ``\\d{4}`` keeps its meaning.
    The parser also substitutes ``${name}`` variables before it lexes, so
    ``$`` is written as ``\\u0024``, as is every character outside printable
    ASCII (a code point beyond U+FFFF as its two UTF-16 surrogates)."""
    out = []
    for ch in s:
        if ch in _PLAIN:
            out.append(ch)
        elif ch in "\\'":
            out.append("\\" + ch)
        else:
            b = ch.encode("utf-16-be")
            out.extend(f"\\u{b[i]:02x}{b[i + 1]:02x}" for i in range(0, len(b), 2))
    return "'" + "".join(out) + "'"


def ident(name: str) -> str:
    """A column or field name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_in(expr: str, values) -> str:
    """``expr IN (v1, v2, ...)``: strings through :func:`sql_str`, ints as
    integer literals.  No values is ``false`` (SQL has no empty IN list;
    ``isin([])`` is false too, for a NULL ``expr`` as well)."""
    if not values:
        return "false"
    lits = (sql_str(v) if isinstance(v, str) else str(int(v)) for v in values)
    return f"{expr} IN ({', '.join(lits)})"


def with_sql(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``df.withColumns`` of SQL-text expressions as one projection: a named
    column is replaced in place, a new one appended, in ``exprs`` order.
    One column is one ``withColumn``; more are one ``selectExpr``, one
    round trip per column."""
    if len(exprs) == 1:
        [(c, e)] = exprs.items()
        return df.withColumn(c, F.expr(e))
    cols = df.columns
    out = [f"{exprs[c]} AS {ident(c)}" if c in exprs else ident(c) for c in cols]
    out += [f"{e} AS {ident(c)}" for c, e in exprs.items() if c not in cols]
    return df.selectExpr(*out)
