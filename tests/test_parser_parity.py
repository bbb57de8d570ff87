"""Regex-engine parity of the parser's extraction: every configured pattern
over every testdata source line plus adversarial lines, through the Arrow
backend (RE2), the DuckDB twin (RE2, ``oracle._field_sql``), the native
backend (Java regex via ``parser.java_pattern``) and Python ``re``.
go-fluentd compiles its patterns with Go's regexp, which is RE2, so both
backends must equal DuckDB exactly.  Python ``re`` is the control: it must
differ on the lines where plain Java or Python regex semantics differ from
RE2's, which shows the adversarial lines reach that difference."""

import glob
import os
import re

import duckdb
import pandas as pd

from go_fluentd_spark import config as C
from go_fluentd_spark import oracle as O
from go_fluentd_spark.operators.parser import FIELDS, extract_arrow, extract_native

GOLDEN = [
    "2018-03-06 16:56:22.514 | mscparea | INFO  | http-nio-8080-exec-1 | c.l.CPBusiness | 84: test",
    '2018-04-02 02:02:10.928 | sh-dm | INFO | exec-80 | c.g.LogFilter | 74 | {"k": "v"}: xxx',
    "2018-02-05 10:33:13.408 | geely:nlcc | INFO | http-bio-8081-exec-3 | c.t.Interceptor:57 - Outbound",
    "[2018-08-03T05:42:42.714151Z - DEBUG - /go/src/main.go:129] IsFileReadyToUpload for 4.log.gz",
    "2018/03/06 16:56:22.514 running task 7",
]
#: Java's and Python's ``$`` also match before a final "\n"; RE2's does not
TRAILING_NL = [line + "\n" for line in GOLDEN]
#: Java's ``.`` stops at U+2028 and "\r" (line terminators to it); RE2's does not
LINE_SEP = [GOLDEN[0] + "\u2028more", GOLDEN[2] + "\rmore"]
ADVERSARIAL = TRAILING_NL + LINE_SEP + [
    line.replace("| INFO ", f"|{pad}INFO{pad}")
    for line in GOLDEN[1:3]
    for pad in ("\t", " \t ", "\u00a0", " \u00a0", "\u3000")
]


def _sources(sf_dir: str) -> list[str]:
    """Distinct parser inputs (the concat stage's ``source``) of every
    testdata scale next to ``sf_dir``, from the DuckDB synth twin."""
    lines: set[str] = set()
    for d in sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*"))):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM '{d}/orders.parquet'")
        sql = O._with(O._SEQ_CTES, O._CONCAT_CTES, final="SELECT DISTINCT source FROM concatted")
        lines.update(r[0] for r in con.execute(sql).fetchall())
        con.close()
    return sorted(lines) + ADVERSARIAL


def _families() -> list[C.ParserConfig]:
    """One parser per distinct pattern (families sharing one differ only in
    their tag bases)."""
    return list({p.pattern: p for p in C.PARSERS}.values())


def _keyed(pdf: pd.DataFrame) -> dict:
    """{(family, source): field tuple} of the matched rows."""
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return {
        (r[0], r[1]): tuple(r[2:])
        for r in pdf[["k", "source", *FIELDS]].itertuples(index=False, name=None)
    }


def _spark(spark, lines, extract) -> dict:
    fams = spark.createDataFrame(
        pd.DataFrame({"k": range(len(_families())), "tag_base": [p.tag_bases[0] for p in _families()]}),
        "k int, tag_base string",
    )
    src = spark.createDataFrame(pd.DataFrame({"source": lines}), "source string")
    out = extract(fams.crossJoin(src), C.PARSERS)
    return _keyed(out.select("k", "source", *FIELDS).toPandas())


def _duckdb(lines) -> dict:
    con = duckdb.connect()
    con.register("src", pd.DataFrame({"source": lines}))
    parts = []
    for k, p in enumerate(_families()):
        cols = ", ".join(f'{O._field_sql(p, f)} AS "{f}"' for f in FIELDS)
        parts.append(
            con.execute(
                f"SELECT {k} AS k, source, {cols} FROM src "
                f"WHERE regexp_matches(source, '{p.pattern}')"
            ).df()
        )
    con.close()
    return _keyed(pd.concat(parts))


def _python_re(lines) -> dict:
    out = {}
    for k, p in enumerate(_families()):
        rx = re.compile(p.pattern)
        for line in lines:
            m = rx.search(line)
            if m:
                vals = {f: (g or "").strip(C.TRIM_CHARS) or None for f, g in m.groupdict().items()}
                out[(k, line)] = tuple(vals.get(f) for f in FIELDS)
    return out


def test_extraction_matches_re2_on_every_source(spark, sf_dir):
    lines = _sources(sf_dir)
    want = _duckdb(lines)
    assert len(want) > len(lines) // 2  # most lines match some pattern
    assert _spark(spark, lines, extract_arrow) == want
    assert _spark(spark, lines, extract_native) == want

    got = _python_re(lines)
    differ = {key[1] for key in want.keys() | got.keys() if want.get(key) != got.get(key)}
    assert differ == set(TRAILING_NL)
