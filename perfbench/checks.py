"""DuckDB-oracle answers and the output checks that compare against them.

Oracle answers come from the program's own DuckDB mirrors
(``go_fluentd_spark.oracle`` / ``oracle_dataprep``), are computed once per
seed before Spark starts, and never sit inside a timed region.
"""

from __future__ import annotations

import collections
import hashlib
import os
import re

import duckdb

Counts = dict[tuple[str, str], int]


def connect(inp: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(inp, 'duckdb-tmp')}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(inp, t)}.parquet'")
    return con


def materialized(sql: str) -> str:
    """Same query with every CTE materialized: DuckDB otherwise re-runs a
    CTE per reference, and the unrolled label-propagation rounds of the
    curation oracle reference each other many times (8 s -> 1.5 s at 400
    documents, identical rows)."""
    return re.sub(r"(?<!WINDOW )\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return con.execute(materialized(sql)).fetchall()


def digest(lines) -> str:
    """Order-free digest of ``sink|doc_id|tokens_csv`` lines."""
    acc = 0
    n = 0
    for line in lines:
        acc = (acc + int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "little")) % 2**64
        n += 1
    return f"{n}:{acc:016x}"


def oracle_sink_counts(con) -> Counts:
    from go_fluentd_spark.oracle import q_sink_counts

    return {(s, t): n for s, t, n in rows(con, q_sink_counts())}


def oracle_routed_digest(con) -> str:
    from go_fluentd_spark.oracle import q_routed_rows

    sql = f"SELECT sink, doc_id, tokens_csv FROM ({q_routed_rows()})"
    return digest(f"{s}|{d}|{t}" for s, d, t in rows(con, sql))


def oracle_parsed_count(con) -> int:
    from go_fluentd_spark.oracle import q_parsed_fields

    return rows(con, f"SELECT count(*) FROM ({q_parsed_fields()})")[0][0]


CURATION_COLS = ["doc_id", "cluster", "is_rep", "quality", "lang_pred", "lm_logprob", "keep"]


def curation_key(r) -> tuple:
    """Row of the curation decision with floats at the 4 decimals both
    engines round to."""
    d, c, rep, q, lang, lm, keep = r
    return (int(d), int(c), int(rep), round(float(q), 4), lang, round(float(lm), 4), int(keep))


def oracle_curation(con) -> list[tuple]:
    from go_fluentd_spark.oracle_dataprep import q_corpus_curation

    sql = f"SELECT {', '.join(CURATION_COLS)} FROM ({q_corpus_curation()})"
    return sorted(curation_key(r) for r in rows(con, sql))


def curation_diff(got: list[tuple], want: list[tuple]) -> list[str]:
    """Exact on ids, flags and labels; the two scores may differ by one
    unit of their 4th decimal.  Both engines round ``avg_logprob`` to 4
    decimals, but a value that sits on a half-way tie in binary can round
    up in one and down in the other (seen: -2.8597 vs -2.8596)."""

    def close(g: tuple, w: tuple) -> bool:
        return (
            g[:3] + g[4:5] + g[6:] == w[:3] + w[4:5] + w[6:]
            and abs(g[3] - w[3]) <= 1.01e-4
            and abs(g[5] - w[5]) <= 1.01e-4
        )

    if len(got) == len(want) and all(close(g, w) for g, w in zip(got, want)):
        return []
    return diff("curation rows", got, want)


# ---------------------------------------------------------------------------
# program-side readers (Spark)
# ---------------------------------------------------------------------------


def sink_table_state(spark, out_dir: str, sinks: list[str]) -> tuple[Counts, str]:
    """Per (sink, tag) row counts and the token digest of a manifested run's
    sink tables."""
    from pyspark.sql import functions as F

    counts: Counts = collections.Counter()
    lines = []
    for sink in sinks:
        path = os.path.join(out_dir, f"sink={sink}")
        if not os.path.isdir(path):
            continue
        pdf = (
            spark.read.parquet(path)
            .select("tag", "doc_id", F.array_join("tokens", ",").alias("t"))
            .toPandas()
        )
        counts.update((sink, t) for t in pdf["tag"])
        lines.extend(f"{sink}|{d}|{t}" for d, t in zip(pdf["doc_id"], pdf["t"]))
    return dict(counts), digest(lines)


def grouped_counts(df) -> Counts:
    """Per (sink, tag) row counts of a routed frame."""
    return {(r[0], r[1]): r[2] for r in df.groupBy("sink", "tag").count().collect()}


def diff(name: str, got, want) -> list[str]:
    """Empty when equal, else one readable line."""
    if got == want:
        return []
    if isinstance(got, dict) and isinstance(want, dict):
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        show = ", ".join(f"{k}: {got.get(k)} != {want.get(k)}" for k in bad[:4])
        return [f"{name}: {len(bad)} keys differ ({show})"]
    if isinstance(got, list) and isinstance(want, list):
        bad = [(g, w) for g, w in zip(got, want) if g != w]
        first = f", first {bad[0][0]} != {bad[0][1]}" if bad else ""
        return [f"{name}: {len(got)} rows vs {len(want)}, {len(bad)} differ{first}"]
    return [f"{name}: got {str(got)[:120]} want {str(want)[:120]}"]
