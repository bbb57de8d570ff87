"""DuckDB-dialect SQL mirrors of the pipeline, for the driver's correctness
gate (``__spark_entry__.oracle_sql``) and local verification.

Each builder returns a complete SELECT with a WITH-chain that re-derives the
tokenized-sequence table from the ``documents`` view and re-implements the
pipeline stages in portable SQL.  The rule data (patterns, tag lists, dims)
comes from ``go_fluentd_spark.config`` — one source of truth with the Spark
side.  Only constructs whose semantics match Spark exactly are used
(modular arithmetic, lpad/substr/trim, RE2-compatible regexes, window
functions, string_agg ORDER BY).
"""

from __future__ import annotations

from go_fluentd_spark import config as C
from go_fluentd_spark.plans.pipeline import POST_STRING_COLS
from go_fluentd_spark.sources import synth as S

FIELDS = ["time", "app", "project", "level", "thread", "class", "line", "args", "message"]

# ---------------------------------------------------------------------------
# synth + ingest
# ---------------------------------------------------------------------------

_SEQ_CTES = f"""
docs AS (SELECT CAST(o_orderkey AS BIGINT) AS did FROM orders),
base1 AS (
  SELECT did,
    CASE WHEN (did % 50) % 3 = 0 THEN 'sit' WHEN (did % 50) % 3 = 1 THEN 'uat' ELSE 'prod' END AS env,
    did % 100 AS b,
    lpad(CAST(did % 1000 AS VARCHAR), 3, '0') AS ms3,
    lpad(CAST(did % 1000000 AS VARCHAR), 6, '0') AS ms6,
    CAST(did % 16 + 1 AS VARCHAR) AS nexec,
    CAST(did AS VARCHAR) AS dids
  FROM docs),
base2 AS (
  SELECT did, env, dids,
    CASE WHEN b < 73 THEN 'spring' WHEN b < 80 THEN 'connector' WHEN b < 87 THEN 'geely'
         WHEN b < 91 THEN 'spark' WHEN b < 94 THEN 'ramjet' WHEN b < 96 THEN 'spring'
         WHEN b < 98 THEN 'junkapp' ELSE 'spring' END AS base,
    CASE
      WHEN b = 57 THEN '2018-02-30 16:56:22.' || ms3 || ' | mscparea | INFO  | http-nio-8080-exec-' || nexec || ' | {S.SPRING_CLASS} | 84: bad time ' || dids
      WHEN b < 60 THEN '2018-03-06 16:56:22.' || ms3 || ' | mscparea | INFO  | http-nio-8080-exec-' || nexec || ' | {S.SPRING_CLASS} | 84: test message ' || dids
      WHEN b < 67 THEN '2018-03-06 16:56:22.' || ms3 || ' | ms_bot7 | WARN  | http-nio-8080-exec-' || nexec || ' | com.laisky.svc.BotHandler | 112: bot event ' || dids
      WHEN b < 73 THEN '2018-02-01 16:15:43.' || ms3 || ' | mscpsvc | INFO  | http-nio-8080-exec-' || nexec || ' | com.laisky.cp.CpService | 84: handled - ms:cp event ' || dids
      WHEN b < 80 THEN CASE WHEN did % 2 = 0
        THEN '2018-04-02 02:02:10.' || ms3 || ' | sh-datamining | INFO | http-nio-8080-exec-' || nexec || ' | {S.CONNECTOR_CLASS} | 74 | {{"k": "v' || CAST(did % 5 AS VARCHAR) || CASE WHEN did % 4 = 0 THEN '", "nested": {{"a": "' || CAST(did % 7 AS VARCHAR) || '"}}}}' ELSE '"}}' END || ': request ' || dids
        ELSE '2018-04-02 02:02:10.' || ms3 || ' | sh-datamining | INFO | http-nio-8080-exec-' || nexec || ' | {S.CONNECTOR_CLASS} | 74: plain request ' || dids END
      WHEN b < 87 THEN '2018-02-05 10:33:13.' || ms3 || ' | geely:nlcc | INFO | http-bio-8081-exec-' || CAST(did % 9 + 1 AS VARCHAR) || ' | {S.GEELY_CLASS}:57 - Outbound Message ' || dids
      WHEN b < 91 THEN CASE WHEN did % 2 = 0
        THEN '2018-03-06 16:56:22,' || ms3 || ' [main] something ' || dids
        ELSE '2018/03/06 16:56:22.' || ms3 || ' running task ' || dids END
      WHEN b < 94 THEN '[2018-08-03T05:42:42.' || ms6 || 'Z - DEBUG - {S.RAMJET_PATH}:129] IsFileReadyToUpload for ' || dids || '.log.gz'
      WHEN b < 96 THEN chr(9) || '{S.CONTINUATION_PREFIX}' || CAST(did % 90 + 10 AS VARCHAR) || ')'
      WHEN b < 98 THEN 'orphan ' || dids
      ELSE '2018-03-06 16:56:22.' || ms3 || ' | corrupted ' || dids END AS source,
    CASE WHEN did % 10 = 0 THEN 1 + (did*131071) % 512 ELSE 1 + (did*131071) % 64 END AS n_tok
  FROM base1),
seq AS (
  SELECT
    base || '.' || env || '-c' || lpad(CAST((did % 50) * 100 + CAST(floor(did / 100) AS BIGINT) % 100 AS VARCHAR), 4, '0') || '-' || lpad(dids, 8, '0') AS doc_id,
    list_transform(range(0, n_tok), i -> CAST((did*2654435761 + i*40503) % {S.VOCAB} AS INT)) AS tokens,
    CAST(n_tok AS INT) AS n_tok,
    source
  FROM base2),
ingest AS (
  SELECT seq.*,
    split_part(doc_id, '-', 1) AS tag,
    split_part(doc_id, '-', 2) AS container_id,
    CAST(split_part(doc_id, '-', 3) AS BIGINT) AS id,
    regexp_extract(split_part(doc_id, '-', 1), '\\.([a-z]+)$', 1) AS env,
    regexp_replace(split_part(doc_id, '-', 1), '\\.[a-z]+$', '') AS tag_base
  FROM seq)
"""

# ---------------------------------------------------------------------------
# concat
# ---------------------------------------------------------------------------


def _head_case() -> str:
    whens = []
    by_rx: dict[str, list[str]] = {}
    for base, c in C.CONCAT_CONFIGS.items():
        by_rx.setdefault(c["head_regexp"], []).append(base)
    for rx, bases in by_rx.items():
        inlist = ", ".join(f"'{b}'" for b in bases)
        whens.append(f"WHEN tag_base IN ({inlist}) THEN regexp_matches(source, '{rx}')")
    return "CASE " + " ".join(whens) + " ELSE NULL END"


_CONCAT_CTES = f"""
headed AS (
  SELECT *, {_head_case()} AS is_head FROM ingest),
grp AS (
  SELECT *, CASE WHEN is_head IS NULL THEN id
    ELSE coalesce(max(CASE WHEN is_head THEN id END) OVER
         (PARTITION BY tag, container_id ORDER BY id ROWS UNBOUNDED PRECEDING), id)
    END AS grp_id
  FROM headed),
grp2 AS (
  -- max_len / max_merged eviction (mirrors operators/concat.py): a tail whose
  -- predecessors already filled the buffer (chars or rows) gets its own group
  SELECT * REPLACE(
    CASE WHEN coalesce(sum(length(source)) OVER wprior, 0) >= {C.CONCAT_MAX_LEN}
           OR count(*) OVER wprior >= {C.CONCAT_MAX_MERGED}
         THEN id ELSE grp_id END AS grp_id)
  FROM grp
  WINDOW wprior AS (PARTITION BY tag, container_id, grp_id ORDER BY id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
concat0 AS (
  SELECT tag, container_id, grp_id,
    min(id) AS id,
    arg_min(doc_id, id) AS doc_id,
    arg_min(tokens, id) AS tokens,
    arg_min(n_tok, id) AS n_tok,
    arg_min(env, id) AS env,
    arg_min(tag_base, id) AS tag_base,
    string_agg(source, '' ORDER BY id) AS source,
    count(*) AS n_merged,
    list(id ORDER BY id) AS all_ids
  FROM grp2 GROUP BY tag, container_id, grp_id),
concatted AS (
  SELECT * EXCLUDE (all_ids, grp_id),
    list_filter(all_ids, x -> x <> id) AS ext_ids
  FROM concat0)
"""

# ---------------------------------------------------------------------------
# acceptor
# ---------------------------------------------------------------------------


def _retag_case() -> str:
    whens = "\n      ".join(
        f"WHEN regexp_matches(source, '{r['regexp']}') THEN '{r['new_tag_base']}.' || env"
        for r in C.SPRING_RETAG_RULES
    )
    return f"CASE WHEN tag_base = 'spring' THEN CASE {whens} ELSE tag END ELSE tag END"


_ACCEPT_LIST = ", ".join(f"'{t}'" for t in C.ACCEPT_TAGS)

_ACCEPTOR_CTES = f"""
retagged AS (
  SELECT * EXCLUDE (tag, tag_base), {_retag_case()} AS tag
  FROM concatted
  WHERE NOT (tag_base = 'spark' AND regexp_matches(source, '{C.SPARK_IGNORE_REGEX}'))),
accepted AS (
  SELECT *, regexp_replace(tag, '\\.[a-z]+$', '') AS tag_base
  FROM retagged
  WHERE tag <> '' AND tag IN ({_ACCEPT_LIST}))
"""

# ---------------------------------------------------------------------------
# parser (mirrors operators/parser.py: one pass, when-chains from PARSERS)
# ---------------------------------------------------------------------------


def _parser_case(build) -> str:
    whens = []
    for p in C.PARSERS:
        inlist = ", ".join(f"'{b}'" for b in p.tag_bases)
        whens.append(f"WHEN tag_base IN ({inlist}) THEN {build(p)}")
    return "CASE " + " ".join(whens) + " ELSE NULL END"


#: C.TRIM_CHARS as a SQL string (DuckDB's one-argument trim strips Unicode Zs)
_TRIM_SQL = " || ".join(f"chr({ord(c)})" for c in C.TRIM_CHARS)


def _field_sql(p: C.ParserConfig, field: str) -> str:
    if field not in p.groups:
        return "NULL"
    return f"nullif(trim(regexp_extract(source, '{p.pattern}', {p.groups[field]}), {_TRIM_SQL}), '')"


_TIME_FAMILIES = ", ".join(
    f"'{b}'" for p in C.PARSERS if p.time_group for b in p.tag_bases
)
_JSON_FAMILIES = ", ".join(
    f"'{b}'" for p in C.PARSERS if p.parse_json_key for b in p.tag_bases
)

_TS_SQL = f"""CASE
    WHEN tag_base IN ({_TIME_FAMILIES}) THEN
      strftime(try_strptime(replace("time", ',', '.') || ' +0800',
               '%Y-%m-%d %H:%M:%S.%g %z') AT TIME ZONE 'UTC',
               '%Y-%m-%dT%H:%M:%S.%fZ')
    WHEN tag_base = 'ramjet' THEN "time" || 'Z'
    ELSE NULL END"""


def _promoted_json_sql() -> str:
    """args__<key> promotions: the flattened-map key `a__b` is the JSON path
    `$.a.b` (FlattenMap's `__` join run in reverse)."""
    outs = []
    for key in C.PROMOTE_JSON_KEYS:
        path = "$." + key.replace("__", ".")
        outs.append(
            f"CASE WHEN tag_base IN ({_JSON_FAMILIES}) AND json_valid(args)\n"
            f"         THEN json_extract_string(args, '{path}') END AS args__{key},"
        )
    return "\n    ".join(outs)


def _parsed_ctes() -> str:
    matched = _parser_case(lambda p: f"regexp_matches(source, '{p.pattern}')")
    field_cols = ",\n    ".join(
        f'{_parser_case(lambda p, f=f: _field_sql(p, f))} AS "{f}"' for f in FIELDS
    )
    must = _parser_case(
        lambda p: (f'"{p.must_include}" IS NOT NULL' if p.must_include else "TRUE")
    )
    time_required = _parser_case(lambda p: "TRUE" if p.time_group else "FALSE")
    drop_log = _parser_case(lambda p: "TRUE" if p.is_remove_orig_log else "FALSE")
    return f"""
parsed0 AS (
  SELECT * FROM accepted WHERE coalesce({matched}, FALSE)),
parsed1 AS (
  SELECT *,
    {field_cols}
  FROM parsed0),
parsed2 AS (
  SELECT * FROM parsed1 WHERE {must}),
parsed3 AS (
  SELECT * EXCLUDE (args),
    {_promoted_json_sql()}
    CASE WHEN tag_base IN ({_JSON_FAMILIES}) AND json_valid(args)
         THEN NULL ELSE args END AS args,
    {_TS_SQL} AS ts
  FROM parsed2),
parsed AS (
  SELECT * EXCLUDE (source),
    CASE WHEN NOT ({drop_log}) THEN source END AS source
  FROM parsed3
  WHERE NOT ({time_required}) OR ts IS NOT NULL)
"""


# ---------------------------------------------------------------------------
# enrich + post + route
# ---------------------------------------------------------------------------


def _values(rows: list[tuple[str, str]], alias: str, c1: str, c2: str) -> str:
    vals = ", ".join(f"('{a}', '{b}')" for a, b in rows)
    return f"(VALUES {vals}) AS {alias}({c1}, {c2})"


def _enriched_ctes(cfg: C.PipelineConfig = C.DEFAULT_CONFIG) -> str:
    ds_rows = [
        (base, fields["datasource"])
        for base, fields in cfg.add_fields.items()
        if "datasource" in fields
    ]
    post = ",\n    ".join(
        f'nullif(substr("{c}", 1, {cfg.post_max_len}), \'\') AS "{c}"'
        for c in POST_STRING_COLS
    )
    return f"""
enriched0 AS (
  SELECT p.*, ds.datasource
  FROM parsed p LEFT JOIN {_values(ds_rows, "ds", "tag_base", "datasource")}
    ON p.tag_base = ds.tag_base),
enriched1 AS (
  SELECT * EXCLUDE ({", ".join(f'"{c}"' for c in POST_STRING_COLS)}),
    {post}
  FROM enriched0),
enriched AS (
  SELECT e.*, ei.es_index, '{cfg.run_key}-' || CAST(id AS VARCHAR) AS msgid
  FROM enriched1 e LEFT JOIN {_values(C.es_index_rows(cfg.es_index_map, cfg.envs), "ei", "tag", "es_index")}
    ON e.tag = ei.tag),
routed AS (
  SELECT e.*, s.sink
  FROM enriched e JOIN {_values(C.sink_tag_rows(cfg.sinks, cfg.envs), "s", "sink", "tag")}
    ON e.tag = s.tag)
"""


def _with(*ctes: str, final: str) -> str:
    body = ",".join(c.strip().rstrip(",") for c in ctes)
    return f"WITH {body}\n{final}"


_CHAIN = [_SEQ_CTES, _CONCAT_CTES, _ACCEPTOR_CTES]


def q_ingest_tag_counts() -> str:
    return _with(
        _SEQ_CTES,
        final="SELECT tag, count(*) AS n FROM ingest GROUP BY tag",
    )


def q_concat_sessions() -> str:
    return _with(
        _SEQ_CTES,
        _CONCAT_CTES,
        final="""SELECT doc_id, tag, container_id, id, source, CAST(n_merged AS BIGINT) AS n_merged,
       coalesce(array_to_string(ext_ids, ','), '') AS ext_ids_csv
FROM concatted""",
    )


def q_acceptor_tag_counts() -> str:
    return _with(
        _SEQ_CTES,
        _CONCAT_CTES,
        _ACCEPTOR_CTES,
        final="SELECT tag, count(*) AS n FROM accepted GROUP BY tag",
    )


def q_parsed_fields() -> str:
    return _with(
        _SEQ_CTES,
        _CONCAT_CTES,
        _ACCEPTOR_CTES,
        _parsed_ctes(),
        final="""SELECT doc_id, tag, "time", app, project, level, thread, class, line,
       args, args__k, args__nested__a, message, ts,
       array_to_string(tokens, ',') AS tokens_csv, n_tok
FROM parsed""",
    )


def q_sink_counts(cfg: C.PipelineConfig = C.DEFAULT_CONFIG) -> str:
    return _with(
        _SEQ_CTES,
        _CONCAT_CTES,
        _ACCEPTOR_CTES,
        _parsed_ctes(),
        _enriched_ctes(cfg),
        final="SELECT sink, tag, count(*) AS n FROM routed GROUP BY sink, tag",
    )


def _discard_ctes() -> str:
    """CTE chain for the discard audit (mirror of
    operators/audit.py::discard_reasons); builds on ``concatted``."""
    matched = _parser_case(lambda p: f"regexp_matches(source, '{p.pattern}')")

    def must(p: C.ParserConfig) -> str:
        if not p.must_include:
            return "TRUE"
        return f"{_field_sql(p, p.must_include)} IS NOT NULL"

    def ts_ok(p: C.ParserConfig) -> str:
        if p.time_group is None:
            return "TRUE"
        t = _field_sql(p, "time")
        return (
            f"try_strptime(replace({t}, ',', '.') || ' +0800', "
            f"'%Y-%m-%d %H:%M:%S.%g %z') IS NOT NULL"
        )

    must_c = _parser_case(must)
    ts_c = _parser_case(ts_ok)
    return f"""
retag_all AS (
  SELECT doc_id,
    (tag_base = 'spark' AND regexp_matches(source, '{C.SPARK_IGNORE_REGEX}')) AS spark_ignored,
    {_retag_case()} AS tag, source
  FROM concatted),
flags AS (
  SELECT doc_id, tag, spark_ignored, source,
    regexp_replace(tag, '\\.[a-z]+$', '') AS tag_base
  FROM retag_all),
reasons AS (
  SELECT doc_id, tag, CASE
    WHEN spark_ignored THEN 'spark_ignore'
    WHEN tag = '' OR tag NOT IN ({_ACCEPT_LIST}) THEN 'unknown_tag'
    WHEN NOT coalesce({matched}, FALSE) THEN 'parse_no_match'
    WHEN NOT coalesce({must_c}, TRUE) THEN 'missing_must_include'
    WHEN NOT coalesce({ts_c}, TRUE) THEN 'bad_time'
    END AS reason
  FROM flags)
"""


def q_discards(cfg: C.PipelineConfig = C.DEFAULT_CONFIG) -> str:
    return _with(
        _SEQ_CTES,
        _CONCAT_CTES,
        _discard_ctes(),
        final="SELECT doc_id, tag, reason FROM reasons WHERE reason IS NOT NULL",
    )


def q_stage_counts(cfg: C.PipelineConfig = C.DEFAULT_CONFIG) -> str:
    """Mirror of operators/monitor.py::stage_counts (monitor.go:19-42 totals)."""
    return _with(
        _SEQ_CTES,
        _CONCAT_CTES,
        _ACCEPTOR_CTES,
        _parsed_ctes(),
        _enriched_ctes(cfg),
        _discard_ctes(),
        final="""SELECT 'ingest' AS stage, count(*) AS n FROM ingest
UNION ALL SELECT 'concat', count(*) FROM concatted
UNION ALL SELECT 'accepted', count(*) FROM accepted
UNION ALL SELECT 'parsed', count(*) FROM parsed
UNION ALL SELECT 'routed', count(*) FROM routed
UNION ALL SELECT 'discarded', count(*) FROM reasons WHERE reason IS NOT NULL""",
    )


def q_kafka_sink_values(cfg: C.PipelineConfig = C.DEFAULT_CONFIG) -> str:
    """Kafka message value: JSON built by string concat to byte-match
    Spark's to_json(struct(...)) output (no spaces, field order, nulls
    impossible for the chosen columns)."""
    return _with(
        _SEQ_CTES,
        _CONCAT_CTES,
        _ACCEPTOR_CTES,
        _parsed_ctes(),
        _enriched_ctes(cfg),
        final="""SELECT doc_id,
       '{"doc_id":"' || doc_id || '","tag":"' || tag || '","msgid":"' || msgid
       || '","n_tok":' || CAST(n_tok AS VARCHAR) || '}' AS value
FROM routed WHERE sink = 'kafka_cp'""",
    )


def q_http_sink_bodies(
    cfg: C.PipelineConfig = C.DEFAULT_CONFIG, sink: str = "fluentd_backup", batch_size: int = 100
) -> str:
    """Mirror of operators/dispatcher.py::http_sink_bodies (httpforward.go
    batch marshalling); JSON built by concat to byte-match to_json.  The rank
    window partitions by TAG (one sender queue per tag in the reference);
    nulls are coalesced EXPLICITLY on both sides (msgid -> '', n_tok -> -1) so
    a null field diverges loudly, never silently (to_json omits null keys)."""
    obj = (
        """'{"doc_id":"' || doc_id || '","tag":"' || tag
       || '","msgid":"' || coalesce(msgid, '')
       || '","n_tok":' || CAST(coalesce(n_tok, -1) AS VARCHAR) || '}'"""
    )
    return _with(
        _SEQ_CTES,
        _CONCAT_CTES,
        _ACCEPTOR_CTES,
        _parsed_ctes(),
        _enriched_ctes(cfg),
        f"""rk AS (
  SELECT *, row_number() OVER (PARTITION BY tag ORDER BY doc_id) AS _rk
  FROM routed WHERE sink = '{sink}')""",
        final=f"""SELECT tag, CAST(floor((_rk - 1) / {batch_size}) AS BIGINT) AS batch_id,
       count(*) AS n,
       '[' || string_agg({obj}, ',' ORDER BY _rk) || ']' AS body
FROM rk GROUP BY tag, CAST(floor((_rk - 1) / {batch_size}) AS BIGINT)""",
    )


def q_sequence_chunks() -> str:
    """Mirror of operators/dataprep.py::sequence_chunks (training-window
    chunking over the sequence table)."""
    from go_fluentd_spark.operators import dataprep as D

    L = D.SEQ_CHUNK_LEN
    piece = f"list_slice(tokens, CAST(chunk_id * {L} + 1 AS BIGINT), CAST(chunk_id * {L} + {L} AS BIGINT))"
    body = f"""
c AS (
  SELECT doc_id, tokens,
    UNNEST(range(0, CAST(ceil(n_tok * 1.0 / {L}) AS BIGINT))) AS chunk_id
  FROM seq WHERE n_tok > 0)
"""
    return _with(
        _SEQ_CTES,
        body,
        final=f"""SELECT doc_id, chunk_id,
       len({piece}) AS n_chunk_tok,
       array_to_string({piece}, ',') AS tokens_csv
FROM c""",
    )


def q_sequence_length_stats() -> str:
    """Mirror of operators/dataprep.py::sequence_length_stats (quantile_cont
    = Spark percentile: both R-type-7 linear interpolation)."""
    return _with(
        _SEQ_CTES,
        final="""SELECT count(*) AS n_seqs,
  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
  min(n_tok) AS min_tok,
  max(n_tok) AS max_tok,
  round(avg(n_tok), 4) AS avg_tok,
  round(quantile_cont(n_tok, 0.5), 4) AS p50,
  round(quantile_cont(n_tok, 0.9), 4) AS p90,
  round(quantile_cont(n_tok, 0.99), 4) AS p99
FROM seq""",
    )


def q_token_vocab_topk() -> str:
    """Mirror of operators/dataprep.py::token_vocab_topk."""
    from go_fluentd_spark.operators import dataprep as D

    body = """
tok AS (SELECT UNNEST(tokens) AS token FROM seq),
vc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
r AS (
  SELECT CAST(token AS BIGINT) AS token, cnt,
    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
    sum(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc),
t AS (SELECT sum(cnt) AS total FROM vc)
"""
    return _with(
        _SEQ_CTES,
        body,
        final=f"""SELECT token, cnt, rank, round(cum * 1.0 / total, 6) AS cum_share
FROM r, t WHERE rank <= {D.TOP_VOCAB_K}""",
    )


def q_token_ngram_dup_stats() -> str:
    """Mirror of operators/dataprep.py::token_ngram_dup_stats (token-level
    substring-dedup statistic over the sequence table)."""
    from go_fluentd_spark.operators import dataprep as D

    pows = [
        pow(D.TOKEN_B, D.TOKEN_NGRAM - 1 - j, D.TOKEN_P) for j in range(D.TOKEN_NGRAM)
    ]
    fold = (
        f"CAST(list_sum(list_transform(range(0, {D.TOKEN_NGRAM}), "
        f"j -> CAST(tokens[CAST(i + j AS INT)] AS BIGINT) * ([{', '.join(map(str, pows))}])[j + 1] "
        f"% {D.TOKEN_P})) % {D.TOKEN_P} AS BIGINT)"
    )
    body = f"""
g0 AS (
  SELECT doc_id, greatest(n_tok - {D.TOKEN_NGRAM - 1}, 0) AS n_grams, tokens FROM seq),
grams AS (
  SELECT doc_id, n_grams, UNNEST(list_transform(range(1, n_grams + 1), i -> {fold})) AS gram
  FROM g0 WHERE n_grams > 0),
shared AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
dup AS (
  SELECT doc_id, count(*) AS n_dup_grams
  FROM grams WHERE gram IN (SELECT gram FROM shared) GROUP BY doc_id)
"""
    return _with(
        _SEQ_CTES,
        body,
        final=f"""SELECT g0.doc_id, g0.n_grams,
       coalesce(dup.n_dup_grams, 0) AS n_dup_grams,
       CASE WHEN g0.n_grams > 0
            THEN round(coalesce(dup.n_dup_grams, 0) * 1.0 / g0.n_grams, 4)
            ELSE 0.0 END AS dup_rate
FROM g0 LEFT JOIN dup ON dup.doc_id = g0.doc_id""",
    )


def q_substr_dup_spans() -> str:
    """Mirror of operators/dataprep.py::substr_dup_spans (suffix-array-style
    duplicated-substring spans + the >=SUBSTR_CUT_MIN cut).  Same int64
    Horner gram fold; positions come from a lateral range unnest; run
    merging is the identical lag/sum window; the kept tokens are rebuilt by
    an anti-EXISTS over the cut intervals with an ordered string_agg."""
    from go_fluentd_spark.operators import dataprep as D

    L = D.TOKEN_NGRAM
    pows = [pow(D.TOKEN_B, L - 1 - j, D.TOKEN_P) for j in range(L)]
    fold = (
        f"CAST(list_sum(list_transform(range(0, {L}), "
        f"j -> CAST(tokens[CAST(t.i + j AS INT)] AS BIGINT) * ([{', '.join(map(str, pows))}])[j + 1] "
        f"% {D.TOKEN_P})) % {D.TOKEN_P} AS BIGINT)"
    )
    body = f"""
g0 AS (
  SELECT doc_id, n_tok, greatest(n_tok - {L - 1}, 0) AS n_grams, tokens FROM seq),
grams AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos, {fold} AS gram
  FROM g0, unnest(range(1, n_grams + 1)) AS t(i)
  WHERE n_grams > 0),
shared AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
dup AS (
  SELECT doc_id, pos FROM grams WHERE gram IN (SELECT gram FROM shared)),
runs AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {L}
         OR lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         THEN 1 ELSE 0 END AS new_run
  FROM dup),
runs2 AS (
  SELECT doc_id, pos,
    sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id
  FROM runs),
spans AS (
  SELECT doc_id, run_id, min(pos) AS s, max(pos) + {L - 1} AS e
  FROM runs2 GROUP BY doc_id, run_id),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
    CAST(max(e - s + 1) AS BIGINT) AS max_span_tok,
    CAST(sum(e - s + 1) AS BIGINT) AS dup_tok
  FROM spans GROUP BY doc_id),
cuts AS (
  SELECT doc_id, s, e FROM spans WHERE e - s + 1 >= {D.SUBSTR_CUT_MIN}),
kept AS (
  SELECT g0.doc_id,
    CAST(count(*) AS BIGINT) AS n_tok_kept,
    string_agg(g0.tokens[CAST(t.i AS INT)], ',' ORDER BY t.i) AS kept_csv
  FROM g0, unnest(range(1, n_tok + 1)) AS t(i)
  WHERE NOT EXISTS (
    SELECT 1 FROM cuts c WHERE c.doc_id = g0.doc_id AND t.i BETWEEN c.s AND c.e)
  GROUP BY g0.doc_id)
"""
    return _with(
        _SEQ_CTES,
        body,
        final="""SELECT g0.doc_id, g0.n_tok,
  coalesce(p.n_spans, 0) AS n_spans,
  coalesce(p.max_span_tok, 0) AS max_span_tok,
  coalesce(p.dup_tok, 0) AS dup_tok,
  round(coalesce(p.dup_tok, 0) * 1.0 / g0.n_tok, 4) AS dup_frac,
  coalesce(k.n_tok_kept, 0) AS n_tok_kept,
  coalesce(k.kept_csv, '') AS kept_csv
FROM g0 LEFT JOIN per_doc p ON p.doc_id = g0.doc_id
LEFT JOIN kept k ON k.doc_id = g0.doc_id""",
    )


def q_union_sources() -> str:
    """Mirror of the multi-receiver channel merge (controllor.go wires every
    receiver into ONE acceptor stream; SURVEY §2.9 maps it to unionByName)."""
    from go_fluentd_spark import oracle_recv

    return _with(
        _SEQ_CTES,
        f"http_ok AS ({oracle_recv.q_http_ingest().strip()})",
        final="""SELECT 'fluentd' AS origin, doc_id AS msg_id, tag, source AS message FROM ingest
UNION ALL
SELECT 'kafka', 'k' || CAST(event_id AS VARCHAR), 'kafkabuf.sit',
       json_extract_string(props, '$.k') FROM events
UNION ALL
SELECT 'rsyslog', 'r' || CAST(event_id AS VARCHAR), 'emqtt.sit', props FROM events
UNION ALL
SELECT 'http', 'h' || CAST(event_id AS VARCHAR), tag, cnt FROM http_ok""",
    )


def q_replay_dedup() -> str:
    """Mirror of the journal-replay dedup query (union + distinct doc_id)."""
    return _with(
        _SEQ_CTES,
        final="""SELECT count(DISTINCT doc_id) AS n_unique, count(*) AS n_delivered
FROM (
  SELECT doc_id FROM seq
  UNION ALL
  SELECT doc_id FROM seq
  WHERE CAST(split_part(doc_id, '-', 3) AS BIGINT) % 3 = 0)""",
    )


def q_routed_rows(cfg: C.PipelineConfig = C.DEFAULT_CONFIG) -> str:
    return _with(
        _SEQ_CTES,
        _CONCAT_CTES,
        _ACCEPTOR_CTES,
        _parsed_ctes(),
        _enriched_ctes(cfg),
        final="""SELECT sink, doc_id, tag, es_index, datasource, app, project, level, class,
       line, message, ts, msgid, array_to_string(tokens, ',') AS tokens_csv, n_tok
FROM routed""",
    )
