"""The tokenized-sequence source table.

``BASELINE.json`` fixes the input shape: ``(doc_id string, tokens
array<int32>, n_tok int32, source string)``.  We derive it DETERMINISTICALLY
from the driver's ``orders`` parquet (``o_orderkey`` is dense-unique:
0..N-1; 15k rows at sf0.01, 150k at sf0.1) using pure modular arithmetic and
string concatenation — constructs with identical semantics in Spark SQL and
DuckDB SQL — so the DuckDB oracle (``go_fluentd_spark.oracle``) can rebuild
the exact same table and every downstream pipeline stage is hash-checkable.
An optional replication factor (``rep``) multiplies rows for benchmarking
(``did = o_orderkey*rep + r``, still dense-unique); correctness runs use
rep=1 so the oracle stays a pure-SQL mirror.

The embedded ``source`` log lines reproduce the reference's log-line corpus
(FIXTURES.md F2; formats from ``/root/reference/docs/settings/settings.yml``
comments and ``library/utils_test.go:56-73``), with a Zipf-ish family mix:
~60% spring (hot-tag skew, mirroring ``docs/quickstart.md:122-127`` where one
tag is ~100% of traffic), plus bot/cp retag markers, connector JSON lines,
geely, spark (incl. ignore-regex victims), ramjet, multiline continuations,
unknown-tag rows, and unparseable junk.

Family layout by ``bucket = did % 100``:

| bucket | family        | initial tag base | fate |
|--------|---------------|------------------|------|
| 0-59   | spring head   | spring           | retag app.spring.{env} -> es_general |
| 57     | spring, impossible date | spring | dropped by parser time gate (bad_time) |
| 60-66  | bot marker    | spring           | retag bot.{env} -> es_general |
| 67-72  | cp marker     | spring           | retag cp.{env} -> es_general + kafka_cp |
| 73-79  | connector     | connector        | es_general (half with JSON args) |
| 80-86  | geely         | geely            | prod -> fluentd_backup; sit/uat -> no sink |
| 87-90  | spark         | spark            | even did: ignore_regex drop; odd: es_general |
| 91-93  | ramjet        | ramjet           | es_general |
| 94-95  | continuation  | spring           | concat-folded into spring head (same container) |
| 96-97  | unknown tag   | junkapp          | dropped by accept_tags whitelist |
| 98-99  | corrupt head  | spring           | retag app.spring, dropped by parser (parse_no_match) |

Bucket 98/99 lines are spring-HEAD-shaped (they match the spring
``head_regexp`` so they stand alone as their own concat session instead of
folding into a neighbouring head) but carry only one ``|`` field, so the
connector/spring parser pattern genuinely misses: the parse_no_match
discard path is exercised independently of any other family.

Identity: ``doc_id = '<base>.<env>-c<container:04d>-<seq:08d>'`` — the tag is
recoverable from the doc_id prefix (the reference's
tag-rewrite-from-message-key, ``internal/recvs/fluentd.go:346-361``), the
container segment is the concat/LB identifier (``lb_key: container_id``,
settings.yml:237), and the seq segment is the monotonic receive ``ID``
(``internal/recvs/fluentd.go:384``).

Tokens: ``n_tok = 1 + (did*131071) % 512`` for every 10th row else
``1 + (did*131071) % 64`` (long-tail row-size skew);
``tokens[i] = (did*2654435761 + i*40503) % 50257``.  The pipeline must carry
these untouched — the per-row token-array-equality gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from go_fluentd_spark.config import ENV_SUFFIX_REGEX, TAG_ENV_REGEX
from go_fluentd_spark.functions.sqltext import sql_str, with_sql

# Shared literal fragments (also consumed by the DuckDB oracle builder so the
# two derivations cannot drift).
SPRING_CLASS = "com.laisky.cloud.cp.core.service.impl.CPBusiness.reflectAdapterRequest"
CONNECTOR_CLASS = "com.google.cloud.gateway.core.zuul.filters.post.LogFilter"
GEELY_CLASS = "com.tservice.cc.web.interceptor.MyLoggingOutInterceptor.handleMessage"
RAMJET_PATH = "/go/src/github.com/laisky/go-ramjet/tasks/logrotate/backup/main.go"
CONTINUATION_PREFIX = "at com.example.myproject.Author.getBookIds(Author.java:"

VOCAB = 50257


def _line(*parts: str) -> str:
    """``concat`` of SQL fragments (literals already through ``sql_str``)."""
    return "concat(" + ", ".join(parts) + ")"


def _case(whens: list[tuple[str, str]], otherwise: str) -> str:
    """``CASE WHEN c THEN v ... ELSE otherwise END`` of SQL fragments."""
    body = " ".join(f"WHEN {c} THEN {v}" for c, v in whens)
    return f"CASE {body} ELSE {otherwise} END"


def _synth_sql() -> dict[str, str]:
    """The four output columns as SQL text over ``did``.  Each mirrors the
    oracle's ``_SEQ_CTES`` term for term, with the operand order of the
    Column builders it replaced (``1 + x`` built ``x + 1``)."""
    ms3 = "lpad(CAST((did % 1000) AS STRING), 3, '0')"
    ms6 = "lpad(CAST((did % 1000000) AS STRING), 6, '0')"
    nexec = "CAST(((did % 16) + 1) AS STRING)"
    dids = "CAST(did AS STRING)"
    b = "(did % 100)"
    # keyed off (did % 50) so every row of one container shares one env (and
    # therefore one tag): multiline sessions never straddle tags, matching
    # reality: one container logs to one tag
    env = _case(
        [("(((did % 50) % 3) = 0)", "'sit'"), ("(((did % 50) % 3) = 1)", "'uat'")], "'prod'"
    )

    spring_line = _line(
        sql_str("2018-03-06 16:56:22."), ms3,
        sql_str(" | mscparea | INFO  | http-nio-8080-exec-"), nexec,
        sql_str(" | " + SPRING_CLASS + " | 84: test message "), dids,
    )
    # bucket 57: regex-valid shape but impossible date -> the parser's
    # unparseable-time discard path (parser_f.go:121-168)
    spring_badtime_line = _line(
        sql_str("2018-02-30 16:56:22."), ms3,
        sql_str(" | mscparea | INFO  | http-nio-8080-exec-"), nexec,
        sql_str(" | " + SPRING_CLASS + " | 84: bad time "), dids,
    )
    bot_line = _line(
        sql_str("2018-03-06 16:56:22."), ms3,
        sql_str(" | ms_bot7 | WARN  | http-nio-8080-exec-"), nexec,
        sql_str(" | com.laisky.svc.BotHandler | 112: bot event "), dids,
    )
    # cp rows keep the spring pipe shape (so they concat under the spring
    # head_regexp like real spring-tagged traffic) but carry the "- ms:cp"
    # marker that fires SpringFilter retag rule 1 (settings.yml:650-652).
    cp_line = _line(
        sql_str("2018-02-01 16:15:43."), ms3,
        sql_str(" | mscpsvc | INFO  | http-nio-8080-exec-"), nexec,
        sql_str(" | com.laisky.cp.CpService | 84: handled - ms:cp event "), dids,
    )
    # every other args row carries a NESTED object so the parser's recursive
    # FlattenMap path (args__nested__a) is exercised end-to-end
    connector_args_tail = _case(
        [(
            "((did % 4) = 0)",
            _line(sql_str('", "nested": {"a": "'), "CAST((did % 7) AS STRING)", sql_str('"}}')),
        )],
        sql_str('"}'),
    )
    connector_args_line = _line(
        sql_str("2018-04-02 02:02:10."), ms3,
        sql_str(" | sh-datamining | INFO | http-nio-8080-exec-"), nexec,
        sql_str(" | " + CONNECTOR_CLASS + ' | 74 | {"k": "v'), "CAST((did % 5) AS STRING)",
        connector_args_tail, sql_str(": request "), dids,
    )
    connector_plain_line = _line(
        sql_str("2018-04-02 02:02:10."), ms3,
        sql_str(" | sh-datamining | INFO | http-nio-8080-exec-"), nexec,
        sql_str(" | " + CONNECTOR_CLASS + " | 74: plain request "), dids,
    )
    geely_line = _line(
        sql_str("2018-02-05 10:33:13."), ms3,
        sql_str(" | geely:nlcc | INFO | http-bio-8081-exec-"), "CAST(((did % 9) + 1) AS STRING)",
        sql_str(" | " + GEELY_CLASS + ":57 - Outbound Message "), dids,
    )
    spark_ignore_line = _line(
        sql_str("2018-03-06 16:56:22,"), ms3, sql_str(" [main] something "), dids
    )
    spark_head_line = _line(sql_str("2018/03/06 16:56:22."), ms3, sql_str(" running task "), dids)
    ramjet_line = _line(
        sql_str("[2018-08-03T05:42:42."), ms6,
        sql_str("Z - DEBUG - " + RAMJET_PATH + ":129] IsFileReadyToUpload for "), dids,
        sql_str(".log.gz"),
    )
    continuation_line = _line(
        sql_str("\t" + CONTINUATION_PREFIX), "CAST(((did % 90) + 10) AS STRING)", sql_str(")")
    )
    junk_tag_line = _line(sql_str("orphan "), dids)
    # head-shaped (matches SPRING_HEAD_REGEX => standalone session) but only
    # one pipe field => the spring/connector parser pattern misses
    junk_body_line = _line(sql_str("2018-03-06 16:56:22."), ms3, sql_str(" | corrupted "), dids)

    base = _case(
        [(f"({b} < {hi})", sql_str(name)) for hi, name in (
            (73, "spring"), (80, "connector"), (87, "geely"), (91, "spark"),
            (94, "ramjet"), (96, "spring"), (98, "junkapp"),
        )],
        sql_str("spring"),
    )
    even = "((did % 2) = 0)"
    source = _case(
        [
            (f"({b} = 57)", spring_badtime_line),
            (f"({b} < 60)", spring_line),
            (f"({b} < 67)", bot_line),
            (f"({b} < 73)", cp_line),
            (f"({b} < 80)", _case([(even, connector_args_line)], connector_plain_line)),
            (f"({b} < 87)", geely_line),
            (f"({b} < 91)", _case([(even, spark_ignore_line)], spark_head_line)),
            (f"({b} < 94)", ramjet_line),
            (f"({b} < 96)", continuation_line),
            (f"({b} < 98)", junk_tag_line),
        ],
        junk_body_line,
    )
    n_tok = "CAST(" + _case(
        [("((did % 10) = 0)", "(((did * 131071) % 512) + 1)")], "(((did * 131071) % 64) + 1)"
    ) + " AS INT)"
    # container id: 5000 distinct values (realistic pod/container cardinality
    # so the concat window parallelizes), constructed so a continuation row
    # (bucket 94/95) always shares its container with the head rows of the
    # same did-group: (did%50) pins the bucket-pair, floor(did/100)%100
    # spreads groups — both terms are equal for did = 100g+44 vs 100g+94.
    container = (
        "lpad(CAST((((did % 50) * 100) + (CAST(FLOOR((did / 100)) AS BIGINT) % 100)) AS STRING), 4, '0')"
    )
    doc_id = _line(
        base, sql_str("."), env, sql_str("-c"), container, sql_str("-"), f"lpad({dids}, 8, '0')"
    )
    tokens = (
        f"transform(sequence(0, ({n_tok} - 1)), "
        f"i -> CAST((((did * 2654435761) + (CAST(i AS BIGINT) * 40503)) % {VOCAB}) AS INT))"
    )
    return {"doc_id": doc_id, "tokens": tokens, "n_tok": n_tok, "source": source}


def sequences_df(spark: SparkSession, sf_dir: str, rep: int = 1) -> DataFrame:
    """Build the tokenized-sequence table from ``orders.parquet``.

    SQL-text expressions (whole-stage codegen, no Python in the row path),
    one ``selectExpr`` per step.  The scan reads the single ``o_orderkey``
    column with its type given (bigint; an int32 column widens on read), so
    no job infers the file schema.  ``rep`` > 1 replicates rows for
    benchmarking (dense-unique ids preserved).
    """
    docs = spark.read.schema("o_orderkey bigint").parquet(f"{sf_dir}/orders.parquet")
    docs = docs.selectExpr("o_orderkey AS ok")
    # the testdata parquet is one small file; spread the 8-byte keys across
    # all cores BEFORE replication/generation so the expensive row synthesis
    # is fully parallel (at real scale the source table has thousands of
    # splits and this repartition is unnecessary)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    if rep > 1:
        docs = docs.selectExpr("ok", f"explode(sequence(0, {rep - 1})) AS r").selectExpr(
            f"((ok * {rep}) + r) AS did"
        )
    else:
        docs = docs.selectExpr("ok AS did")
    return docs.selectExpr(*[f"{e} AS {c}" for c, e in _synth_sql().items()])


def with_ingest_columns(df: DataFrame) -> DataFrame:
    """Recover routing metadata from the input columns only (no synth
    knowledge): the receive step of the pipeline.

    tag from the doc_id prefix = the reference's tag-rewrite-from-key
    (``internal/recvs/fluentd.go:346-361``); container_id = LB/concat
    identifier (``lb_key``, settings.yml:237); id = monotonic receive ID
    (``internal/recvs/fluentd.go:384``).
    """
    df = with_sql(
        df,
        {
            "tag": "split_part(doc_id, '-', 1)",
            "container_id": "split_part(doc_id, '-', 2)",
            "id": "CAST(split_part(doc_id, '-', 3) AS BIGINT)",
        },
    )
    # tag = "<base>.<env>": env is the suffix after the last '.', base
    # everything before it (base itself may contain dots).
    return with_sql(
        df,
        {
            "env": f"regexp_extract(tag, {sql_str(ENV_SUFFIX_REGEX)}, 1)",
            "tag_base": f"regexp_replace(tag, {sql_str(TAG_ENV_REGEX)}, '')",
        },
    )
