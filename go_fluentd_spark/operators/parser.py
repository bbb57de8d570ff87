"""Regex parsing / extraction (reference ``internal/tagfilters/parser_f.go``).

Reference flow per tag: regex named-group extract -> JSON explode ->
must_include gate -> add fields -> time normalize; groups are trimmed and
empty groups are absent keys (``library/utils.go:60-73``); a non-matching row
is DISCARDED (``parser_f.go:57-63``); unparseable time is DISCARDED
(``parser_f.go:121-168``).

Spark restatement: ONE extraction pass.  Two interchangeable extraction
backends, selected by ``PipelineConfig.parser_impl`` and benchmarked against
each other in bench.py: ``arrow`` (one ``mapInArrow`` over the accepted
frame, one RE2 ``extract_regex`` pass per family — the reference's own regex
dialect) and ``native`` (codegen'd regexp_extract when-chains on Java regex —
the regex runs once per group).  The shared post stages (must_include, JSON
explode, time normalize) are SQL-text expressions.

Group -> unified column mapping (NULL where a family lacks the field):
time, app, level, thread, class, line, args, message.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from go_fluentd_spark.config import PROMOTE_JSON_KEYS, TRIM_CHARS, ParserConfig, PipelineConfig
from go_fluentd_spark.functions.sqltext import ident, sql_in, sql_str, with_sql
from go_fluentd_spark.functions.textops import flatten_json_map

#: unified output fields ("project" is geely's app-like key, kept under the
#: reference's own name — library/utils_test.go:56-73)
FIELDS = ["time", "app", "project", "level", "thread", "class", "line", "args", "message"]


def _family_case(parsers: list[ParserConfig], build) -> str:
    """``CASE WHEN tag_base IN (parser.tag_bases) THEN build(parser) ... END``
    as SQL text; ``build`` returns SQL text too."""
    whens = " ".join(
        f"WHEN {sql_in('tag_base', p.tag_bases)} THEN {build(p)}" for p in parsers
    )
    return f"CASE {whens} END"


def java_pattern(pattern: str) -> str:
    """``pattern`` for Java's regex with RE2's line semantics: ``(?<name>``
    groups, UNIX_LINES so ``.`` stops only at "\\n" (Java's also stops at
    "\\r", U+0085, U+2028 and U+2029), and a trailing ``$`` as ``\\z`` (Java's
    ``$`` also matches before a final line terminator)."""
    body = pattern.replace("(?P<", "(?<")
    return "(?d)" + (body[:-1] + r"\z" if body.endswith("$") else body)


def _group_col(p: ParserConfig, field: str) -> str:
    """Extract one unified field for one parser; trim + empty=>NULL
    (RegexNamedSubMatch semantics, library/utils.go:60-73)."""
    if field not in p.groups:
        return "CAST(NULL AS STRING)"
    val = f"regexp_extract(source, {sql_str(java_pattern(p.pattern))}, {p.groups[field]})"
    return f"nullif(trim(BOTH {sql_str(TRIM_CHARS)} FROM {val}), '')"


def extract_native(df: DataFrame, parsers: list[ParserConfig]) -> DataFrame:
    """JVM extraction: codegen'd regexp_extract per group (the regex runs
    once per group — N+1 runs/row)."""
    matched = _family_case(parsers, lambda p: f"source RLIKE {sql_str(java_pattern(p.pattern))}")
    df = df.filter(f"coalesce({matched}, false)")  # no parser => discard
    return with_sql(df, {f: _family_case(parsers, lambda p, f=f: _group_col(p, f)) for f in FIELDS})


def extract_arrow(df: DataFrame, parsers: list[ParserConfig]) -> DataFrame:
    """RE2 extraction in ONE ``mapInArrow``: per record batch, one
    ``extract_regex`` pass per family over that family's rows (first family
    whose tag_bases hold the row's tag_base, as the when-chains pick), then
    the unmatched rows are dropped and the unified fields appended.  Every
    input column passes through as the Arrow array it arrived as (no pandas
    conversion).  Semantics identical to :func:`extract_native`.

    A map-in node is a plan barrier, so each row crosses into Python once.
    The scalar pandas UDF it replaced returned a struct that Catalyst
    re-evaluated in each downstream gate (2-4 ArrowEvalPython nodes); marking
    it nondeterministic (4.6x slower end to end), a nondeterministic barrier
    column and dropping the match filter all failed to stop that.  The
    barrier also stops column pruning: every input column crosses, so a
    consumer that reads few of them selects those first
    (``pipeline.COUNT_COLUMNS``)."""
    present = [f for f in FIELDS if f in df.columns]
    if present:
        df = df.drop(*present)
    families = [(list(p.tag_bases), p.pattern, list(p.groups)) for p in parsers]
    schema = T.StructType(
        df.schema.fields + [T.StructField(f, T.StringType()) for f in FIELDS]
    )

    def extract(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            tag_base, source = batch.column("tag_base"), batch.column("source")
            no_source = pa.scalar(None, source.type)
            taken = matched = pa.repeat(False, n)
            found: dict[str, list] = {f: [] for f in FIELDS}
            for bases, pat, groups in families:
                mine = pc.is_in(tag_base, pa.array(bases, tag_base.type)).fill_null(False)
                mine = pc.and_not(mine, taken)
                taken = pc.or_(taken, mine)
                # RE2 runs only on this family's rows: NULL inputs are skipped
                ext = pc.extract_regex(pc.if_else(mine, source, no_source), pattern=pat)
                matched = pc.or_(matched, ext.is_valid())
                for g in groups:  # struct_field, not .field(): NULL where no match
                    found[g].append(pc.struct_field(ext, g))
            cols = []
            for f in FIELDS:
                vals = pc.coalesce(*found[f]) if found[f] else pa.nulls(n, pa.string())
                vals = pc.utf8_trim(vals, characters=TRIM_CHARS)
                cols.append(pc.if_else(pc.equal(vals, ""), None, vals))
            out = pa.RecordBatch.from_arrays(
                batch.columns + cols, names=batch.schema.names + FIELDS
            ).filter(matched)
            if out.num_rows:
                yield out

    return df.mapInArrow(extract, schema)


#: the UTC ISO format ``ts`` is re-emitted in
ISO_MICROS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"


def _parsed_time(p: ParserConfig, time: str) -> str:
    """The family's ``time`` group (SQL text) as a timestamp, NULL when
    malformed: try_to_timestamp mirrors the reference's
    parse-failure-=>-discard instead of erroring (ANSI-safe)."""
    return (
        f"try_to_timestamp(concat(regexp_replace({time}, ',', '.'), "
        f"{sql_str(' ' + p.append_time_zone)}), {sql_str(p.spark_time_format)})"
    )


def _ts_expr(p: ParserConfig) -> str:
    """time normalize (parser_f.go:121-168 + settings.yml:786-795): parse
    with appended tz, re-emit UTC ISO micros under @timestamp; comma-decimal
    fix (parser_f.go:147).  Families with time_group=None skip (ramjet's
    time is already UTC ISO; spark rows carry no structured time)."""
    if p.time_group is None:
        if "time" in p.groups and p.tag_bases == ("ramjet",):
            return "concat(time, 'Z')"
        return "CAST(NULL AS STRING)"
    return f"date_format({_parsed_time(p, 'time')}, {sql_str(ISO_MICROS_FORMAT)})"


def _bool(b: bool) -> str:
    return "true" if b else "false"


def parse(df: DataFrame, cfg: PipelineConfig, impl: str | None = None) -> DataFrame:
    """Parser over all configured tag families: extraction (arrow | native)
    + the shared post stages (must_include, JSON explode, time normalize),
    each one SQL-text filter or projection."""
    parsers = cfg.parsers
    extract = {"arrow": extract_arrow, "native": extract_native}[impl or cfg.parser_impl]
    df = extract(df, parsers)

    # must_include gate (parser_f.go:112-118)
    df = df.filter(_family_case(
        parsers,
        lambda p: f"({ident(p.must_include)} IS NOT NULL)" if p.must_include else "true",
    ))

    post = {}
    json_parsers = [p for p in parsers if p.parse_json_key]
    if json_parsers:
        # JSON explode of the args group (parser_f.go:74-107): the payload is
        # recursively FlattenMap'd (library/utils.go:75-85) so nested objects
        # land as `a__b` keys in `args_map` (our declared-schema overflow
        # column); known keys are promoted to real `args__`-prefixed columns;
        # raw kept only when JSON parse fails.
        is_json_family = sql_in("tag_base", [b for p in json_parsers for b in p.tag_bases])
        df = df.withColumn(
            "args_map", F.expr(f"CASE WHEN {is_json_family} THEN {flatten_json_map('args')} END")
        )
        post = {
            f"args__{key}": f"try_element_at(args_map, {sql_str(key)})" for key in PROMOTE_JSON_KEYS
        }
        post["args"] = "CASE WHEN (args_map IS NOT NULL) THEN NULL ELSE args END"
    # one projection: the JSON promotions and ts read only the input columns
    df = with_sql(df, {**post, "ts": _family_case(parsers, _ts_expr)})

    # unparseable time => discard, but only for families that parse time
    time_required = _family_case(parsers, lambda p: _bool(p.time_group is not None))
    df = df.filter(f"((NOT {time_required}) OR (ts IS NOT NULL))")

    # is_remove_orig_log (parser_f.go:67-69)
    drop_log = _family_case(parsers, lambda p: _bool(p.is_remove_orig_log))
    return df.withColumn("source", F.expr(f"CASE WHEN (NOT {drop_log}) THEN source END"))
