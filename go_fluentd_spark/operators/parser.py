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
explode, time normalize) are pure Column exprs.

Group -> unified column mapping (NULL where a family lacks the field):
time, app, level, thread, class, line, args, message.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from go_fluentd_spark.config import TRIM_CHARS, ParserConfig, PipelineConfig

#: unified output fields ("project" is geely's app-like key, kept under the
#: reference's own name — library/utils_test.go:56-73)
FIELDS = ["time", "app", "project", "level", "thread", "class", "line", "args", "message"]


def _family_case(parsers: list[ParserConfig], build) -> Column | None:
    """when(tag_base in parser.tag_bases, build(parser)) chain."""
    chain = None
    for p in parsers:
        cond = F.col("tag_base").isin(list(p.tag_bases))
        val = build(p)
        chain = F.when(cond, val) if chain is None else chain.when(cond, val)
    return chain


def java_pattern(pattern: str) -> str:
    """``pattern`` for Java's regex with RE2's line semantics: ``(?<name>``
    groups, UNIX_LINES so ``.`` stops only at "\\n" (Java's also stops at
    "\\r", U+0085, U+2028 and U+2029), and a trailing ``$`` as ``\\z`` (Java's
    ``$`` also matches before a final line terminator)."""
    body = pattern.replace("(?P<", "(?<")
    return "(?d)" + (body[:-1] + r"\z" if body.endswith("$") else body)


def _group_col(p: ParserConfig, field: str) -> Column:
    """Extract one unified field for one parser; trim + empty=>NULL
    (RegexNamedSubMatch semantics, library/utils.go:60-73)."""
    if field not in p.groups:
        return F.lit(None).cast("string")
    val = F.regexp_extract(F.col("source"), java_pattern(p.pattern), p.groups[field])
    return F.nullif(F.trim(val, F.lit(TRIM_CHARS)), F.lit(""))


def extract_native(df: DataFrame, parsers: list[ParserConfig]) -> DataFrame:
    """JVM extraction: codegen'd regexp_extract per group (the regex runs
    once per group — N+1 runs/row)."""
    matched = _family_case(parsers, lambda p: F.col("source").rlike(java_pattern(p.pattern)))
    df = df.filter(F.coalesce(matched, F.lit(False)))  # no parser => discard
    cols = {f: _family_case(parsers, lambda p, f=f: _group_col(p, f)) for f in FIELDS}
    return df.withColumns(cols)


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
    df = df.drop(*FIELDS)
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


def parse(df: DataFrame, cfg: PipelineConfig, impl: str | None = None) -> DataFrame:
    """Parser over all configured tag families: extraction (arrow | native)
    + the shared post stages (must_include, JSON explode, time normalize)."""
    parsers = cfg.parsers
    extract = {"arrow": extract_arrow, "native": extract_native}[impl or cfg.parser_impl]
    df = extract(df, parsers)

    # must_include gate (parser_f.go:112-118)
    must_ok = _family_case(
        parsers,
        lambda p: F.col(p.must_include).isNotNull() if p.must_include else F.lit(True),
    )
    df = df.filter(must_ok)

    # JSON explode of the args group (parser_f.go:74-107): the payload is
    # recursively FlattenMap'd (library/utils.go:75-85) so nested objects
    # land as `a__b` keys in `args_map` (our declared-schema overflow
    # column); known keys are promoted to real `args__`-prefixed columns;
    # raw kept only when JSON parse fails.
    from go_fluentd_spark.functions.textops import flatten_json_map

    json_parsers = [p for p in parsers if p.parse_json_key]
    if json_parsers:
        is_json_family = F.col("tag_base").isin(
            [b for p in json_parsers for b in p.tag_bases]
        )
        parsed_map = flatten_json_map(F.col("args"))
        df = df.withColumn("args_map", F.when(is_json_family, parsed_map))
        from go_fluentd_spark.config import PROMOTE_JSON_KEYS

        df = df.withColumns(
            {
                f"args__{key}": F.try_element_at(F.col("args_map"), F.lit(key))
                for key in PROMOTE_JSON_KEYS
            }
        ).withColumn(
            "args",
            F.when(F.col("args_map").isNotNull(), F.lit(None)).otherwise(
                F.col("args")
            ),
        )

    # time normalize (parser_f.go:121-168 + settings.yml:786-795): parse with
    # appended tz, re-emit UTC ISO micros under @timestamp; comma-decimal fix
    # (parser_f.go:147).  Families with time_group=None skip (ramjet's time is
    # already UTC ISO; spark rows carry no structured time).
    def ts_expr(p: ParserConfig) -> Column:
        if p.time_group is None:
            if "time" in p.groups and p.tag_bases == ("ramjet",):
                return F.concat(F.col("time"), F.lit("Z"))
            return F.lit(None).cast("string")
        # try_to_timestamp: NULL on malformed input (ANSI-safe), mirroring
        # the reference's parse-failure-=>-discard instead of erroring
        parsed = F.try_to_timestamp(
            F.concat(
                F.regexp_replace(F.col("time"), ",", "."),
                F.lit(" " + p.append_time_zone),
            ),
            F.lit(p.spark_time_format),
        )
        return F.date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")

    df = df.withColumn("ts", _family_case(parsers, ts_expr))

    # unparseable time => discard, but only for families that parse time
    time_required = _family_case(
        parsers, lambda p: F.lit(p.time_group is not None)
    )
    df = df.filter(~time_required | F.col("ts").isNotNull())

    # is_remove_orig_log (parser_f.go:67-69)
    drop_log = _family_case(parsers, lambda p: F.lit(p.is_remove_orig_log))
    df = df.withColumn("source", F.when(~drop_log, F.col("source")))
    return df
