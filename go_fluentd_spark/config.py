"""Pipeline configuration: config-as-data mirroring the *semantics* of the
reference's YAML (``/root/reference/docs/settings/settings.yml``), rendered
ONCE per plan build into SQL-text expressions (``functions/sqltext.py``)
that Catalyst parses into the same expressions the Column builders made —
never per-row.

Everything here is a plain Python structure so a user can swap in their own
tenant config exactly like go-fluentd's plugin sections.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Environments and tags (reference settings.yml:18-49)
# ---------------------------------------------------------------------------

ENVS = ["sit", "uat", "prod"]

# Tag *bases*; the runtime tag is "<base>.<env>".  Subset of the reference's
# all-tags list (settings.yml:18-42) covering every code path we exercise.
ACCEPT_TAG_BASES = [
    "app.spring",
    "gateway",
    "connector",
    "qingai",
    "cp",
    "ptdeployer",
    "ramjet",
    "tsp",
    "ai",
    "base",
    "geely",
    "bot",
    "spark",
]

ACCEPT_TAGS = [f"{b}.{e}" for b in ACCEPT_TAG_BASES for e in ENVS]

#: a tag is "<base>.<env>": the env is the suffix after the last '.', the
#: base everything before it (a base may itself contain dots)
ENV_SUFFIX_REGEX = r"\.([a-z]+)$"
TAG_ENV_REGEX = r"\.[a-z]+$"

# ---------------------------------------------------------------------------
# Acceptor filters (reference internal/acceptorfilters/)
# ---------------------------------------------------------------------------

# SparkFilter (spark_f.go:44-68): rows tagged spark.{env} whose log matches
# ignore_regex are discarded; survivors get identifier="spark".
# Pattern from settings.yml:641.
SPARK_IGNORE_REGEX = r"^\d{4}-\d{2}-\d{2} +\d{2}:\d{2}:\d{2},\d{3} +\["

# SpringFilter retag rules (spring_f.go:79-107, settings.yml:650-656).
# First-match-wins, ordered.  {env} substituted per-row from the tag's env.
# The shipped rules are confluent (a rewritten tag never matches again,
# SURVEY.md §7 risk register), so one when-chain suffices — no re-entry loop.
SPRING_RETAG_RULES = [
    {"regexp": r"- ms:cp", "new_tag_base": "cp"},
    {"regexp": r"ms_\w+", "new_tag_base": "bot"},
    {"regexp": r".*", "new_tag_base": "app.spring"},
]

# ---------------------------------------------------------------------------
# Concat (multiline sessionization) — reference internal/tagfilters/concator_f.go
# + per-tag head_regexp configs settings.yml:180-310
# ---------------------------------------------------------------------------

# head_regexp per tag base.  A row whose source matches is a session head;
# non-matching rows are appended to the open head of the same identifier.
SPRING_HEAD_REGEX = r"^\d{4}-\d{2}-\d{2} +\d{2}:\d{2}:\d{2}\.\d{3} *\|"
CONCAT_CONFIGS: dict[str, dict] = {
    # settings.yml:185-189 (spring family share one head shape)
    "spring": {"head_regexp": SPRING_HEAD_REGEX, "identifier": "container_id"},
    "connector": {"head_regexp": SPRING_HEAD_REGEX, "identifier": "container_id"},
    "gateway": {"head_regexp": SPRING_HEAD_REGEX, "identifier": "container_id"},
    "geely": {
        # settings.yml:299-304
        "head_regexp": r"^\d{4}-\d{2}-\d{2} +\d{2}:\d{2}:\d{2}.\d{3} +\|",
        "identifier": "container_id",
    },
    "spark": {
        # settings.yml:248-252
        "head_regexp": r"^\d{4}/\d{2}/\d{2} \d{2}:\d{2}:\d{2}\.\d{3} +[^ ]",
        "identifier": "container_id",
    },
    "ramjet": {
        # settings.yml:258-262
        "head_regexp": r"^\[\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}.\d{6}Z *-",
        "identifier": "container_id",
    },
}
CONCAT_MAX_LEN = 300_000  # settings.yml "concat_max_len: 300000"
# session-size guard beyond the reference: bounds the ELEMENT COUNT a concat
# group can accumulate (max_len bounds the char sum, but a pathological
# container emitting millions of near-empty tails would still concentrate an
# unbounded collect_list in one task at 100 TB scale)
CONCAT_MAX_MERGED = 100_000

# ---------------------------------------------------------------------------
# Parser (reference internal/tagfilters/parser_f.go, settings.yml:763-809)
# ---------------------------------------------------------------------------
# Each pattern names its groups after the unified fields, so one string drives
# the Arrow backend and the DuckDB oracle (both RE2, as go-fluentd's Go regexp
# is) and, through ``parser.java_pattern``, Spark's regexp_extract (Java regex
# with RE2's ``.`` and ``$``, COVERAGE.md P1); every capture group is named.
# Group semantics mirror RegexNamedSubMatch (library/utils.go:60-73): trim
# each group, empty group => absent (NULL).

#: what ``bytes.TrimSpace`` strips from each group (Go's unicode.IsSpace set),
#: spelled out so Spark ``trim``, Arrow ``utf8_trim`` and DuckDB ``trim`` strip
#: the same characters (their defaults differ: ' ' only, all whitespace, and
#: Unicode Zs)
TRIM_CHARS = (
    "\t\n\v\f\r \x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)

# connector/spring pattern (settings.yml:763)
CONNECTOR_PATTERN = (
    r"^(?P<time>.{23}) *\| *(?P<app>[^|]+?) *\| *(?P<level>[^|]+?) *\| *(?P<thread>[^|]+?) *\| *"
    r"(?P<class>[^|:]+?) *\| *(?P<line>\d+)(?: *[|:] *(?P<args>\{.*\}))?(?: *[|:] *(?P<message>.*))?$"
)

# geely pattern (library/utils_test.go:56-73 golden)
GEELY_PATTERN = (
    r"^(?P<time>.{23}) *\| *(?P<project>[^|]+?) *\| *(?P<level>[^|]+?) *\| *(?P<thread>[^|]+?) *\| *"
    r"(?P<class>[^:]+):(?P<line>\d+) *- *(?P<message>.*)$"
)

# ramjet pattern (settings.yml head + docstring example); class holds the
# path.  The timestamp is an explicit micros ISO group (26 chars, e.g.
# '2018-08-03T05:42:42.714151' — settings.yml:181): a width-based `.{27}`
# silently off-by-one'd past the 'Z' and discarded every ramjet row as
# parse_no_match (round-1 ADVICE).
RAMJET_PATTERN = (
    r"^\[(?P<time>\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6})Z *- *(?P<level>\w+) *- *"
    r"(?P<class>[^:\]]+):(?P<line>\d+)\] *(?P<message>.*)$"
)


# flattened args_map keys promoted to first-class `args__<key>` columns
# (declared-schema projection of the reference's dynamic Message map; nested
# paths use the FlattenMap "__" join, library/utils.go:75-85)
PROMOTE_JSON_KEYS = ("k", "nested__a")


@dataclass(frozen=True)
class ParserConfig:
    """One per-tag parser, mirroring a ``tag_filters.plugins`` entry."""

    tag_bases: tuple[str, ...]
    pattern: str  # every capture group named after its unified field
    must_include: str | None = "app"
    parse_json_key: str | None = None  # group whose value is JSON to explode
    time_group: str | None = "time"
    append_time_zone: str = "+0800"  # settings.yml:791-795 (all envs +0800)
    # time_format "2006-01-02 15:04:05.000 -0700" / new format settings.yml:786-790
    spark_time_format: str = "yyyy-MM-dd HH:mm:ss.SSS Z"
    new_time_key: str = "@timestamp"
    is_remove_orig_log: bool = True

    def __post_init__(self):
        rx = re.compile(self.pattern)
        if rx.groups != len(rx.groupindex):
            raise ValueError(f"{self.tag_bases}: every capture group must be named")

    @property
    def groups(self) -> dict[str, int]:
        """field -> capture group index"""
        return dict(re.compile(self.pattern).groupindex)


PARSERS: list[ParserConfig] = [
    ParserConfig(
        tag_bases=("connector", "gateway"),
        pattern=CONNECTOR_PATTERN,
        parse_json_key="args",
    ),
    ParserConfig(
        tag_bases=("app.spring", "tsp", "ai", "base", "bot", "cp", "qingai", "ptdeployer"),
        pattern=CONNECTOR_PATTERN,
    ),
    ParserConfig(
        tag_bases=("geely",),
        pattern=GEELY_PATTERN,
        must_include="project",
    ),
    ParserConfig(
        tag_bases=("ramjet",),
        pattern=RAMJET_PATTERN,
        must_include="level",
        time_group=None,  # ramjet time is already UTC-ISO in the line
    ),
    ParserConfig(
        # spark lines carry no structured fields; parser passes the line through
        tag_bases=("spark",),
        pattern=r"^(?P<time>\d{4}/\d{2}/\d{2} \d{2}:\d{2}:\d{2}\.\d{3}) +(?P<message>.*)$",
        must_include="message",
        time_group=None,
        is_remove_orig_log=False,
    ),
]

# ---------------------------------------------------------------------------
# Enrichment (add-config, reference library/add.go:182-205, settings.yml:798-809)
# ---------------------------------------------------------------------------

# tag_base -> fields added to every row of that tag (broadcast-join dim).
ADD_FIELDS: dict[str, dict[str, str]] = {
    "ai": {"datasource": "ai"},
    "tsp": {"datasource": "tsp"},
    "base": {"datasource": "base"},
    "bot": {"datasource": "bot"},
    "app.spring": {"datasource": "spring"},
    "connector": {"datasource": "connector"},
    "gateway": {"datasource": "gateway"},
    "cp": {"datasource": "cp"},
    "geely": {"datasource": "geely"},
}

# ES index map (settings.yml:503-526), "{env}" substituted at plan build like
# internal/senders/elasticsearch.go:21-28.
ES_INDEX_MAP_BASE: dict[str, str] = {
    "ramjet": "{env}-spring-logs-write",
    "app.spring": "{env}-spring-logs-write",
    "gateway": "{env}-gateway-logs-write",
    "connector": "{env}-connector-logs-write",
    "qingai": "{env}-qingai-logs-write",
    "cp": "{env}-cp-logs-write",
    "ptdeployer": "{env}-spring-logs-write",
    "tsp": "{env}-spring-logs-write",
    "ai": "{env}-spring-logs-write",
    "base": "{env}-spring-logs-write",
    "bot": "{env}-bot-logs-write",
    "spark": "{env}-spark-logs-write",
}


def es_index_rows(
    es_map: dict[str, str] | None = None, envs: list[str] | None = None
) -> list[tuple[str, str]]:
    """(tag, es_index) dim rows, env-substituted."""
    return [
        (f"{base}.{env}", tpl.replace("{env}", env))
        for base, tpl in (es_map or ES_INDEX_MAP_BASE).items()
        for env in (envs or ENVS)
    ]


# ---------------------------------------------------------------------------
# Post filters (reference internal/postfilters/)
# ---------------------------------------------------------------------------

POST_MAX_LEN = 307_200  # default_f truncation, settings.yml:671

# ---------------------------------------------------------------------------
# Sinks (reference internal/senders/, producer fan-out producer.go:223-329)
# ---------------------------------------------------------------------------


# MustIncludeFileds (library/const.go:8-17) restated over our declared
# schema: columns that survive ANY include filter (@timestamp -> ts; doc_id
# added as the row identity; container_name has no analogue here).
# INTENTIONAL DEVIATION: tokens, the rebuild's payload, survives too, so
# every sink table carries the token arrays the routed-row checks compare
MUST_INCLUDE_FIELDS = (
    "tag",
    "ts",
    "msgid",
    "container_id",
    "level",
    "datasource",
    "doc_id",
    "tokens",
)


@dataclass(frozen=True)
class SinkConfig:
    name: str
    # tag memberships; entries are tag bases ("cp" => all envs) or full tags
    # ("geely.prod") exactly like settings.yml sender tag lists (yml:463-561)
    tags: tuple[str, ...]
    kind: str = "es"  # es | kafka | fluentd | stdout
    # FieldsFilter include list (fields.go:54-81): when set, the sink's rows
    # are written with every column outside include ∪ MUST_INCLUDE_FIELDS
    # NULL (dispatcher.write_fanout); the table keeps the full schema
    include_fields: tuple[str, ...] | None = None
    # per-sender drop-vs-retry policy (producer.go:309-325
    # is_discard_when_blocked; senders retry 3x then push to failchan,
    # elasticsearch.go:286-316 / kafka.go:120-150): True = after retries are
    # exhausted the sink's bucket is marked committed-WITH-LOSS (state
    # 'discarded' audit row) and the run completes; False = the bucket stays
    # uncommitted so resume re-delivers (the non-lossy default)
    discard_when_blocked: bool = False


SINKS: list[SinkConfig] = [
    SinkConfig(
        name="es_general",
        kind="es",
        # settings.yml:463-485 subset (note: geely NOT here — fan-out gap test)
        tags=(
            "app.spring",
            "gateway",
            "connector",
            "qingai",
            "cp",
            "ptdeployer",
            "ramjet",
            "tsp",
            "ai",
            "base",
            "bot",
            "spark",
        ),
    ),
    # settings.yml:546-547 — tag cp goes to BOTH es_general and kafka_cp;
    # the kafka sender marshals only the value fields, so its table holds
    # NULL outside them (FieldsFilter include semantics, fields.go:54-81)
    SinkConfig(
        name="kafka_cp",
        kind="kafka",
        tags=("cp",),
        include_fields=("n_tok", "message"),
    ),
    # settings.yml:559-561 — env-qualified membership
    SinkConfig(name="fluentd_backup", kind="fluentd", tags=("geely.prod",)),
]


def sink_tag_rows(
    sinks: list["SinkConfig"] | None = None, envs: list[str] | None = None
) -> list[tuple[str, str]]:
    """(sink, tag) membership dim — full tags, env expanded."""
    rows: list[tuple[str, str]] = []
    envs = envs or ENVS
    for s in sinks if sinks is not None else SINKS:
        for t in s.tags:
            if any(t.endswith("." + e) for e in envs):
                rows.append((s.name, t))
            else:
                rows.extend((s.name, f"{t}.{e}") for e in envs)
    return rows


@dataclass
class PipelineConfig:
    """Bundle passed to the plan builder; defaults mirror the reference."""

    envs: list[str] = field(default_factory=lambda: list(ENVS))
    accept_tags: list[str] = field(default_factory=lambda: list(ACCEPT_TAGS))
    spark_ignore_regex: str = SPARK_IGNORE_REGEX
    spring_retag_rules: list[dict] = field(default_factory=lambda: list(SPRING_RETAG_RULES))
    parsers: list[ParserConfig] = field(default_factory=lambda: list(PARSERS))
    add_fields: dict[str, dict[str, str]] = field(default_factory=lambda: dict(ADD_FIELDS))
    es_index_map: dict[str, str] = field(default_factory=lambda: dict(ES_INDEX_MAP_BASE))
    sinks: list[SinkConfig] = field(default_factory=lambda: list(SINKS))
    post_max_len: int = POST_MAX_LEN
    concat_max_len: int = CONCAT_MAX_LEN
    concat_max_merged: int = CONCAT_MAX_MERGED
    run_key: str = "local"  # msgid prefix (DistributeKey, controllor.go:477-480)
    # extraction backend: "arrow" (one mapInArrow, one RE2 pass per family)
    # or "native" (JVM regexp_extract) — see operators/parser.py; bench.py
    # times both
    parser_impl: str = "arrow"


DEFAULT_CONFIG = PipelineConfig()
