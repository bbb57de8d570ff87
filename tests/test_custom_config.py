"""Config-as-data generality: a tenant with its OWN tags, parser, enrich
map, ES indices, and sinks runs through the same plan builders — the Spark
analogue of pointing go-fluentd at a different settings.yml (no code is
specific to the shipped ruleset)."""

from conftest import make_msgs
from pyspark.sql import functions as F

from go_fluentd_spark.config import ParserConfig, PipelineConfig, SinkConfig
from go_fluentd_spark.operators.acceptor import acceptor_chain
from go_fluentd_spark.operators.dispatcher import route
from go_fluentd_spark.operators.enrich import add_fields, es_index, msgid
from go_fluentd_spark.operators.parser import parse

TENANT_CFG = PipelineConfig(
    envs=["dev"],
    accept_tags=["web.dev", "db.dev"],
    spring_retag_rules=[{"regexp": r"\bSLOWQUERY\b", "new_tag_base": "db"}],
    parsers=[
        ParserConfig(
            tag_bases=("web", "db"),
            pattern=r"^(?P<time>\S+) (?P<level>\w+) (?P<message>.*)$",
            must_include="level",
            time_group=None,
        )
    ],
    add_fields={"web": {"datasource": "weblogs"}, "db": {"datasource": "dblogs"}},
    es_index_map={"web": "{env}-web-write", "db": "{env}-db-write"},
    sinks=[
        SinkConfig(name="es_tenant", kind="es", tags=("web", "db")),
        SinkConfig(name="kafka_db", kind="kafka", tags=("db.dev",)),
    ],
    run_key="tenant",
)


def _rows(spark):
    rows = [
        # spring-rule analogue: SLOWQUERY marker retags web -> db
        {"id": 1, "tag": "spring.dev", "tag_base": "spring", "env": "dev",
         "source": "t1 WARN SLOWQUERY select *"},
        {"id": 2, "tag": "web.dev", "tag_base": "web", "env": "dev",
         "source": "t2 INFO get /health"},
        {"id": 3, "tag": "other.dev", "tag_base": "other", "env": "dev",
         "source": "t3 INFO dropped by whitelist"},
        {"id": 4, "tag": "web.dev", "tag_base": "web", "env": "dev",
         "source": "unparseable"},
    ]
    return make_msgs(spark, rows)


def test_custom_tenant_end_to_end(spark):
    df = acceptor_chain(_rows(spark), TENANT_CFG)
    df = parse(df, TENANT_CFG)
    df = add_fields(spark, df, TENANT_CFG)
    df = es_index(spark, df, TENANT_CFG)
    df = msgid(df, TENANT_CFG)
    out = {r.id: r for r in route(spark, df, TENANT_CFG).collect()}
    routed = route(spark, df, TENANT_CFG).collect()

    # row 1: retagged to db.dev, fans out to BOTH tenant sinks
    db_sinks = {r.sink for r in routed if r.id == 1}
    assert db_sinks == {"es_tenant", "kafka_db"}
    assert out[1].tag == "db.dev"
    assert out[1].datasource == "dblogs"
    assert out[1].es_index == "dev-db-write"
    assert out[1].message == "SLOWQUERY select *"
    assert out[1].msgid == "tenant-1"
    # row 2: stays web.dev, one sink
    web_sinks = {r.sink for r in routed if r.id == 2}
    assert web_sinks == {"es_tenant"}
    assert out[2].es_index == "dev-web-write"
    # rows 3 (unknown tag) and 4 (parser miss) never reach routing
    assert 3 not in out and 4 not in out
