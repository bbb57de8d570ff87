"""Golden scalar cases ported from the reference's table-driven tests
(FIXTURES.md F4; cites in each test)."""

from pyspark.sql import functions as F

from go_fluentd_spark.functions.textops import (
    flatten_json_map,
    replace_str_by_msg,
    template_with_map,
)


def one(df, col):
    return df.select(col.alias("v")).collect()[0].v


def test_template_with_map_golden(spark):
    # library/utils_test.go:98-110: `123${k1} + ${k2}:${k-3} 22` -> `12341 + abc:213.11 22`
    df = spark.createDataFrame([(41, "abc", 213.11)], "k1 int, k2 string, `k-3` double")
    got = one(df, template_with_map("123${k1} + ${k2}:${k-3} 22", df.columns))
    assert got == "12341 + abc:213.11 22"


def test_template_unknown_var_empty(spark):
    df = spark.createDataFrame([(1,)], "a int")
    assert one(df, template_with_map("x${nope}y", df.columns)) == "xy"


def test_pct_template_field_and_nested(spark):
    # library/add_test.go:8-88 cases: %{a}, %{in.ia} nested, stringified ints
    df = spark.createDataFrame(
        [("va", 42, ("ia_val",))], "a string, n long, `in` struct<ia:string>"
    )
    assert one(df, replace_str_by_msg("%{a}|%{in.ia}|%{n}", df.columns, "a", "n")) == "va|ia_val|42"


def test_pct_template_at_directives(spark):
    df = spark.createDataFrame(
        [("t.sit", 7, "AbC")], "tag string, id long, a string"
    )
    got = one(df, replace_str_by_msg("%{@tag}-%{@id}-%{@upper:a}-%{@lower:a}", df.columns))
    assert got == "t.sit-7-ABC-abc"


def test_pct_template_unknown_left_verbatim(spark):
    # add.go:96-99: missing key leaves the %{...} untouched
    df = spark.createDataFrame([("x", 0)], "tag string, id long")
    assert one(df, replace_str_by_msg("a %{nope} b", df.columns)) == "a %{nope} b"


def test_pct_template_at_str_shape(spark):
    # @str/@now/@unix are nondeterministic: shape-only (FIXTURES.md F4)
    df = spark.createDataFrame([("t", 1)], "tag string, id long")
    got = one(df, replace_str_by_msg("%{@str}", df.columns))
    assert len(got) == 8


def test_flatten_json_map_golden(spark):
    # library/utils_test.go:11-54 map-in-map golden over a DYNAMIC payload:
    # {"a":"1","b":{"c":2,"d":{"e":3}},"f":4} flattens to a/b__c/b__d__e/f,
    # parent keys deleted, scalars stringified
    df = spark.createDataFrame(
        [('{"a": "1", "b": {"c": 2, "d": {"e": 3}}, "f": 4}',)], "j string"
    )
    got = df.select(F.expr(flatten_json_map("j")).alias("m")).collect()[0].m
    assert got == {"a": "1", "b__c": "2", "b__d__e": "3", "f": "4"}


def test_flatten_json_map_edges(spark):
    rows = [
        ("not json",),          # malformed => NULL map
        ('{"x": "{oops"}',)  ,  # brace-leading STRING value stays verbatim
        ('{"deep": {"a": {"b": {"c": 1}}}}',),  # beyond max_depth: JSON text
    ]
    df = spark.createDataFrame(rows, "j string")
    out = [r.m for r in df.select(F.expr(flatten_json_map("j")).alias("m")).collect()]
    assert out[0] is None
    assert out[1] == {"x": "{oops"}
    assert out[2] == {"deep__a__b": '{"c":1}'}


def test_flatten_json_map_colliding_keys_last_wins(spark):
    # A flattened child key colliding with a literal key must NOT abort the
    # batch (default mapKeyDedupPolicy=EXCEPTION would throw
    # DUPLICATED_MAP_KEY); the reference's FlattenMap assigns into one Go map
    # (library/utils.go:75-85) = overwrite, restated as deterministic
    # last-entry-wins.
    rows = [
        ('{"a__b": "1", "a": {"b": "2"}}',),      # flatten collides w/ literal
        ('{"a": {"b": "2"}, "a__b": "1"}',),      # same keys, opposite order
        ('{"x": "1", "x": "2"}',),                # duplicate literal key
    ]
    df = spark.createDataFrame(rows, "j string")
    out = [r.m for r in df.select(F.expr(flatten_json_map("j")).alias("m")).collect()]
    assert out[0] == {"a__b": "2"}   # flattened child came after the literal
    assert out[1] == {"a__b": "1"}   # literal came after the flattened child
    assert out[2] == {"x": "2"}
