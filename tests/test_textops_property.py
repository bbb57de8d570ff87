"""Property-based check: flatten_json_map == a pure-Python reference fold of
the FlattenMap semantics (library/utils.go:75-85) over arbitrary nested JSON
objects, including key collisions (last-entry-wins, the deterministic
restatement of Go-map overwrite)."""

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from go_fluentd_spark.functions.textops import flatten_json_map

# scalars that stringify identically in Spark's map<string,string> coercion
# and in Python: ints and plain lowercase ascii strings (floats/bools have
# engine-specific text forms and are excluded on purpose)
_scalar = st.one_of(
    st.integers(-999999, 999999),
    st.text(alphabet="abcxyz_", max_size=6),
)
_key = st.text(alphabet="abcd", min_size=1, max_size=3)
# depth <= 3 nesting: the bounded-unroll region where parents fully flatten
_nested = st.recursive(
    _scalar,
    lambda ch: st.dictionaries(_key, ch, max_size=3),
    max_leaves=8,
)
_payload = st.dictionaries(_key, _nested, max_size=4)


def _depth(v) -> int:
    if not isinstance(v, dict):
        return 0
    return 1 + max((_depth(x) for x in v.values()), default=0)


def python_flatten(obj: dict, delimiter: str = "__") -> dict:
    """Reference fold: recursively join nested keys with the delimiter,
    parents deleted, scalars stringified, later entries overwrite."""
    out = {}

    def walk(prefix: str, v):
        if isinstance(v, dict):
            for k, c in v.items():
                walk(f"{prefix}{delimiter}{k}" if prefix else k, c)
        else:
            out[prefix] = str(v)

    walk("", obj)
    return out


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_payload, min_size=1, max_size=6))
def test_flatten_json_map_matches_python_reference(spark, payloads):
    payloads = [p for p in payloads if _depth(p) <= 3]
    if not payloads:
        return
    df = spark.createDataFrame([(json.dumps(p),) for p in payloads], "j string")
    got = [r.m for r in df.select(F.expr(flatten_json_map("j")).alias("m")).collect()]
    assert got == [python_flatten(p) for p in payloads]
