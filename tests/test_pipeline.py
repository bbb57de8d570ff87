"""The pipeline builders' ``rep`` contract: replication multiplies the
source rows and keeps every ``doc_id`` unique, so a benchmark-sized run is
the same program over more distinct rows; and the synth source's typed read
of ``o_orderkey``."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from go_fluentd_spark.plans import pipeline as P
from go_fluentd_spark.sources.synth import sequences_df


def test_rep_multiplies_rows_and_keeps_doc_ids_unique(spark, sf_dir):
    n1 = P.ingested(spark, sf_dir).count()
    rows = P.ingested(spark, sf_dir, rep=3).agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("ids")
    ).collect()[0]
    assert n1 > 0
    assert rows.n == 3 * n1
    assert rows.ids == rows.n


def test_int32_orderkey_gives_the_same_synth_rows(spark, sf_dir, tmp_path):
    """The synth read gives ``o_orderkey`` as bigint instead of inferring
    it: an int32 column widens on read to the same rows an int64 one
    gives."""
    keys = [r.o_orderkey for r in spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey").collect()]
    assert keys and max(keys) < 2**31
    for name, typ in (("i32", pa.int32()), ("i64", pa.int64())):
        (tmp_path / name).mkdir()
        pq.write_table(pa.table({"o_orderkey": pa.array(keys, typ)}), str(tmp_path / name / "orders.parquet"))
    assert pq.read_schema(str(tmp_path / "i32" / "orders.parquet")).field("o_orderkey").type == pa.int32()

    def rows(name):
        return sorted(sequences_df(spark, str(tmp_path / name)).collect())

    i32, i64 = rows("i32"), rows("i64")
    assert len(i64) == len(keys)
    assert i32 == i64
