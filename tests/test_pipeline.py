"""The pipeline builders' ``rep`` contract: replication multiplies the
source rows and keeps every ``doc_id`` unique, so a benchmark-sized run is
the same program over more distinct rows."""

from pyspark.sql import functions as F

from go_fluentd_spark.plans import pipeline as P


def test_rep_multiplies_rows_and_keeps_doc_ids_unique(spark, sf_dir):
    n1 = P.ingested(spark, sf_dir).count()
    rows = P.ingested(spark, sf_dir, rep=3).agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("ids")
    ).collect()[0]
    assert n1 > 0
    assert rows.n == 3 * n1
    assert rows.ids == rows.n
