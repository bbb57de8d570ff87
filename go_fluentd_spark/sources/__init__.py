from go_fluentd_spark.sources.synth import sequences_df  # noqa: F401
