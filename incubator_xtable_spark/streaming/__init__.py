

def register_stream_sources(spark) -> list[str]:
    """Register every readStream CDC source with the session's data
    source registry — one call instead of four. Returns the format
    names: spark.readStream.format(<name>).option("path", dir).load().

    Formats: delta_cdf, iceberg_cdc, hudi_cdc, paimon_changelog, all
    read by the one reader in change_feed.py (see each format module's
    docstring for offsets, options and boundaries).
    Re-registration in the same session is a no-op."""
    from incubator_xtable_spark.streaming.cdf_datasource import DeltaCDFDataSource
    from incubator_xtable_spark.streaming.hudi_cdc_datasource import HudiCDCDataSource
    from incubator_xtable_spark.streaming.iceberg_cdc_datasource import (
        IcebergCDCDataSource,
    )
    from incubator_xtable_spark.streaming.paimon_changelog_datasource import (
        PaimonChangelogDataSource,
    )

    names = []
    for ds in (
        DeltaCDFDataSource,
        IcebergCDCDataSource,
        HudiCDCDataSource,
        PaimonChangelogDataSource,
    ):
        try:
            spark.dataSource.register(ds)
        except Exception:
            pass  # already registered
        names.append(ds.name())
    return names


def register_stream_sinks(spark) -> list[str]:
    """Register the writeStream sinks. Formats: delta_sink — arriving
    micro-batches land as parquet files + ONE real Delta commit each,
    exactly-once via the spec's SetTransaction watermark (see
    streaming/delta_sink.py for options and boundaries)."""
    from incubator_xtable_spark.streaming.delta_sink import DeltaSinkDataSource

    try:
        spark.dataSource.register(DeltaSinkDataSource)
    except Exception:
        pass  # already registered
    return [DeltaSinkDataSource.name()]
