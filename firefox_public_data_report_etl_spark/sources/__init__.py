from firefox_public_data_report_etl_spark.sources.tables import (
    TABLES,
    TIMESTAMP_COLUMNS,
    date_spine,
    load_table,
    load_tables,
    normalize_timestamps,
    write_partitioned,
)

__all__ = [
    "TABLES",
    "TIMESTAMP_COLUMNS",
    "date_spine",
    "load_table",
    "load_tables",
    "normalize_timestamps",
    "write_partitioned",
]
