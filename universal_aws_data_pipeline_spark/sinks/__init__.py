from universal_aws_data_pipeline_spark.sinks.tables import (  # noqa: F401
    TolerantLoadError,
    write_partitioned,
    write_warehouse_table,
)
