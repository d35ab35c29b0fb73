from universal_aws_data_pipeline_spark.sources.email import (  # noqa: F401
    EmailSourceConfig,
    email_dir_source,
    email_source,
)
from universal_aws_data_pipeline_spark.sources.files import read_source  # noqa: F401
from universal_aws_data_pipeline_spark.sources.rest import fetch_pages, rest_api_source  # noqa: F401
