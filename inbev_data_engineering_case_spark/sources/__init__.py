"""Sources: paginated REST ingestion and typed file readers."""

from inbev_data_engineering_case_spark.sources.readers import (  # noqa: F401
    read_bronze_csv,
    read_parquet_table,
)
from inbev_data_engineering_case_spark.sources.rest import (  # noqa: F401
    PagedRestSource,
)
