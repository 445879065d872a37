from datapipeline_omnichanneltobigquery_spark.sources.tables import TABLES, read_table  # noqa: F401
from datapipeline_omnichanneltobigquery_spark.sources.paginated import fetch_paginated, paginated_to_df  # noqa: F401
