"""etl_pipeline_candy_store_spark — a PySpark-native analytics engine.

Brand-new engine with the query/data-processing capabilities of the
reference ``medhhaa/ETL-Pipeline-Candy-Store`` (a driver-side row-loop ETL
pipeline), re-expressed Spark-first: declarative DataFrame/SQL plans for
everything relational, and two Arrow-batched pandas operators for the
pieces Catalyst cannot express: sequential inventory allocation (one
``mapInPandas`` pass over key-partitioned, sorted partitions) and
per-series forecasting (``groupBy(metric).applyInPandas``). See ``SURVEY.md`` for the operator inventory this
package implements.
"""

from etl_pipeline_candy_store_spark.session import get_spark
from etl_pipeline_candy_store_spark.plans.candy_pipeline import (
    CandyConfig,
    CandyPipeline,
)

__all__ = ["CandyConfig", "CandyPipeline", "get_spark"]
__version__ = "0.1.0"
