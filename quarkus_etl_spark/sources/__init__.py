"""Sources & sinks (SURVEY.md Tier A1-A3, A14).

The reference's connector surface is "any JDBC engine, selected by config"
(DatabaseBean.kt:32-40, pom.xml:42-77) plus implicit file formats via the
engines themselves. Spark-first, the surface is the native reader/writer
matrix (parquet/csv/json/orc + jdbc) with the reference's transport defaults
(2000-row write batches) preserved on the JDBC path.
"""

from .readers import read_jdbc  # noqa: F401
from .writers import write_dataframe, write_jdbc  # noqa: F401
