from flinkproj_spark.sources.tables import TABLES, load_table
from flinkproj_spark.sources.dims import dim_area

__all__ = ["TABLES", "load_table", "dim_area"]
