from wikipath_spark.sources.synthetic import synthetic_repos
from wikipath_spark.sources.tables import load_table, write_table

__all__ = ["synthetic_repos", "load_table", "write_table"]
