"""Sources: schema'd CSV and Parquet scans.

Covers the reference's file sources (SURVEY.md §2.1, S1-S2:
``KMeans.java:73-77`` points CSV, ``:138-142`` centroids CSV) and adds
the Parquet scans the driver testdata uses.  The collection source
(S3, ``:120``) is a plain ``spark.createDataFrame`` over driver rows.
"""

from flink_kmeans_clustering_spark.sources.csv import (
    CENTROIDS_SCHEMA,
    POINTS_SCHEMA,
    read_centroids_csv,
    read_points_csv,
)
from flink_kmeans_clustering_spark.sources.parquet import TABLES, load_table

__all__ = [
    "CENTROIDS_SCHEMA",
    "POINTS_SCHEMA",
    "read_centroids_csv",
    "read_points_csv",
    "TABLES",
    "load_table",
]
