"""Parquet table loaders for the driver-generated test corpus.

On a production deployment these would be Iceberg catalog reads
(spark.read.table) with partition pruning on the table's partition spec;
the sandbox has no Iceberg runtime jar, so the lakehouse layer is parquet
files with the same access pattern. All loaders return plain DataFrames —
Catalyst handles column pruning + filter pushdown into the scans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
