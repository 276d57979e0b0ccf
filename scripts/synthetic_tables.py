"""Synthetic tables for the volume and scale scripts, written in the
testdata layout (``<dir>/<table>.parquet``) by the Python Data Source
generators in ``sources/synthetic.py`` (zero input storage).

Import it from a script in this directory after the repo root is on
``sys.path``::

    from synthetic_tables import write_table, write_sf01_multiple
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from java_etl_bi_generator_spark.sources.synthetic import (
    SyntheticDocumentsDataSource,
    SyntheticEmbeddingsDataSource,
    SyntheticEventsDataSource,
)
from java_etl_bi_generator_spark.sources.synthetic_star import generate_star

GENERATORS = {
    "events": SyntheticEventsDataSource,
    "documents": SyntheticDocumentsDataSource,
    "embeddings": SyntheticEmbeddingsDataSource,
}

# sf0.1 fixture grains: lineitem 600k (orders 150k), events 100k,
# documents 5k, embeddings 5k
SF01_ROWS = {
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 5_000,
}


def write_table(
    spark, out_dir: str, table: str, rows: int, num_users: int | None = None
) -> str:
    """Generate ``rows`` rows of ``table`` (events, documents or
    embeddings) in 32 partitions, write them to
    ``<out_dir>/<table>.parquet`` and return that path.  Events draw from
    ``num_users`` users and carry the fixture's all-null ``props``
    column."""
    spark.dataSource.register(GENERATORS[table])
    reader = (
        spark.read.format(f"synthetic_{table}")
        .option("rows", rows)
        .option("partitions", 32)
    )
    if num_users is not None:
        reader = reader.option("numUsers", num_users)
    df = reader.load()
    if table == "events":
        df = df.withColumn("props", F.lit(None).cast("string"))
    path = os.path.join(out_dir, f"{table}.parquet")
    df.write.parquet(path)
    return path


def write_sf01_multiple(spark, out_dir: str, factor: int) -> None:
    """All four table families at ``factor`` times the sf0.1 grain: the
    TPC-H star, events over ``200 * factor`` users, documents and
    embeddings."""
    generate_star(spark, out_dir, SF01_ROWS["orders"] * factor)
    write_table(
        spark, out_dir, "events", SF01_ROWS["events"] * factor,
        num_users=200 * factor,
    )
    for table in ("documents", "embeddings"):
        write_table(spark, out_dir, table, SF01_ROWS[table] * factor)
