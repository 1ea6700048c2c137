"""Table-format seam for checkpoint/state I/O (SURVEY §4).

The engine's durable state (frontier snapshot, seen/items increments,
Bloom shard table) is written through ONE adapter interface so the storage
format is a deployment choice, not an engine concern. In this sandbox only
the parquet implementation is runnable; on a real cluster the Iceberg
adapter slots in unchanged — the engine's write pattern is already the
Iceberg-append shape (per-round increments + a commit marker, never a
rewrite of history), so the swap buys ACID commits, snapshot time-travel
over rounds, and storage-partitioned joins against the page store without
touching plans/frontier.py.

The engine calls only ``write``, ``read`` and ``exists``, so a wrapper
around an adapter (tracing, metering, a different store) needs those three
and nothing else. Most checkpoint frames are ones the driver built itself
from a fast round, a seed or a small-state fold (``plans.parallelize.
local_df``); ``ParquetAdapter`` writes those in-process with
``pyarrow.parquet`` instead of launching a Spark write job for a few KB of
rows. Every other frame is written by a Spark job.

Reference parity note: the reference keeps all crawl state in memory and
persists nothing until shutdown, when it writes the result CSVs
(server.cpp:583-675; signal path server.cpp:1101-1140) — it has no
checkpoint/resume. This seam is where the Spark engine ADDS durability the
reference lacks (SURVEY §2.5 Q5 reassign-on-loss → resumable rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.parallelize import driver_rows


class TableFormatAdapter:
    """Interface: append-shaped snapshot I/O keyed by a location string.

    ``write(df, loc)`` persists a frame whole; ``read(spark, schema, locs)``
    unions one-or-more previously written locations (the engine's
    increment-union on resume). Implementations must be idempotent per
    location (task retries / round re-runs overwrite, never double-append).
    """

    name = "abstract"

    def write(self, df: DataFrame, loc: str) -> None:
        raise NotImplementedError

    def read(self, spark: SparkSession, schema: str, locs: list[str]) -> DataFrame:
        raise NotImplementedError

    def exists(self, loc: str) -> bool:
        raise NotImplementedError


class ParquetAdapter(TableFormatAdapter):
    """Parquet-directory implementation (the sandbox default): one
    directory per (round, table) snapshot, overwrite-idempotent.

    A driver-known frame (one ``local_df`` built and recorded its rows on)
    is written in-process: the location is cleared, then one part file and
    a ``_SUCCESS`` marker are written — the layout and overwrite semantics
    of Spark's own write, with no Spark job. Any other frame, and a schema
    with a type outside ``_ARROW_TYPES``, goes through
    ``df.write.mode("overwrite").parquet``."""

    name = "parquet"

    def write(self, df: DataFrame, loc: str) -> None:
        known = driver_rows(df)
        arrow_schema = _arrow_schema(known[1]) if known else None
        if arrow_schema is None:
            df.write.mode("overwrite").parquet(loc)
            return
        _write_local(known[0], arrow_schema, loc)

    def read(self, spark: SparkSession, schema: str, locs: list[str]) -> DataFrame:
        return spark.read.schema(schema).parquet(*locs)

    def exists(self, loc: str) -> bool:
        from pathlib import Path

        return Path(loc).exists()


# the DDL types of the checkpoint schemas, as pyarrow type factory names;
# a schema with any other type is written by Spark
_ARROW_TYPES = {
    "string": "string", "long": "int64", "int": "int32", "double": "float64",
}


def _arrow_schema(schema: str):
    """The pyarrow schema of a flat ``"name type, ..."`` DDL string, or None
    when a field's type is not in ``_ARROW_TYPES``. Fields are nullable,
    like every column Spark writes from a DataFrame."""
    fields = []
    for part in schema.split(","):
        name, _, typ = part.strip().partition(" ")
        factory = _ARROW_TYPES.get(typ.strip())
        if factory is None:
            return None
        fields.append((name, factory))
    import pyarrow as pa

    return pa.schema([(n, getattr(pa, f)()) for n, f in fields])


def _write_local(rows: tuple, arrow_schema, loc: str) -> None:
    import shutil
    import uuid
    from pathlib import Path

    import pyarrow as pa
    # imported on the first driver-side write, so a run that writes no
    # checkpoint never loads the parquet writer (~7 MB of driver RSS)
    import pyarrow.parquet as pq

    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    out = Path(loc)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    pq.write_table(
        table, out / f"part-00000-{uuid.uuid4()}-c000.snappy.parquet",
        compression="snappy",
    )
    (out / "_SUCCESS").write_bytes(b"")


class IcebergAdapter(TableFormatAdapter):
    """Documented Iceberg slot. Not runnable here (no Iceberg runtime jar in
    the sandbox); on a cluster configure a catalog, e.g.::

        spark.sql.catalog.crawl = org.apache.spark.sql.iceberg.SparkCatalog
        spark.sql.catalog.crawl.type = hadoop
        spark.sql.catalog.crawl.warehouse = <warehouse-uri>

    and ``loc`` becomes a table identifier (``crawl.db.frontier_r3``); write
    maps to ``df.writeTo(loc).createOrReplace()`` and read to
    ``spark.read.table``. The per-round increment layout maps 1:1 onto
    Iceberg appends with the _COMMIT marker replaced by the table commit."""

    name = "iceberg"

    def __init__(self, catalog: str = "crawl"):
        self.catalog = catalog

    def _check(self, spark: SparkSession) -> None:
        if spark.conf.get(f"spark.sql.catalog.{self.catalog}", None) is None:
            raise RuntimeError(
                f"Iceberg catalog '{self.catalog}' is not configured on this "
                f"session (no Iceberg runtime in this sandbox); use "
                f"ParquetAdapter, or configure spark.sql.catalog.{self.catalog}"
            )

    def write(self, df: DataFrame, loc: str) -> None:
        self._check(df.sparkSession)
        df.writeTo(loc).createOrReplace()

    def read(self, spark: SparkSession, schema: str, locs: list[str]) -> DataFrame:
        self._check(spark)
        out = None
        for loc in locs:
            t = spark.read.table(loc)
            out = t if out is None else out.unionByName(t)
        return out

    def exists(self, loc: str) -> bool:
        raise RuntimeError("IcebergAdapter.exists needs a configured catalog")
