"""Seeded inputs and the correctness oracle.

Every input is a pure function of the workload seed: the webtext rows
come from ``libgiddy_spark.webtext.generate_batch`` for a block of row
ids that the seed picks (each row is a hash of its id, so every seed
gives other rows with the same distributions), lineitem is drawn with
numpy with the column distributions of the TPC-H-style ``lineitem``
fixture (uniform
keys, 2-decimal prices, 11 discounts, 3 return flags, 2,499 ship
dates), and probe, window and delete choices come from the same seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

WEBTEXT_KEY = "url"
LINEITEM_KEY = "l_orderkey"


def write_webtext(spark, path: str, rows: int, seed: int, files: int,
                  row_group_bytes: int = 8 << 20) -> None:
    """``rows`` webtext rows in ``files`` parquet files."""
    from libgiddy_spark.webtext import WEBTEXT_SCHEMA, generate_batch

    first = (seed % 1000) * 10_000_000

    def gen(batches):
        for b in batches:
            yield generate_batch(b.column("id").to_numpy())

    (spark.range(first, first + rows, numPartitions=files)
     .mapInArrow(gen, WEBTEXT_SCHEMA)
     .write.mode("overwrite")
     .option("parquet.block.size", str(row_group_bytes))
     .parquet(path))


def lineitem_table(rows: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    n_orders = max(rows // 4, 1)
    qty = rng.integers(1, 51, rows).astype(np.float64)
    price = rng.integers(90_068, 10_499_992, rows) / 100.0
    ship = (np.datetime64("1995-01-02")
            + rng.integers(0, 2499, rows).astype("timedelta64[D]"))
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, rows, dtype=np.int64),
        "l_partkey": rng.integers(0, 20_000, rows, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, rows, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, rows, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, rows)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, rows)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })


def write_lineitem(path: str, rows: int, seed: int) -> None:
    """One file with one row group, like the TPC-H-style fixture."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(lineitem_table(rows, seed),
                   os.path.join(path, "lineitem.parquet"),
                   row_group_size=rows)


def source_schema(path: str) -> pa.Schema:
    from libgiddy_spark.table_io import abs_file_of, list_parquet_files

    return pq.read_schema(abs_file_of(path, list_parquet_files(path)[0][0]))


def raw_bytes(path: str) -> int:
    from libgiddy_spark.table_io import abs_file_of, list_parquet_files

    total = 0
    for rel, _size in list_parquet_files(path):
        md = pq.ParquetFile(abs_file_of(path, rel)).metadata
        total += sum(md.row_group(i).total_byte_size
                     for i in range(md.num_row_groups))
    return total


def hash_digest(df, cols: list[str]) -> dict:
    """Row count plus an exact, order-independent hash per column:
    the sum of Spark's xxhash64 over the column, as a 38-digit
    decimal. Computed in the JVM, so every decoded byte is touched."""
    row = df.agg(
        F.count(F.lit(1)).alias("_rows"),
        *[F.sum(F.xxhash64(F.col(c)).cast("decimal(38,0)")).alias(c)
          for c in cols],
    ).collect()[0]
    return {k: (int(v) if v is not None else None)
            for k, v in row.asDict().items()}


def row_hashes(df, key: str, cols: list[str]) -> pa.Table:
    """Per-row xxhash64 of every column, with the key, as Arrow."""
    return df.select(
        F.col(key).alias("_key"),
        *[F.xxhash64(F.col(c)).alias(c) for c in cols],
    ).toArrow()


def comparable(t: pa.Table) -> pa.Table:
    """Cast to types both sides share (timestamps as int64 micros,
    string/binary as their plain variants) and sort by every column,
    so two row multisets compare with ``equals``."""
    cols, names = [], []
    for name in t.column_names:
        c = t.column(name)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_large_string(c.type):
            c = c.cast(pa.string())
        elif pa.types.is_large_binary(c.type):
            c = c.cast(pa.binary())
        cols.append(c.combine_chunks())
        names.append(name)
    out = pa.table(cols, names=names)
    return out.sort_by([(n, "ascending") for n in names]) if len(out) else out
