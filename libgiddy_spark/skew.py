"""Skew handling: fan heavy partitions out into salt slices
(BASELINE.json:6,14 — skewed html/text partitions are salted before
encode; README records why the slices are row-group runs rather than
a range repartition).

Per-partition byte totals come from the parquet FOOTERS (per-column
uncompressed sizes + row counts, a driver-side metadata read — the
same statistics an Iceberg manifest carries in production), so sizing
the salt fan-out costs zero table scans and zero Spark jobs per chunk.
Partitions whose bytes exceed ``target_bytes`` get a salt fan-out
factor; engine.encode_files cuts each such file into that many
contiguous row-group (or row-range) slices, each its own encode task.
At 1000-executor scale this is what keeps one 100x crawl-host
partition from stalling a stage. ``partition_byte_stats`` (one
Catalyst aggregate) computes the same estimate with a scan, for
sources without parquet footers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def footer_byte_stats(
    path: str, part_files: list[tuple[int, str]], fat_columns: list[str]
) -> dict[int, int]:
    """part_id -> estimated in-memory bytes, from parquet footers only.

    Same estimate partition_byte_stats computes with a scan (fat-column
    octet sum + 16 B per row per thin column), read from row-group
    column-chunk metadata instead. Deterministic across runs (resume
    requires the salt fan-out to be stable)."""
    import pyarrow.parquet as pq

    from .table_io import abs_file_of

    out: dict[int, int] = {}
    for pid, rel in part_files:
        md = pq.ParquetFile(abs_file_of(path, rel)).metadata
        fat = 0
        n_fat = 0
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(md.num_columns):
                col = row_group.column(ci)
                if col.path_in_schema in fat_columns:
                    fat += col.total_uncompressed_size
                    n_fat += rg == 0
        thin = 16 * md.num_rows * max(md.num_columns - n_fat, 0)
        out[pid] = int(fat + thin)
    return out


def partition_byte_stats(df: DataFrame, fat_columns: list[str]) -> dict[int, int]:
    """part_id -> estimated in-memory bytes, via one aggregate
    (fallback for non-parquet sources; footer_byte_stats is the
    scan-free default)."""
    size_expr = None
    for c in df.columns:
        if c in ("part_id", "salt"):
            continue
        term = (
            F.coalesce(F.octet_length(F.col(c).cast("binary")), F.lit(0))
            if c in fat_columns
            else F.lit(16)
        )
        size_expr = term if size_expr is None else size_expr + term
    rows = df.groupBy("part_id").agg(F.sum(size_expr).alias("bytes")).collect()
    return {r["part_id"]: int(r["bytes"]) for r in rows}


def salt_factors(
    byte_stats: dict[int, int], target_bytes: int = 128 << 20, max_salt: int = 64
) -> dict[int, int]:
    """Fan-out factor per partition (1 = unsalted)."""
    return {
        p: max(1, min(max_salt, -(-b // target_bytes))) for p, b in byte_stats.items()
    }
