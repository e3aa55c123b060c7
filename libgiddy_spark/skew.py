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
partition from stalling a stage. Ingest stages CSV/JSONL sources to
parquet first, so every encode source has footers.
"""

from __future__ import annotations


def footer_byte_stats(
    path: str, part_files: list[tuple[int, str]], fat_columns: list[str]
) -> dict[int, int]:
    """part_id -> estimated in-memory bytes, from parquet footers only.

    The estimate is the fat columns' uncompressed bytes plus 16 B per
    row per thin column, read from row-group column-chunk metadata.
    Deterministic across runs (resume requires the salt fan-out to be
    stable)."""
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


# largest salt fan-out of one partition
MAX_SALT = 64


def salt_factors(
    byte_stats: dict[int, int], target_bytes: int = 128 << 20
) -> dict[int, int]:
    """Fan-out factor per partition (1 = unsalted)."""
    return {
        p: max(1, min(MAX_SALT, -(-b // target_bytes))) for p, b in byte_stats.items()
    }
