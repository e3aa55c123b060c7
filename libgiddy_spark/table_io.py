"""TableIO seam: Iceberg-style snapshot access (SURVEY.md §1.2).

Production target is an Iceberg catalog read; this sandbox has no
Iceberg runtime jar (SURVEY.md §1.2), so the sandbox backend is a
parquet directory (or single file) + our own JSON snapshot manifest.

**Partition = source data file** — the Iceberg notion of an encode
unit. A resume chunk reads just its own files; a content-hash part_id
would force a full re-scan of the table per chunk (O(chunks x table)
read amplification at 100 TB). Intra-file size and skew are handled
downstream by salt fan-out over row groups (skew.py), so a single
giant file still fans out across tasks.
"""

from __future__ import annotations

import hashlib
import os


def list_parquet_files(path: str) -> list[tuple[str, int]]:
    """(relative path, bytes) for every parquet file under ``path``
    (``path`` may itself be a single parquet file)."""
    if os.path.isfile(path):
        return [(os.path.basename(path), os.path.getsize(path))]
    out = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out.append((os.path.relpath(full, path), os.path.getsize(full)))
    return sorted(out)


def snapshot_id_of(path: str) -> str:
    """Deterministic snapshot id from the source file listing (name+size)."""
    entries = [f"{p}:{s}" for p, s in list_parquet_files(path)]
    h = hashlib.sha256("\n".join(entries).encode()).hexdigest()[:16]
    return f"snap-{h}"


def abs_file_of(path: str, rel: str) -> str:
    return path if os.path.isfile(path) else os.path.join(path, rel)
