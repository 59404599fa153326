"""Tile discovery (SURVEY §2A S1-S3).

Recursive glob for ``*.ims`` with ``*.h5`` fallback, deterministic
ordering, optional single-tile mode — the reference's
_get_partitioned_list_of_stack_paths (reference imaris_job.py:48-112)
minus the manual partitioning: one driver plans for all executors, so the
deterministic sort is only for reproducible output naming.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def list_tiles(
    input_dir: str,
    single_tile: bool = False,
    patterns: tuple[str, ...] = ("*.ims", "*.h5"),
) -> list[tuple[str, str, int]]:
    """Tile rows (tile_path, tile_name, size_bytes), sorted by path;
    falls back through ``patterns`` until one matches. Also accepts
    npy-pyramid directories (meta.json marker) for environments without
    HDF5."""
    root = Path(input_dir)
    paths: list[Path] = []
    for pat in patterns:
        paths = sorted(p for p in root.rglob(pat) if p.is_file())
        if paths:
            break
    if not paths:  # npy-pyramid fallback (test/bench backend)
        paths = sorted(
            p.parent for p in root.rglob("meta.json") if p.parent.is_dir()
        )
    if single_tile:
        # Integration-test mode: first tile only (reference
        # imaris_job.py:76-82; ~95% cost cut per README.md:76).
        paths = paths[:1]
    return [
        (
            str(p),
            p.name,
            p.stat().st_size if p.is_file() else 0,
        )
        for p in paths
    ]


def discover_tiles(
    spark: SparkSession,
    input_dir: str,
    single_tile: bool = False,
    patterns: tuple[str, ...] = ("*.ims", "*.h5"),
) -> DataFrame:
    """``list_tiles`` as a DataFrame."""
    return spark.createDataFrame(
        list_tiles(input_dir, single_tile, patterns),
        "tile_path string, tile_name string, size_bytes long",
    )
