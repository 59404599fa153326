"""Seeded benchmark inputs, cached by seed inside the checkout.

Two fixture kinds:

- ``ims``: chunked (64^3), shuffle+deflate Imaris tiles written with the
  package's own ``write_imaris_file`` (minihdf5 writer). Voxels are a
  smooth per-tile background plus Poisson shot noise, which compresses
  about 2:1 under zstd-3 — the regime real light-sheet tiles sit in.
  Tiles are generated in z-slabs so no full-volume float temporary
  exists.
- ``tables``: the TPC-H-ish parquet tables the query mix reads, written
  by the repository's ``tools/gen_testdata.py`` with the run's seed.

Run as a script (one fresh process, so generation memory never lands in
the benchmark process's peak RSS):

    python3 perfbench/fixtures.py ims --seed 7 --out DIR
    python3 perfbench/fixtures.py tables --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Pyramid workloads: 4 tiles of 128x256x256 uint16 (16 MiB each).
N_TILES = 4
TILE_SHAPE = (128, 256, 256)
IMS_CHUNKS = (64, 64, 64)
IMS_DEFLATE_LEVEL = 2
SLAB_Z = 16
DIGESTS = "voxel_sha256.json"

# Query mix: gen_testdata scale factor (lineitem ~60k rows).
TABLES_SF = 0.01

# Cached fixture sets kept in the checkout (oldest evicted first).
CACHE_KEEP = 4


def tile_array(seed: int, tile: int, shape=TILE_SHAPE) -> np.ndarray:
    """Voxels of one tile; the same (seed, tile) always gives the same
    array. The smooth background depends on the tile alone and the seed
    draws the shot noise, so every seed costs the same work to compress
    (the noise's entropy is fixed by the background)."""
    shape_rng = np.random.default_rng(tile)
    rng = np.random.default_rng([seed, tile])
    z, y, x = shape
    # Smooth background: a few low-frequency waves per axis.
    fy = shape_rng.uniform(0.5, 3.0, 2)
    fx = shape_rng.uniform(0.5, 3.0, 2)
    gy = np.sin(np.linspace(0, np.pi * fy[0], y)) + 0.5 * np.cos(
        np.linspace(0, np.pi * fy[1], y)
    )
    gx = np.sin(np.linspace(0, np.pi * fx[0], x)) + 0.5 * np.cos(
        np.linspace(0, np.pi * fx[1], x)
    )
    plane = (300.0 + 120.0 * np.outer(gy, gx)).astype(np.float32)
    gz = 1.0 + 0.3 * np.sin(np.linspace(0, np.pi * shape_rng.uniform(0.5, 2), z))
    out = np.empty(shape, dtype=np.uint16)
    for z0 in range(0, z, SLAB_Z):
        z1 = min(z0 + SLAB_Z, z)
        lam = plane[None] * gz[z0:z1, None, None].astype(np.float32)
        out[z0:z1] = np.minimum(rng.poisson(lam), 65535)
    return out


def voxel_digest(arr: np.ndarray) -> str:
    return hashlib.sha256(np.ascontiguousarray(arr, dtype="<u2").data).hexdigest()


def write_ims_tile(seed: int, tile: int, out_dir: str) -> str:
    """Write one tile; returns the sha256 of its voxels (C order)."""
    sys.path.insert(0, ROOT)
    from aind_exaspim_data_transformation_spark.sources.tensor import (
        write_imaris_file,
    )

    arr = tile_array(seed, tile)
    write_imaris_file(
        os.path.join(out_dir, f"tile_{tile:02d}.ims"),
        [arr],
        ext_min=(0.0, 0.0, float(tile * TILE_SHAPE[2])),
        voxel_size=(1.0, 0.748, 0.748),
        chunks=IMS_CHUNKS,
        compression="gzip",
        compression_level=IMS_DEFLATE_LEVEL,
        shuffle=True,
    )
    return voxel_digest(arr)


def write_ims_tiles(seed: int, out_dir: str) -> None:
    """One spawned worker per tile (at most one per core). The voxel
    digests go to DIGESTS, beside the tiles, for the output checks."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    os.makedirs(out_dir, exist_ok=True)
    workers = min(N_TILES, os.cpu_count() or 1)
    with ProcessPoolExecutor(
        workers, mp_context=multiprocessing.get_context("spawn")
    ) as pool:
        futures = [
            pool.submit(write_ims_tile, seed, t, out_dir)
            for t in range(N_TILES)
        ]
        digests = {f"tile_{t:02d}.ims": f.result() for t, f in enumerate(futures)}
    with open(os.path.join(out_dir, DIGESTS), "w") as f:
        json.dump(digests, f, indent=1)


def write_tables(seed: int, out_dir: str) -> None:
    subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "tools", "gen_testdata.py"),
            "--sf",
            str(TABLES_SF),
            "--seed",
            str(seed),
            "--out",
            out_dir,
        ],
        check=True,
        stdout=subprocess.DEVNULL,
    )


def ensure(kind: str, seed: int, cache_root: str) -> tuple[str, float]:
    """Directory holding the ``kind`` fixture for ``seed`` and the seconds
    spent generating it (0.0 on a cache hit). Generation runs in a child
    process; a set is published by an atomic rename once complete."""
    final = os.path.join(cache_root, f"{kind}-seed{seed}")
    if os.path.isdir(final):
        os.utime(final)
        return final, 0.0
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.monotonic()
    subprocess.run(
        [
            sys.executable,
            os.path.abspath(__file__),
            kind,
            "--seed",
            str(seed),
            "--out",
            tmp,
        ],
        check=True,
    )
    gen_s = time.monotonic() - t0
    os.replace(tmp, final)
    _evict(cache_root)
    return final, gen_s


def _evict(cache_root: str) -> None:
    sets = sorted(
        (
            os.path.join(cache_root, d)
            for d in os.listdir(cache_root)
            if ".tmp" not in d
        ),
        key=os.path.getmtime,
    )
    for old in sets[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=("ims", "tables"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.kind == "ims":
        write_ims_tiles(args.seed, args.out)
    else:
        write_tables(args.seed, args.out)


if __name__ == "__main__":
    main()
