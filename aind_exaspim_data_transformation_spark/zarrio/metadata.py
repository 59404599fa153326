"""OME-NGFF 0.5 multiscales metadata generator.

Pure driver-side computation (no Spark). Semantics follow the reference's
generator (reference compress/omezarr_metadata.py:36-496): per-level scale
transforms are cumulative products of each level's factor over the level
before, per-level translations shift by half the parent voxel extent each
level (``origin += voxel * (factor - 1) / 2``, reference :383-385), axes are
(t, c, z, y, x) with millisecond/micrometer units (reference :212-218).

Golden values (reference tests/test_translation_fix.py:88-94): for
voxel=1, factor=2, 5 levels, the per-axis translations are
[0, 0.5, 1.5, 3.5, 7.5].
"""

from __future__ import annotations


def downscale_origins(
    origin_zyx: tuple[float, float, float],
    voxel_zyx: tuple[float, float, float],
    level_factors_zyx: list[tuple[float, float, float]],
) -> tuple[list[list[float]], list[list[float]]]:
    """Per-level (origin, voxel) chains, one level more than
    ``level_factors_zyx``, whose entry k-1 is level k's per-axis factor
    over level k-1.

    Level k voxel centers sit at the mean of the window they reduce, so
    each level shifts by ``voxel_{k-1} * (factor - 1) / 2`` per axis.
    """
    origins = [list(origin_zyx)]
    voxels = [list(voxel_zyx)]
    for factors in level_factors_zyx:
        prev_o, prev_v = origins[-1], voxels[-1]
        origins.append(
            [
                o + v * (f - 1) / 2.0
                for o, v, f in zip(prev_o, prev_v, factors)
            ]
        )
        voxels.append([v * f for v, f in zip(prev_v, factors)])
    return origins, voxels


def axes_5d(
    time_unit: str = "millisecond", space_unit: str = "micrometer"
) -> list[dict]:
    return [
        {"name": "t", "type": "time", "unit": time_unit},
        {"name": "c", "type": "channel"},
        {"name": "z", "type": "space", "unit": space_unit},
        {"name": "y", "type": "space", "unit": space_unit},
        {"name": "x", "type": "space", "unit": space_unit},
    ]


def build_omero(
    name: str,
    n_channels: int = 1,
    channel_names: list[str] | None = None,
    channel_colors: list[int] | None = None,
    channel_minmax: list[tuple[float, float]] | None = None,
    channel_startend: list[tuple[float, float]] | None = None,
) -> dict:
    """Omero channel metadata (reference ``_build_ome``,
    compress/omezarr_metadata.py:36-96): per-channel rendering windows with
    float values, colors as 6-hex strings; names default to
    ``Channel:{name}:{i}``, minmax to (0, 1), startend to minmax."""
    if channel_names is None:
        channel_names = [f"Channel:{name}:{i}" for i in range(n_channels)]
    if channel_colors is None:
        channel_colors = list(range(n_channels))
    if channel_minmax is None:
        channel_minmax = [(0.0, 1.0) for _ in range(n_channels)]
    if channel_startend is None:
        channel_startend = channel_minmax
    channels = [
        {
            "active": True,
            "coefficient": 1,
            "color": f"{channel_colors[i]:06x}",
            "family": "linear",
            "inverted": False,
            "label": channel_names[i],
            "window": {
                "end": float(channel_startend[i][1]),
                "max": float(channel_minmax[i][1]),
                "min": float(channel_minmax[i][0]),
                "start": float(channel_startend[i][0]),
            },
        }
        for i in range(n_channels)
    ]
    return {
        "id": 1,
        "name": name,
        "channels": channels,
        "rdefs": {"defaultT": 0, "defaultZ": 0, "model": "color"},
    }


def validate_omero(omero: dict | None) -> None:
    """Structural validation of omero metadata (reference
    ``_validate_omero_metadata``, compress/omezarr_metadata.py:251-282):
    color must be a 6-char hex string; window must be a dict carrying
    numeric min/max/start/end."""
    if not omero:
        return
    for c in omero["channels"]:
        if "color" in c:
            if not isinstance(c["color"], str) or len(c["color"]) != 6:
                raise TypeError("'color' must be a hex code string.")
        if "window" in c:
            if not isinstance(c["window"], dict):
                raise TypeError("'window' must be a dict.")
            for p in ("min", "max", "start", "end"):
                if p not in c["window"]:
                    raise KeyError(f"'{p}' not found in 'window'.")
                if not isinstance(c["window"][p], (int, float)):
                    raise TypeError(f"'{p}' must be an int or float.")


def multiscales_metadata(
    name: str,
    voxel_zyx: tuple[float, float, float],
    level_factors_zyx: list[tuple[float, float, float]],
    origin_zyx: tuple[float, float, float] = (0.0, 0.0, 0.0),
    channel_names: list[str] | None = None,
    method: str = "mean",
    channel_colors: list[int] | None = None,
    channel_minmax: list[tuple[float, float]] | None = None,
    channel_startend: list[tuple[float, float]] | None = None,
) -> dict:
    """Root group attributes: OME-NGFF 0.5 multiscales + validated omero,
    for level 0 and one level per entry of ``level_factors_zyx`` (see
    ``downscale_origins``)."""
    origins, voxels = downscale_origins(
        origin_zyx, voxel_zyx, level_factors_zyx
    )
    datasets = []
    for lvl in range(len(origins)):
        scale = [1.0, 1.0] + list(voxels[lvl])
        translation = [0.0, 0.0] + list(origins[lvl])
        datasets.append(
            {
                "path": str(lvl),
                "coordinateTransformations": [
                    {"type": "scale", "scale": scale},
                    {"type": "translation", "translation": translation},
                ],
            }
        )
    n_channels = len(channel_names) if channel_names else 1
    # uint16 full-range windows match the engine's default dtype (the
    # reference's (0, 1) default assumes pre-normalized data).
    omero = build_omero(
        name,
        n_channels=n_channels,
        channel_names=channel_names or ["channel_0"],
        channel_colors=channel_colors,
        channel_minmax=channel_minmax
        or [(0.0, 65535.0)] * n_channels,
        channel_startend=channel_startend,
    )
    validate_omero(omero)
    return {
        "ome": {
            "version": "0.5",
            "multiscales": [
                {
                    "axes": axes_5d(),
                    "datasets": datasets,
                    "name": name,
                    "metadata": {"method": method},
                }
            ],
            "omero": omero,
        }
    }
