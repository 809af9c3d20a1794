"""Hilbert space-filling-curve index for spatial clustering.

Re-expresses the semantics of the reference's Hilbert partition
transform (reference api/src/main/java/org/apache/iceberg/transforms/
Hilbert.java:32-142 and api/.../util/havasu/HilbertCurve2D.java:51-117):

- input geometry is reduced to its envelope CENTER point;
- the extent [minX,maxX] x [minY,maxY] is mapped to a 2^res x 2^res
  grid with scale (2^res - 1) / extent (HilbertCurve2D.java:62-66);
- null / empty / out-of-bounds geometries map to NULL
  (HilbertCurve2D.java:74-102);
- default bounds are the world lon/lat box (-180,-90,180,90)
  (Hilbert.java:38-40).

The reference's curve comes from uzaygezen's CompactHilbertCurve; the
test contract is *locality properties only*, not bit-equality
(reference api/src/test/java/org/apache/iceberg/transforms/TestHilbert.java:60-83),
so this uses the classic Hilbert d2xy/xy2d mapping, vectorized with
numpy over whole Arrow batches (``geo.functions.st_hilbert`` feeds it
the envelope centres of a batch in one call).  Physical partition
values are therefore not byte-portable to the reference — documented
non-goal (SURVEY §7 watch-list 2).
"""

from __future__ import annotations

import numpy as np

DEFAULT_BOUNDS = (-180.0, -90.0, 180.0, 90.0)
MAX_RESOLUTION = 30  # 2 bits/level * 30 = 60 bits < int64


def check_hilbert_params(
    resolution: int, bounds: tuple[float, float, float, float] = DEFAULT_BOUNDS
) -> tuple[int, tuple[float, float, float, float]]:
    """Validated ``(resolution, bounds)``; ValueError otherwise.

    The resolution must be an integer in [1, MAX_RESOLUTION].  The
    extent (minx, miny, maxx, maxy) must be finite with min < max on
    both axes, and its grid scale (2^res - 1) / (max - min) finite and
    non-zero: a degenerate extent would divide by zero inside an
    executor task, an infinite one would give every point the same key
    and an inverted one would make every key NULL.
    """
    res = int(resolution)
    if res != resolution or not 1 <= res <= MAX_RESOLUTION:
        raise ValueError(
            f"hilbert resolution must be an integer in [1,{MAX_RESOLUTION}],"
            f" got {resolution!r}"
        )
    minx, miny, maxx, maxy = (float(b) for b in bounds)
    cells = float((1 << res) - 1)
    for lo, hi in ((minx, maxx), (miny, maxy)):
        # NaN fails lo < hi; an infinite or overflowing extent gives scale 0
        if not (lo < hi and 0.0 < cells / (hi - lo) < np.inf):
            raise ValueError(
                f"hilbert bounds must be finite with min < max, got {bounds!r}"
            )
    return res, (minx, miny, maxx, maxy)


def hilbert_index_xy(
    x: np.ndarray,
    y: np.ndarray,
    resolution: int,
    bounds: tuple[float, float, float, float] = DEFAULT_BOUNDS,
) -> np.ndarray:
    """Vectorized Hilbert curve index of float coordinate arrays.

    Returns an int64 array with -1 marking NULL (NaN or out-of-bounds
    input); callers translate -1 to SQL NULL.  Bad parameters raise
    ValueError (:func:`check_hilbert_params`).
    """
    resolution, (minx, miny, maxx, maxy) = check_hilbert_params(resolution, bounds)
    n = np.int64(1) << resolution
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    valid = (
        np.isfinite(x) & np.isfinite(y)
        & (x >= minx) & (x <= maxx) & (y >= miny) & (y <= maxy)
    )
    # scale to grid: (2^res - 1) / extent, matching HilbertCurve2D.java:62-66
    sx = (float(n) - 1.0) / (maxx - minx)
    sy = (float(n) - 1.0) / (maxy - miny)
    gx = np.where(valid, np.floor((x - minx) * sx), 0).astype(np.int64)
    gy = np.where(valid, np.floor((y - miny) * sy), 0).astype(np.int64)
    np.clip(gx, 0, n - 1, out=gx)
    np.clip(gy, 0, n - 1, out=gy)
    d = hilbert_d_from_cells(gx, gy, resolution)
    return np.where(valid, d, np.int64(-1))


def hilbert_d_from_cells(gx: np.ndarray, gy: np.ndarray, resolution: int) -> np.ndarray:
    """Curve index of integer grid cells in [0, 2^res)^2.

    Classic xy2d mapping (public-domain algorithm), vectorized over the
    batch with numpy bit ops.
    """
    n = np.int64(1) << resolution
    gx = np.asarray(gx, dtype=np.int64).copy()
    gy = np.asarray(gy, dtype=np.int64).copy()
    d = np.zeros_like(gx)
    s = n >> 1
    while s > 0:
        rx = ((gx & s) > 0).astype(np.int64)
        ry = ((gy & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        gx_f = np.where(flip, s - 1 - gx, gx)
        gy_f = np.where(flip, s - 1 - gy, gy)
        gx, gy = np.where(swap, gy_f, gx_f), np.where(swap, gx_f, gy_f)
        s >>= 1
    return d
