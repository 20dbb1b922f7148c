"""GLCM texture features (Haralick): the classic EO/medical-imaging
texture descriptors — per-band co-occurrence statistics used as
classification features alongside spectral indices.

For each (image, band), valid pixel values are quantized to ``levels``
gray bins — ``bin = floor((v - min) * levels / (max - min))`` clipped
to ``levels - 1`` (constant bands land in bin 0) — and the DIRECTED
co-occurrence counts ``n[i, j]`` of (center bin i, neighbor bin j at
offset (dr, dc)) are reduced to:

    contrast      = sum n_ij * (i-j)^2          / N
    dissimilarity = sum n_ij * |i-j|            / N
    homogeneity   = sum floor(n_ij * 2^20 / (1 + (i-j)^2)) / 2^20 / N
    energy        = sum n_ij^2                  / (N * N)

with N the pair count.  Every numerator is an exact integer
(homogeneity's per-term weights are snapped to the 2^-20 dyadic grid
by integer division, the bm25 trick), so each feature is ONE final
IEEE division — bit-reproducible in any engine; the driver's DuckDB
twin replays the same aggregates.  The GLCM is directed (not
symmetrized); pass the opposite offset and average externally for the
symmetric variant.

Physical strategy: one row-wise Arrow stats stage (decode once,
bincount over ``i * levels + j``), tiny feature rows out —
embarrassingly parallel across images, no shuffle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

GLCM_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("band", pa.int32()),
        ("n_pairs", pa.int64()),
        ("contrast", pa.float64()),
        ("dissimilarity", pa.float64()),
        ("homogeneity", pa.float64()),
        ("energy", pa.float64()),
    ]
)


def glcm_features(
    images: DataFrame,
    levels: int = 16,
    dr: int = 0,
    dc: int = 1,
) -> DataFrame:
    """Per-(image, band) GLCM features at offset ``(dr, dc)``; see the
    module docstring for the exact quantization and feature formulas.
    Bands with zero valid pairs emit no row."""
    if levels < 2:
        raise ValueError("need levels >= 2")
    if dr == 0 and dc == 0:
        raise ValueError("offset must be nonzero")
    L = levels

    def row_fn(row: dict):
        arr = codec.decode(row["bytes"]).astype(np.float64)
        nb, h, w = arr.shape
        nod = row["nodata"]
        for b in range(nb):
            z = arr[b]
            valid = np.ones(z.shape, dtype=bool) if nod is None else z != nod
            if not valid.any():
                continue
            mn = z[valid].min()
            mx = z[valid].max()
            if mx > mn:
                q = np.floor((z - mn) * float(L) / (mx - mn))
                q = np.minimum(q, L - 1).astype(np.int64)
            else:
                q = np.zeros(z.shape, dtype=np.int64)
            # directed pairs: center (r, c) with neighbor
            # (r+dr, c+dc), both in-grid and valid
            r0, r1 = max(-dr, 0), h - max(dr, 0)
            c0, c1 = max(-dc, 0), w - max(dc, 0)
            if r0 >= r1 or c0 >= c1:
                continue
            ci = q[r0:r1, c0:c1]
            ni = q[r0 + dr : r1 + dr, c0 + dc : c1 + dc]
            ok = valid[r0:r1, c0:c1] & valid[r0 + dr : r1 + dr, c0 + dc : c1 + dc]
            if not ok.any():
                continue
            pair = ci[ok] * L + ni[ok]
            n = np.bincount(pair, minlength=L * L).astype(np.int64)
            N = int(n.sum())
            i = np.arange(L * L, dtype=np.int64) // L
            j = np.arange(L * L, dtype=np.int64) % L
            d2 = (i - j) * (i - j)
            yield {
                "image_id": row["image_id"],
                "band": b,
                "n_pairs": N,
                "contrast": float(int((n * d2).sum())) / N,
                "dissimilarity": float(int((n * np.abs(i - j)).sum())) / N,
                "homogeneity": int((n * 1048576 // (1 + d2)).sum()) / 1048576.0 / N,
                "energy": float(int((n * n).sum())) / (N * N),
            }

    return arrowio.map_rows(
        images.select("image_id", "bytes", "nodata"), row_fn, GLCM_SCHEMA
    )
