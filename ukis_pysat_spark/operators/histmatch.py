"""Histogram matching: remap each scene's band values so their
distribution matches a reference scene's — the classic mosaic
seam-line / sensor-harmonization step (rio hist_match, scikit-image
match_histograms) the reference library leaves to its caller.

Deterministic rank rule (integer-exact, so the driver's DuckDB twin
replays it bit-for-bit):

    pos  = cdf_src(v)                  # valid source pixels <= v
    j    = ceil(pos * n_ref / n_src)   # = (pos*n_ref + n_src - 1) // n_src
    out  = j-th smallest valid reference value (duplicates kept)

``pos >= 1`` for any valid v, so ``1 <= j <= n_ref``; the maximum maps
to the reference maximum and the minimum to a low reference quantile —
the standard quantile-mapping estimator with a fixed tie rule instead
of float interpolation.  nodata pixels pass through; bands where either
side has zero valid pixels pass through unchanged.

Physical strategy: ONE payload equi-join on the pair key and one Arrow
stage (the pansharpen/change pattern) — embarrassingly parallel per
scene pair, no other shuffle at any scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

def _match_plane(src: np.ndarray, rv: np.ndarray, nod):
    """One band: remap src values onto the distribution of ``rv`` (the
    reference band's VALID values, any shape)."""
    valid = np.ones(src.shape, dtype=bool) if nod is None else src != nod
    va = src[valid]
    if va.size == 0 or rv.size == 0:
        return src
    uq, inv = np.unique(va, return_inverse=True)
    # cdf per unique value: count of valid src <= uq
    cdf = np.cumsum(np.bincount(inv, minlength=uq.size))
    n_src, n_ref = va.size, rv.size
    j = (cdf * n_ref + n_src - 1) // n_src  # 1-based ceil rank
    sr = np.sort(rv.ravel())
    mapped = sr[j - 1]
    out = src.copy()
    out[valid] = mapped[inv]
    return out


def match_histogram(
    images: DataFrame, reference: DataFrame, on: str = "image_id"
) -> DataFrame:
    """Match every image's per-band histogram to its reference row's
    (joined on ``on``; both sides need bytes/transform/nodata/crs and
    matching band counts).  Output rides the source grid, float64,
    source nodata preserved."""
    j = images.select(
        F.col(on).alias("image_id"),
        "bytes",
        "transform",
        "crs",
        "nodata",
    ).join(
        reference.select(
            F.col(on).alias("image_id"),
            F.col("bytes").alias("bytes_ref"),
            F.col("nodata").alias("nodata_ref"),
        ),
        "image_id",
    )

    def rows_fn(row: dict):
        src = codec.decode(row["bytes"]).astype(np.float64)
        ref = codec.decode(row["bytes_ref"]).astype(np.float64)
        if src.shape[0] != ref.shape[0]:
            raise ValueError(
                f"band mismatch: source {src.shape[0]} vs reference "
                f"{ref.shape[0]} for {row['image_id']!r}"
            )
        nod, rnod = row["nodata"], row["nodata_ref"]
        out = np.stack(
            [
                _match_plane(
                    src[b],
                    ref[b].ravel() if rnod is None
                    else ref[b][ref[b] != rnod],
                    nod,
                )
                for b in range(src.shape[0])
            ]
        )
        yield {
            "image_id": row["image_id"],
            "w": src.shape[2],
            "h": src.shape[1],
            "fmt": "raw",
            "bands": src.shape[0],
            "dtype": "float64",
            "crs": row["crs"],
            "transform": list(row["transform"]),
            "nodata": nod,
            "bytes": codec.encode_chunks(out, "raw"),
        }

    return arrowio.map_rows(
        j.select("image_id", "bytes", "transform", "crs", "nodata",
                 "bytes_ref", "nodata_ref"),
        rows_fn,
        arrowio.RASTER_SCHEMA,
    )
