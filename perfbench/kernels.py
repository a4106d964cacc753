"""No-JVM timing of the numpy kernels behind the workloads, on the
etl_write seed's coordinates: ns per row, the minimum over repeats."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

REPEATS = 7
TILE_TO = 200_000  # rows per timed call; the seed's points tiled up to this


def _min_ns_per_row(fn, rows: int) -> float:
    best = float("inf")
    for _ in range(REPEATS):
        t0 = time.perf_counter_ns()
        fn()
        best = min(best, time.perf_counter_ns() - t0)
    return best / rows


def kernel_metrics(x: np.ndarray, y: np.ndarray) -> dict[str, float]:
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.functions import h3_fine
    from geoparquet_io_spark.functions import projections as P
    from geoparquet_io_spark.functions.hilbert import hilbert_key

    reps = -(-TILE_TO // len(x))
    x = np.tile(x, reps)[:TILE_TO]
    y = np.tile(y, reps)[:TILE_TO]
    n = len(x)
    xs, ys = pd.Series(x), pd.Series(y)
    wkb = G.st_point.func(xs, ys)
    env = (float(x.min()), float(y.min()), float(x.max()), float(y.max()))
    albers = P.make_albers(*P.GRS80, lat1=29.5, lat2=45.5, lat0=23.0,
                           lon0=-96.0, fe=0.0, fn=0.0)
    return {
        "functions.st_point.ns_per_row":
            _min_ns_per_row(lambda: G.st_point.func(xs, ys), n),
        "functions.st_envelope_struct.ns_per_row":
            _min_ns_per_row(lambda: G.st_envelope_struct.func(wkb), n),
        "functions.hilbert_key.ns_per_row":
            _min_ns_per_row(lambda: hilbert_key(x, y, *env), n),
        "functions.h3_cell.ns_per_row":
            _min_ns_per_row(lambda: h3_fine.latlng_to_cell(y, x, 9), n),
        "functions.albers_forward.ns_per_row":
            _min_ns_per_row(lambda: P.albers_forward(x, y, albers), n),
    }
