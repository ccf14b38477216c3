"""Spark-free kernel throughput over 8192-row batches of WKB polygons.

Runs the batch decoder and the ``functions.kernels.k_*`` behind each
ST_* aggregate of the geoparquet_window workload, in rows/s. Batches are
visited round-robin and there are more distinct batches (five for 40k
polygons) than the decoder's memo holds (four), so no call is served
from that memo.
"""

from __future__ import annotations

import struct
import time

import pandas as pd

BATCH = 8192
MIN_SECONDS = 0.2


def kernel_rows_per_s(wkb):
    from geoarrow_rs_spark.functions import batchdecode, kernels as K

    batches = [pd.Series(wkb[i:i + BATCH]) for i in range(0, len(wkb), BATCH)]
    point = struct.pack("<BIdd", 1, 1, 50.0, 50.0)
    # one point per row of each batch length (the last batch is shorter)
    points = {n: pd.Series([point] * n) for n in {len(s) for s in batches}}
    cases = {
        "decode": lambda s: batchdecode.decode_batch(list(s)),
        "area": K.k_area,
        "perimeter": K.k_perimeter,
        "centroid": K.k_centroid,
        "convex_hull": K.k_convex_hull,
        "simplify": lambda s: K.k_simplify(s, 1e-9),
        "distance": lambda s: K.k_distance(s, points[len(s)]),
        "bbox": K.k_bbox_struct,
    }
    out = {}
    for name, fn in cases.items():
        rows, i = 0, 0
        t0 = time.perf_counter()
        while i == 0 or time.perf_counter() - t0 < MIN_SECONDS:
            s = batches[i % len(batches)]
            fn(s)
            rows += len(s)
            i += 1
        out[name] = rows / (time.perf_counter() - t0)
    return out
