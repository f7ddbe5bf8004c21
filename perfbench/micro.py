"""Single-thread micro metrics of the kernel, geometry and UDF layers.

Timed calls to public functions on seeded arrays, run in their own process
with one BLAS/OpenMP thread and before any Spark session exists.  Each
figure is the median of ``REPS`` timed calls after one warm-up call.

    OMP_NUM_THREADS=1 OPENBLAS_NUM_THREADS=1 python3 perfbench/micro.py --seed 1

prints one JSON object of metric name -> value.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import numpy as np

N_POINTS = 200_000
N_PARITY = 20_000
ARROW_BATCH = 65_536  # the session's spark.sql.execution.arrow.maxRecordsPerBatch
REPS = 7
# coverer parameters: pip_join's own defaults
COVER_MAX_CELLS = 8
COVER_MAX_LEVEL = 12
# single-thread reference timings of the S2 library this engine ports
# (FromPoint and ToPoint), reported beside the kernel figures in trace dumps
REFERENCE_US = {"kernel.encode_us_per_op": 0.161, "kernel.decode_us_per_op": 0.116}


def _median_s(fn, reps: int = REPS) -> float:
    fn()  # warm-up: page faults, allocator, lazy tables
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def measure(seed: int) -> dict[str, float]:
    import pandas as pd

    from perfbench.workloads import build_layers
    from s2_geometry_library_java_spark.functions import udfs
    from s2_geometry_library_java_spark.geometry import S2RegionCoverer
    from s2_geometry_library_java_spark.kernel import cellid as ck
    from s2_geometry_library_java_spark.kernel import predicates as pr

    rng = np.random.default_rng([seed, 10])
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, N_POINTS)))
    lng = rng.uniform(-180.0, 180.0, N_POINTS)
    xyz = ck.latlng_degrees_to_xyz(lat, lng)
    ids = ck.from_xyz(xyz)
    tiles = ck.parent(ids, 7)
    buckets = ck.parent(ids, 10)
    out: dict[str, float] = {}
    us = 1e6 / N_POINTS
    out["kernel.encode_us_per_op"] = _median_s(lambda: ck.from_xyz(xyz)) * us
    out["kernel.encode_latlng_us_per_op"] = _median_s(lambda: ck.from_latlng_degrees(lat, lng)) * us
    out["kernel.decode_us_per_op"] = _median_s(lambda: ck.to_point(ids)) * us
    out["kernel.token_us_per_op"] = _median_s(lambda: ck.to_token(tiles)) * us
    out["kernel.neighbors_us_per_op"] = _median_s(lambda: ck.get_all_neighbors(buckets, 10)) * us

    # the parity kernel over every loop of the two non-native layers
    layers = {l.polygon_id: l for l in build_layers()}
    loops = [layers["l_tri"].region.loop(0)] + [
        layers["p_hole"].region.loop(i) for i in range(layers["p_hole"].region.num_loops())
    ]
    pts = xyz[:N_PARITY]
    edges = sum(loop.vertices.shape[0] for loop in loops)

    def parity() -> None:
        for loop in loops:
            pr.loop_crossing_parity(loop.vertices, pts)

    out["kernel.parity_ns_per_point_edge"] = _median_s(parity) * 1e9 / (N_PARITY * edges)

    def cover() -> int:
        coverer = S2RegionCoverer(max_cells=COVER_MAX_CELLS, max_level=COVER_MAX_LEVEL)
        return sum(coverer.get_covering(l.region).size for l in layers.values())

    out["geometry.cover_ms"] = _median_s(cover, reps=3) * 1e3
    out["geometry.cover_cells"] = float(cover())

    # UDF bodies on one Arrow batch, called through .func
    phash = pd.Series(rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, ARROW_BATCH, dtype=np.int64))
    tile_s = pd.Series(tiles[:ARROW_BATCH].view(np.int64))
    per_row = 1e6 / ARROW_BATCH
    out["functions.cell_id_from_phash_us_per_row"] = _median_s(lambda: udfs.s2_cell_id_from_phash.func(phash)) * per_row
    out["functions.token_us_per_row"] = _median_s(lambda: udfs.s2_token.func(tile_s)) * per_row
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(measure(args.seed)))
