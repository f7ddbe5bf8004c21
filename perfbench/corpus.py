"""Seeded corpus generators for the benchmark workloads.

Every corpus is a pure function of (shape, seed, rows): NumPy draws from
``default_rng(seed)`` and pyarrow writes a fixed 16-file parquet layout, so
the same seed gives byte-identical inputs and the program under test only
ever reads parquet.  Generation is the benchmark's own input cost and is
never inside a timed region.  Corpora are written once per
(shape, seed, rows) under the work directory and reused by later runs.

Shapes:

- ``uniform``: ``(image_id, phash)`` with phash uniform over 64 bits.  The
  phash-derived anchor (lat from the upper 32 bits, lng from the lower 32)
  is then uniform in lat/lng.
- ``hotcity``: ``(point_id, lat, lng, cell_id, phash)``, the hot-city corpus
  of ``scripts/r5_geodedup_ab.py``: a background uniform in lat/lng plus a
  burst of ``BURST_ROWS`` rows jittered inside a 0.002-degree box in ONE
  level-11 bucket at (48, 10), the stadium/landmark burst.  The box is
  centred on that bucket's centre, so no burst row falls outside it.
  ``phash`` is a 16-bit perceptual hash and ``cell_id`` the leaf cell id,
  materialized so the near-dup job skips the encode hop.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

N_FILES = 16
BURST_ROWS = 3000
BURST_LAT, BURST_LNG = 48.0, 10.0
BURST_LEVEL = 11
BURST_BOX_DEG = 0.002


def _uniform_phash(seed: int, rows: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 1])
    return rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, rows, dtype=np.int64, endpoint=True)


def uniform_table(seed: int, rows: int) -> dict[str, np.ndarray]:
    return {"image_id": np.arange(rows, dtype=np.int64), "phash": _uniform_phash(seed, rows)}


def hotcity_table(seed: int, rows: int) -> dict[str, np.ndarray]:
    from s2_geometry_library_java_spark.kernel import cellid as ck

    rng = np.random.default_rng([seed, 3])
    n_burst = min(BURST_ROWS, rows // 4)
    n_bg = rows - n_burst
    bg_lat = rng.uniform(-90.0, 90.0, n_bg)
    bg_lng = rng.uniform(-180.0, 180.0, n_bg)
    centre = ck.parent(ck.from_latlng_degrees(np.array([BURST_LAT]), np.array([BURST_LNG])), BURST_LEVEL)
    b_lat, b_lng = (np.degrees(v)[0] for v in ck.to_latlng_radians(centre))
    half = BURST_BOX_DEG / 2.0
    burst_lat = b_lat + rng.uniform(-half, half, n_burst)
    burst_lng = b_lng + rng.uniform(-half, half, n_burst)

    lat = np.concatenate([bg_lat, burst_lat])
    lng = np.concatenate([bg_lng, burst_lng])
    order = rng.permutation(rows)
    lat, lng = lat[order], lng[order]
    return {
        "point_id": np.arange(rows, dtype=np.int64),
        "lat": lat,
        "lng": lng,
        "cell_id": ck.from_latlng_degrees(lat, lng).view(np.int64),
        "phash": rng.integers(0, 65536, rows, dtype=np.int64),
    }


SHAPES = {"uniform": uniform_table, "hotcity": hotcity_table}


def materialize(work_dir: str, shape: str, seed: int, rows: int) -> str:
    """Write the corpus once and return its parquet directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(work_dir, "corpus", f"{shape}_s{seed}_n{rows}")
    done = os.path.join(out, "_SUCCESS")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    table = pa.table(SHAPES[shape](seed, rows))
    step = -(-rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(out, f"part-{i:05d}.parquet"))
    open(done, "w").close()
    return out
