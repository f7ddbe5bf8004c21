"""The workloads: what each job calls, and how its output is checked.

Every call into the program uses the public API defaults: no ``strategy``,
``n_rows``, ``salt``, ``prune`` or ``n_points`` hints, so the cost model's
own choices are what gets measured.  Each job wraps its calls into the
program's layers in tracer spans; with tracing off the tracer is a no-op.

Why each workload exists, and which layers it loads or skips, is recorded
in BENCHMARK.json.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from perfbench import oracle

# The layer dimension: the same eight regions the engine's driver contract
# calls ALL_LAYERS (plain rect, antimeridian-wrap rect, band, three caps, a
# triangle loop and a polygon with a hole).
LAYER_SPECS = [
    {"polygon_id": "r_eu", "kind": "rect", "lat_lo": 35.0, "lng_lo": -10.0, "lat_hi": 60.0, "lng_hi": 30.0},
    {"polygon_id": "r_wrap", "kind": "rect", "lat_lo": -20.0, "lng_lo": 160.0, "lat_hi": 20.0, "lng_hi": -160.0},
    {"polygon_id": "r_band", "kind": "rect", "lat_lo": -15.0, "lng_lo": -60.0, "lat_hi": 15.0, "lng_hi": 60.0},
    {"polygon_id": "c_nyc", "kind": "cap", "lat_deg": 40.7, "lng_deg": -74.0, "angle_deg": 18.0},
    {"polygon_id": "c_spole", "kind": "cap", "lat_deg": -90.0, "lng_deg": 0.0, "angle_deg": 25.0},
    {"polygon_id": "c_tokyo", "kind": "cap", "lat_deg": 35.7, "lng_deg": 139.7, "angle_deg": 12.0},
    {"polygon_id": "l_tri", "kind": "loop", "dsl": "0:0, 0:40, 35:20"},
    {"polygon_id": "p_hole", "kind": "polygon", "dsl": "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"},
]
TILE_LEVEL = 7
NEARDUP_RADIUS = 0.0005  # radians, about 3.2 km
NEARDUP_HAMMING = 4


def build_layers():
    """Fresh Layer objects; new identities miss the covering memo, so a
    set-up pays the driver-side coverer like a new application does."""
    from s2_geometry_library_java_spark.operators.layers import cap_layer, loop_layer, polygon_layer, rect_layer

    makers = {"rect": rect_layer, "cap": cap_layer, "loop": loop_layer, "polygon": polygon_layer}
    layers = []
    for spec in LAYER_SPECS:
        kw = {k: v for k, v in spec.items() if k != "kind"}
        layers.append(makers[spec["kind"]](**kw))
    return layers


@dataclass
class Workload:
    name: str
    shape: str
    rows: int
    job: Callable
    expected: Callable  # (corpus_dir, layers) -> oracle answer
    check: Callable  # (result, expected) -> list of mismatches


class JobContext:
    """What a job needs: the session, the corpus, layers and a tracer."""

    def __init__(self, spark, corpus: str, layers, tracer):
        self.spark = spark
        self.corpus = corpus
        self.layers = layers
        self.tracer = tracer


def _geotag_job(ctx: JobContext) -> dict[str, int]:
    """encode -> pip_join -> tile_manifest; the action sums the manifest's
    image counts per polygon, which the oracle states independently, and
    counts its tiles."""
    from pyspark.sql import functions as F

    from s2_geometry_library_java_spark.operators.pip_join import pip_join
    from s2_geometry_library_java_spark.operators.tiling import tile_manifest
    from s2_geometry_library_java_spark.plans.pipeline import encode_images

    tr = ctx.tracer
    imgs = ctx.spark.read.parquet(ctx.corpus)
    with tr.span("plans.encode_images"):
        enc = encode_images(imgs.select("phash"))
    with tr.span("operators.pip_join", plans=True):
        m = pip_join(enc, ctx.layers)
    with tr.span("operators.tiling.tile_manifest"):
        man = tile_manifest(m, tile_level=TILE_LEVEL)
    # count(tile_token) keeps the token hop in the plan: an action that
    # ignored the token column would let Catalyst prune the UDF away
    with tr.span("action.collect", plans=True):
        rows = man.groupBy("polygon_id").agg(F.sum("n_images").alias("n"), F.count("tile_token")).collect()
    return {r["polygon_id"]: int(r["n"]) for r in rows}


def _neardup_job(ctx: JobContext) -> tuple[int, int, int, int]:
    from pyspark.sql import functions as F

    from s2_geometry_library_java_spark.operators.geodedup import geo_neardup_pairs

    pts = ctx.spark.read.parquet(ctx.corpus)
    with ctx.tracer.span("operators.geodedup.geo_neardup_pairs", plans=True):
        pairs = geo_neardup_pairs(pts, NEARDUP_RADIUS, NEARDUP_HAMMING)
    with ctx.tracer.span("action.collect", plans=True):
        row = pairs.agg(
            F.count(F.lit(1)), F.sum("id_lo"), F.sum("id_hi"), F.sum("hamming")
        ).collect()[0]
    return tuple(int(v or 0) for v in row)


def neardup_candidate_pairs(corpus: str) -> int:
    """Candidate rows the near-dup blocking implies on this corpus: every
    left row meets every right row of each bucket in its bucket's one-ring,
    before the id, distance and Hamming filter.  An input property computed
    here with the kernel, not a counter read from the program's plan."""
    import numpy as np
    import pyarrow.parquet as pq

    from s2_geometry_library_java_spark.kernel import cellid as ck
    from s2_geometry_library_java_spark.operators.geodedup import geo_block_level

    level = geo_block_level(NEARDUP_RADIUS)
    cells = pq.read_table(corpus, columns=["cell_id"]).column("cell_id").to_numpy().view(np.uint64)
    buckets, counts = np.unique(ck.parent(cells, level), return_counts=True)
    # the ring is distinct per bucket: the bucket itself plus its neighbours
    rows, nbrs = ck.get_all_neighbors(buckets, level)
    edges = np.unique(np.stack([
        np.concatenate([np.arange(buckets.size), rows]).astype(np.uint64),
        np.concatenate([buckets, nbrs.astype(np.uint64)]),
    ]), axis=1)
    src, probe = edges[0].astype(np.int64), edges[1]
    pos = np.clip(np.searchsorted(buckets, probe), 0, buckets.size - 1)
    probe_rows = np.where(buckets[pos] == probe, counts[pos], 0)
    return int((counts[src] * probe_rows).sum())


def _neardup_expected(corpus: str, layers) -> dict:
    return {
        "summary": oracle.neardup_summary(corpus, NEARDUP_RADIUS, NEARDUP_HAMMING),
        "candidate_pairs": neardup_candidate_pairs(corpus),
    }


def _neardup_check(result, expected) -> list[str]:
    return oracle.diff_tuple(result, expected["summary"])


WORKLOADS = {
    w.name: w
    for w in [
        Workload("geotag_uniform", "uniform", 500_000, _geotag_job, oracle.polygon_counts, oracle.diff_counts),
        Workload("neardup_hotcell", "hotcity", 200_000, _neardup_job, _neardup_expected, _neardup_check),
    ]
}
