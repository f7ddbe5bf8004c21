"""M3: covering assign-join + refinement vs brute-force containment oracle.

Test style 3 from SURVEY.md §5 (cross-validation of two implementations):
the distributed covering join must produce exactly the rows the per-layer
vectorized contains() predicate produces.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.covering import covering_df, covering_rows
from s2_geometry_library_java_spark.operators.layers import cap_layer, loop_layer, polygon_layer, rect_layer
from s2_geometry_library_java_spark.operators.pip_join import pip_join, with_cell_id
from s2_geometry_library_java_spark.sources.tables import geotagged_points


def make_layers():
    return [
        rect_layer("r_europe", 35.0, -10.0, 60.0, 30.0),
        rect_layer("r_wrap", -20.0, 160.0, 20.0, -160.0),  # wraps the antimeridian
        cap_layer("c_nyc", 40.7, -74.0, 15.0),
        cap_layer("c_spole", -90.0, 0.0, 20.0),  # polar cap
        loop_layer("l_tri", "0:0, 0:40, 35:20"),
        polygon_layer("p_hole", "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"),
    ]


def oracle_matches(pdf, layers):
    lat = pdf["lat"].to_numpy()
    lng = pdf["lng"].to_numpy()
    out = set()
    for layer in layers:
        mask = layer.contains_points(lat, lng)
        for pid in pdf["point_id"].to_numpy()[mask]:
            out.add((int(pid), layer.polygon_id))
    return out


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    return geotagged_points(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def points_pdf(points):
    return points.toPandas()


STRATEGIES = ["range", "stab", "prefix"]


@pytest.mark.parametrize(
    "strategy,encoded",
    [pytest.param(s, False, id=s) for s in STRATEGIES]
    + [pytest.param(s, True, id=f"{s}-pre_encoded") for s in STRATEGIES],
)
def test_pip_join_matches_bruteforce(points, points_pdf, strategy, encoded):
    # pre-encoded input (cell_id already present) takes the seg_of stab hop
    # instead of the fused encode+segment hop; raw input encodes in the join
    layers = make_layers()
    pts = with_cell_id(points) if encoded else points
    result = pip_join(pts, layers, strategy=strategy)
    got = {(int(r["point_id"]), r["polygon_id"]) for r in result.select("point_id", "polygon_id").collect()}
    assert got == oracle_matches(points_pdf, layers)


def test_pip_join_salted_shuffle_same_rows(points, points_pdf):
    # salt routes auto -> salted PREFIX join
    layers = make_layers()
    result = pip_join(points, layers, salt=4)
    got = {(int(r["point_id"]), r["polygon_id"]) for r in result.select("point_id", "polygon_id").collect()}
    assert got == oracle_matches(points_pdf, layers)


@pytest.mark.parametrize("strategy", ["ancestor", "broadcast", "", "PREFIX"])
def test_pip_join_rejects_unknown_strategy(points, strategy):
    with pytest.raises(ValueError, match="'auto', 'range', 'stab' or 'prefix'"):
        pip_join(points, make_layers(), strategy=strategy)


@pytest.mark.parametrize("strategy", ["range", "stab"])
@pytest.mark.parametrize(
    "knob",
    [{"salt": 4}, {"prefix_level": 4}, {"prune": "semi"}, {"prune": "bloom"}],
    ids=["salt", "prefix_level", "prune_semi", "prune_bloom"],
)
def test_pip_join_rejects_prefix_knobs_on_broadcast_arms(points, strategy, knob):
    # range/stab are broadcast-only: a salt, anchor level or prune rung
    # would be silently dropped, so passing one is an error
    with pytest.raises(ValueError, match=f"{next(iter(knob))} only apply to strategy='prefix'"):
        pip_join(points, make_layers(), strategy=strategy, **knob)


def test_prefix_join_from_driver_list_runs_no_job_at_construction(spark, points):
    """The driver-list prefix arm already knows its distinct prefixes, so
    picking the prune rung must not start a Spark job (unlike a covering
    DataFrame, which needs a bounded dimension-side count)."""
    from __spark_entry__ import ALL_LAYERS

    sc = spark.sparkContext
    group = "prefix-list-construction"
    sc.setJobGroup(group, "pip_join construction only")
    try:
        pip_join(points, ALL_LAYERS, strategy="prefix")
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


@pytest.mark.parametrize("prefix_level", [0, 2, 4, 6])
def test_prefix_cover_rows_exact_replication(points, points_pdf, prefix_level):
    """prefix_candidates must give the identical match set at every anchor
    level, including A coarser than some covering cells (single-prefix arm)
    and finer than all (replication arm)."""
    from s2_geometry_library_java_spark.operators.covering import covering_rows
    from s2_geometry_library_java_spark.operators.pip_join import (
        prefix_candidates,
        refine_candidates,
        with_cell_id,
    )

    layers = make_layers()
    rows = covering_rows(layers, max_cells=8, max_level=12)
    pts = with_cell_id(points)
    cand = prefix_candidates(pts, rows, salt=2 if prefix_level else None, prefix_level=prefix_level)
    result = refine_candidates(cand, layers)
    got = {(int(r["point_id"]), r["polygon_id"]) for r in result.select("point_id", "polygon_id").collect()}
    assert got == oracle_matches(points_pdf, layers)


def test_no_duplicate_matches(points):
    layers = make_layers()
    result = pip_join(points, layers)
    dups = result.groupBy("point_id", "polygon_id").count().filter(F.col("count") > 1).count()
    assert dups == 0


def test_stab_structure_matches_direct_range_membership():
    """Pure-NumPy cross-check: for random covering intervals (random cells at
    random levels, including face-5 cells whose range_max is the global max
    leaf), the segment table must give exactly the covering rows whose
    [range_min, range_max] contain each probe id — the S2CellUnion.contains
    semantics the stab join implements."""
    from s2_geometry_library_java_spark.kernel import cellid as ck
    from s2_geometry_library_java_spark.operators.pip_join import _stab_structure, _U64_BIAS

    rng = np.random.default_rng(7)
    lat = rng.uniform(-89, 89, 200)
    lng = rng.uniform(-179, 179, 200)
    leaves = ck.from_latlng_degrees(lat, lng)
    levels = rng.integers(2, 12, 200)
    cells = ck.parent(leaves, levels)
    # force one cell that ends at the global max leaf (face 5, level 0)
    cells[0] = np.uint64(5 << 61) | np.uint64(1 << 60)
    rmin = ck.range_min(cells).view(np.int64)
    rmax = ck.range_max(cells).view(np.int64)
    rows = [
        (f"p{k}", int(cells.view(np.int64)[k]), int(levels[k] if k else 0),
         int(rmin[k]), int(rmax[k]), bool(k % 2))
        for k in range(len(cells))
    ]
    bounds, seg_rows = _stab_structure(rows)
    by_seg: dict[int, set] = {}
    for s, pid, interior in seg_rows:
        by_seg.setdefault(s, set()).add((pid, interior))
    probes = ck.from_latlng_degrees(rng.uniform(-90, 90, 3000), rng.uniform(-180, 180, 3000))
    pb = probes ^ _U64_BIAS
    segs = np.searchsorted(bounds, pb, side="right") - 1
    lo = rmin.view(np.uint64) ^ _U64_BIAS
    hi = rmax.view(np.uint64) ^ _U64_BIAS
    for p, s in zip(pb, segs):
        expect = {
            (rows[k][0], rows[k][5]) for k in range(len(rows)) if lo[k] <= p <= hi[k]
        }
        assert by_seg.get(int(s), set()) == expect


def _stacked_squares(n: int) -> list:
    """``n`` half-degree squares, each shifted a few arc-seconds from the
    last: their coverings share boundary cells, so one stab segment carries
    a refine slot per square."""
    out = []
    for i in range(n):
        a, b, s = 10.0 + 0.003 * i, 20.0 + 0.002 * i, 0.5
        out.append(loop_layer(f"sq{i:02d}", f"{a}:{b}, {a}:{b + s}, {a + s}:{b + s}, {a + s}:{b}"))
    return out


STAB_REFINE_CASES = {
    # loop and polygon overlap, so segments carry two refine slots; the
    # region includes p_hole's hole
    "hole_overlap": (
        lambda: [
            loop_layer("l_tri", "0:0, 0:40, 35:20"),
            polygon_layer("p_hole", "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"),
            rect_layer("r_mid", 10.0, 10.0, 30.0, 30.0),
        ],
        (-10.0, 45.0, -10.0, 50.0),
        1,
    ),
    # 70 slots in one segment: the second mask word
    "stacked_70": (lambda: _stacked_squares(70), (9.9, 10.8, 19.9, 20.8), 2),
}


@pytest.mark.parametrize("encoded", [False, True], ids=["raw", "pre_encoded"])
@pytest.mark.parametrize("case", list(STAB_REFINE_CASES))
def test_stab_in_hop_refine_matches_bruteforce(spark, case, encoded):
    """The stab arm refines loop/polygon candidates inside its one Arrow
    hop and reads the answer back as a mask bit; its matches must equal
    brute-force ``Layer.contains_points`` on every layer."""
    import pandas as pd

    from s2_geometry_library_java_spark.operators.pip_join import _refine_slots, _stab_structure

    make, (lat_lo, lat_hi, lng_lo, lng_hi), words = STAB_REFINE_CASES[case]
    layers = make()
    bounds, seg_rows = _stab_structure(covering_rows(layers, max_cells=8, max_level=12))
    kernel_ids = {l.polygon_id: i for i, l in enumerate(layers) if l.kind in ("loop", "polygon")}
    _, koff, _, n_words = _refine_slots(seg_rows, len(bounds), kernel_ids)
    assert n_words == words
    assert np.diff(koff).max() >= 2  # some segment refines two layers at once

    rng = np.random.default_rng(11)
    n = 20_000
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "lat": rng.uniform(lat_lo, lat_hi, n),
            "lng": rng.uniform(lng_lo, lng_hi, n),
        }
    )
    if case == "hole_overlap":
        hole = loop_layer("hole", "5:5, 25:20, 5:35").contains_points(pdf["lat"].to_numpy(), pdf["lng"].to_numpy())
        assert hole.sum() > 100
    pts = spark.createDataFrame(pdf)
    if encoded:
        pts = with_cell_id(pts)
    result = pip_join(pts, layers, strategy="stab")
    got = {(int(r["point_id"]), r["polygon_id"]) for r in result.select("point_id", "polygon_id").collect()}
    assert got == oracle_matches(pdf, layers)


def test_covering_df_shape_and_interior(spark):
    layers = [cap_layer("c", 10.0, 20.0, 10.0)]
    rows = covering_rows(layers, max_cells=16)
    assert 0 < len(rows) <= 16 * 4  # denormalized bound
    # interior cells must be contained: every point of an interior cell is in the cap
    df = covering_df(spark, layers, max_cells=16)
    assert df.columns == ["polygon_id", "cell_id", "level", "range_min", "range_max", "is_interior"]
    assert df.count() == len(rows)
    # determinism (O11): same covering on re-run
    assert covering_rows(layers, max_cells=16) == rows


def test_encode_stage_is_stable(points):
    df = with_cell_id(points)
    a = {(r["point_id"], r["cell_id"]) for r in df.select("point_id", "cell_id").collect()}
    b = {(r["point_id"], r["cell_id"]) for r in df.select("point_id", "cell_id").collect()}
    assert a == b


def test_native_vs_kernel_bit_ops(spark, points):
    """Native SQL bit formulas == NumPy kernel on the same ids (two-impl check)."""
    from s2_geometry_library_java_spark.functions.native import level_expr, range_max_expr, range_min_expr, parent_expr
    from s2_geometry_library_java_spark.kernel import cellid as ck

    df = with_cell_id(points).select("cell_id").limit(500)
    rows = df.withColumn("lvl", level_expr(F.col("cell_id"))) \
        .withColumn("p5", parent_expr(F.col("cell_id"), 5)) \
        .withColumn("rmin", range_min_expr(F.col("cell_id"))) \
        .withColumn("rmax", range_max_expr(F.col("cell_id"))).collect()
    ids = np.array([r["cell_id"] for r in rows], dtype=np.int64).view(np.uint64)
    assert np.array_equal(np.array([r["lvl"] for r in rows]), ck.level(ids))
    assert np.array_equal(np.array([r["p5"] for r in rows], dtype=np.int64), ck.parent(ids, 5).view(np.int64))
    assert np.array_equal(np.array([r["rmin"] for r in rows], dtype=np.int64), ck.range_min(ids).view(np.int64))
    assert np.array_equal(np.array([r["rmax"] for r in rows], dtype=np.int64), ck.range_max(ids).view(np.int64))


def test_native_token_matches_kernel(spark):
    """token_expr (the manifest's native token) == the kernel's to_token on
    leaves from all six faces and on their parents at several levels,
    negative (face 4-5) ids and id 0 included."""
    import pandas as pd

    from s2_geometry_library_java_spark.functions.native import token_expr
    from s2_geometry_library_java_spark.kernel import cellid as ck

    rng = np.random.default_rng(5)
    leaves = ck.from_latlng_degrees(rng.uniform(-90, 90, 4000), rng.uniform(-180, 180, 4000))
    ids = np.concatenate(
        [leaves] + [ck.parent(leaves, lv) for lv in (0, 1, 3, 7, 12, 29)] + [np.zeros(1, np.uint64)]
    )
    signed = ids.view(np.int64)
    assert (signed < 0).sum() > 1000 and (signed == 0).sum() == 1
    df = spark.createDataFrame(pd.DataFrame({"c": signed}))
    got = [r[0] for r in df.select(token_expr(F.col("c"))).collect()]
    assert got == list(ck.to_token(ids))


def test_distributed_covering_matches_driver(spark):
    """applyInPandas covering generation == driver-side covering_rows."""
    from s2_geometry_library_java_spark.operators.covering import covering_df_distributed

    specs = [
        {"polygon_id": "r", "kind": "rect", "lat_lo": 10.0, "lng_lo": 10.0, "lat_hi": 30.0, "lng_hi": 40.0},
        {"polygon_id": "c", "kind": "cap", "lat_deg": -20.0, "lng_deg": 100.0, "angle_deg": 9.0},
        {"polygon_id": "l", "kind": "loop", "dsl": "0:0, 0:40, 35:20"},
        {"polygon_id": "p", "kind": "polygon", "dsl": "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"},
    ]
    got = {tuple(r) for r in covering_df_distributed(spark, specs, max_level=12).collect()}
    layers = [
        rect_layer("r", 10.0, 10.0, 30.0, 40.0),
        cap_layer("c", -20.0, 100.0, 9.0),
        loop_layer("l", "0:0, 0:40, 35:20"),
        polygon_layer("p", "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"),
    ]
    expect = {tuple(r) for r in covering_rows(layers, max_level=12)}
    assert got == expect


def test_choose_prefix_level_scales_with_partitions():
    """The anchor level tracks reducer-key cardinality: ~8 keys per shuffle
    partition, floored at the A/B-measured local[32] setting (4), capped so
    coarse-cell replication stays driver-side cheap."""
    from s2_geometry_library_java_spark.operators.pip_join import choose_prefix_level

    assert choose_prefix_level(32) == 4          # local bench: floor wins
    assert choose_prefix_level(150) == 4         # small cluster: floor still
    assert choose_prefix_level(2000) == 6        # 1000-exec cluster: 6*4^6=24k >= 16k
    assert choose_prefix_level(8000) == 7
    assert choose_prefix_level(10**9) == 10      # capped


def test_prefix_in_filter_semi_join_branch(points, points_pdf, monkeypatch):
    """When the covering has more distinct prefixes than PREFIX_IN_FILTER_MAX
    the probe prune switches from the IN-set literal to a broadcast LEFT SEMI
    join on the distinct prefixes — still pruning before the shuffle, still
    exact, with no literal list in the plan."""
    import importlib

    pj = importlib.import_module("s2_geometry_library_java_spark.operators.pip_join")
    monkeypatch.setattr(pj, "PREFIX_IN_FILTER_MAX", 1)
    layers = make_layers()
    result = pj.pip_join(points, layers, strategy="prefix")
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # the middle-rung prune is in the executed plan
    assert " IN (" not in plan  # and the literal IN-set is gone
    got = {(int(r["point_id"]), r["polygon_id"]) for r in result.select("point_id", "polygon_id").collect()}
    assert got == oracle_matches(points_pdf, layers)


def test_prefix_level_range_validated(points):
    """Explicit anchor levels outside 0..30 must fail with a clear error,
    not a cryptic negative-shift deep in the bit math."""
    from s2_geometry_library_java_spark.operators.covering import covering_rows
    from s2_geometry_library_java_spark.operators.pip_join import (
        prefix_candidates,
        prefix_cover_frame,
        with_cell_id,
    )

    layers = make_layers()
    rows = covering_rows(layers, max_cells=8, max_level=12)
    pts = with_cell_id(points)
    spark = points.sparkSession
    from s2_geometry_library_java_spark.operators.covering import covering_df

    cover = covering_df(spark, layers, max_cells=8, max_level=12)
    for bad in (-1, 31, 99):
        with pytest.raises(ValueError, match="prefix_level"):
            prefix_candidates(pts, rows, prefix_level=bad)
        with pytest.raises(ValueError, match="prefix_level"):
            prefix_candidates(pts, cover, prefix_level=bad)
        with pytest.raises(ValueError, match="prefix_level"):
            prefix_cover_frame(cover, bad)
