"""The spatial assign/refine join: point-in-region at DataFrame scale.

Three candidate-generation arms, each an image of S2CellUnion.contains
(S2CellUnion.java:160-178) over the covering's [range_min, range_max]
intervals, picked by ``pip_join(strategy=...)``:

- **range** (``range_candidates``): ``biased(cell_id) BETWEEN
  biased(range_min) AND biased(range_max)`` against a broadcast covering,
  with the unsigned-compare bias of S2CellId.java:897-899.
  Broadcast-only: Catalyst executes a non-equi join as BNLJ, which is fine
  for a small layer side and wrong otherwise.

- **interval-stab** (``stab_candidates``): the same binary search, *actually
  executed as a binary search*: the covering's disjoint-per-layer
  [range_min, range_max] intervals are flattened driver-side into a sorted
  boundary array whose segments each carry the set of covering rows
  containing them; one vectorized ``np.searchsorted`` per fact batch maps
  each leaf id to its segment (an int32), and a broadcast equi-join on the
  segment id expands to candidates.  O(log B) per row instead of the BNLJ's
  O(B), and no fact-side row amplification.  No shuffle, so hot cells
  cannot skew anything.  Broadcast-only like "range".  It is the one arm
  that crosses the Arrow boundary once per fact row: the same hop encodes
  (when the id is absent), finds the segment and runs the loop/polygon
  parity kernel, returning a bit mask beside the segment.

- **prefix-partitioned interval join** (``prefix_candidates``, the 100-TB
  arm, auto-chosen whenever the covering must not be broadcast): one
  level-A ancestor key per probe row (no fan-out), covering replicated to
  the same prefixes, shuffled hash equi-join on the packed BIGINT prefix
  with exact interval containment as the residual condition, plus a
  pre-shuffle prune of probe rows outside every covering prefix (IN-set
  literal while small, broadcast left-semi beyond, fixed-size Bloom
  bitmap once the exact prefix set itself outgrows a comfortable
  broadcast).  The covering is either the driver-resident list or a
  COVERING_SCHEMA DataFrame (``pip_join(covering_frame=...)``, e.g. built
  on executors by covering_df_distributed), whose replication and pruning
  then stay DataFrame-native.

Refinement then applies the exact membership predicate only to candidates
from non-interior covering cells (O5): natively for rect/cap layers (a
codegen'd CASE chain), and for loop/polygon layers through the vectorized
edge-crossing-parity kernel (S2Loop.java:624-654 via
kernel.predicates.loop_crossing_parity).  The range and prefix arms run the
kernel in a ``parity_contains`` Arrow hop over their candidates
(``refine_candidates``); the stab arm runs it inside its per-point hop and
reads the result back as a mask bit, so its refinement is pure codegen.
Covering cells of one region are disjoint (normalized,
S2CellUnion.java:561-618), so no point matches a region twice — the join
emits no duplicates by construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, IntegerType, LongType, StructField, StructType

from s2_geometry_library_java_spark.functions.native import biased, parent_expr
from s2_geometry_library_java_spark.functions.udfs import s2_cell_id
from s2_geometry_library_java_spark.kernel import cellid as ck
from s2_geometry_library_java_spark.operators.covering import covering_rows, COVERING_SCHEMA
from s2_geometry_library_java_spark.operators.layers import Layer


def with_cell_id(points: DataFrame, lat_col: str = "lat", lng_col: str = "lng", cell_col: str = "cell_id") -> DataFrame:
    """Encode stage: add the leaf cell id (K23 kernel, one Arrow hop).

    The coalesce is a runtime no-op (the kernel never yields null) but marks
    the column non-null to Catalyst: otherwise a range/equi join on it
    infers an IsNotNull constraint and pushes a filter that RE-EVALUATES the
    encode UDF a second time on the whole fact side (observed: two
    ArrowEvalPython encode stages in the BETWEEN-join plan)."""
    if cell_col in points.columns:
        return points
    return points.withColumn(
        cell_col, F.coalesce(s2_cell_id(F.col(lat_col), F.col(lng_col)), F.lit(0))
    )


def range_candidates(points: DataFrame, rows: list[tuple], cell_col: str = "cell_id") -> DataFrame:
    """Candidate (point, polygon) pairs via the broadcast BETWEEN join;
    keeps all point columns plus ``polygon_id`` and ``is_interior``."""
    cells = points.sparkSession.createDataFrame(rows, COVERING_SCHEMA).select(
        F.col("polygon_id"),
        F.col("range_min").alias("_rmin"),
        F.col("range_max").alias("_rmax"),
        F.col("is_interior"),
    )
    b = biased(F.col(cell_col))
    out = points.join(
        F.broadcast(cells),
        (b >= biased(F.col("_rmin"))) & (b <= biased(F.col("_rmax"))),
        "inner",
    )
    return out.drop("_rmin", "_rmax")


_U64_BIAS = np.uint64(1) << np.uint64(63)


def _stab_structure(rows: list[tuple]) -> tuple[np.ndarray, list[tuple]]:
    """Flatten covering intervals into (sorted uint64 segment boundaries,
    [(segment, polygon_id, is_interior), ...]).

    Segment s spans [bounds[s], bounds[s+1]) in biased (unsigned-order)
    space; every interval endpoint is a boundary, so an interval covers a
    segment iff it covers the segment's start, and the covered segments form
    one contiguous span per interval.  A leaf id's containing intervals are
    exactly its segment's list.  Driver cost is O(N log B + output)."""
    rmin = np.array([r[3] for r in rows], dtype=np.int64).view(np.uint64) ^ _U64_BIAS
    rmax = np.array([r[4] for r in rows], dtype=np.int64).view(np.uint64) ^ _U64_BIAS
    u64_max = np.uint64(0xFFFFFFFFFFFFFFFF)
    bset = {0}
    for lo, hi in zip(rmin, rmax):
        bset.add(int(lo))
        if hi != u64_max:  # end+1 would wrap; the last segment is open-ended
            bset.add(int(hi) + 1)
    bounds = np.array(sorted(bset), dtype=np.uint64)
    # Every interval endpoint is a boundary, so interval j covers exactly the
    # contiguous segment span [searchsorted(rmin_j), searchsorted(rmax_j,
    # right)-1] — O(N log B + output) driver cost, no pairwise scan.
    lo_seg = np.searchsorted(bounds, rmin, side="left")
    hi_seg = np.searchsorted(bounds, rmax, side="right") - 1
    seg_rows: list[tuple] = []
    for j, r in enumerate(rows):
        for s in range(int(lo_seg[j]), int(hi_seg[j]) + 1):
            seg_rows.append((int(s), r[0], r[5]))
    return bounds, seg_rows


def _refine_slots(
    seg_rows: list[tuple], n_seg: int, kernel_ids: dict[str, int]
) -> tuple[list[tuple], np.ndarray, np.ndarray, int]:
    """Number the segment rows the stab hop refines inside its own batch.

    A segment row needs the parity kernel iff its layer is a loop/polygon
    (``kernel_ids`` maps those polygon ids to kernel indices) and its cell
    is not interior.  Such a row gets ``_kpos``, its position among those
    rows in its segment, which is the bit the hop sets for a point that
    passes; every other row gets -1.  Returns the rows as
    ``(segment, polygon_id, is_interior, _kpos)``, the per-segment slot
    offsets (CSR, ``n_seg + 1`` long), the kernel index of each slot, and
    the BIGINT mask words needed for the deepest segment."""
    depth = np.zeros(n_seg, dtype=np.int64)
    tagged: list[tuple] = []
    for s, pid, interior in seg_rows:
        k = -1
        if pid in kernel_ids and not interior:
            k = int(depth[s])
            depth[s] += 1
        tagged.append((s, pid, interior, k))
    koff = np.zeros(n_seg + 1, dtype=np.int64)
    np.cumsum(depth, out=koff[1:])
    kslot = np.empty(int(koff[-1]), dtype=np.int64)
    for s, pid, _, k in tagged:
        if k >= 0:
            kslot[koff[s] + k] = kernel_ids[pid]
    n_words = -(-int(depth.max(initial=0)) // 64)
    return tagged, koff, kslot, n_words


def _stab_batch(
    bounds: np.ndarray,
    koff: np.ndarray,
    kslot: np.ndarray,
    kernels: list[Layer],
    n_words: int,
    ids: np.ndarray,
    lat: np.ndarray | None,
    lng: np.ndarray | None,
) -> dict[str, np.ndarray]:
    """One stab-hop batch: each leaf id's segment, plus (when ``n_words``)
    mask words whose bit ``_kpos`` is set where the point lies inside that
    slot's loop/polygon.  The parity kernel runs once per layer on exactly
    the (point, layer) pairs whose segment carries a refine slot of that
    layer — the pairs a separate refine hop would test."""
    seg = np.searchsorted(bounds, ids ^ _U64_BIAS, side="right") - 1
    out = {"seg": seg.astype(np.int32)}
    if not n_words:
        return out
    words = np.zeros((n_words, len(ids)), dtype=np.uint64)
    start = koff[seg]
    cnt = koff[seg + 1] - start
    pt = np.repeat(np.arange(len(ids)), cnt)
    kpos = np.arange(len(pt)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    layer = kslot[start[pt] + kpos]
    order = np.argsort(layer, kind="stable")
    for grp in np.split(order, np.flatnonzero(np.diff(layer[order])) + 1):
        if not len(grp):
            continue
        p = pt[grp]
        hit = kernels[layer[grp[0]]].contains_points(lat[p], lng[p])
        k = kpos[grp][hit]
        np.bitwise_or.at(
            words, (k >> 6, p[hit]), np.left_shift(np.uint64(1), (k & 63).astype(np.uint64))
        )
    for i in range(n_words):
        out[f"m{i}"] = words[i].view(np.int64)
    return out


def _mask_bit(n_words: int) -> Column:
    """True where the stab hop set the row's ``_kpos`` bit in its mask
    words ``_m0``.. (word ``_kpos >> 6``, bit ``_kpos & 63``)."""
    if n_words == 1:
        word = "_m0"
    else:
        arms = " ".join(f"WHEN {i} THEN _m{i}" for i in range(n_words))
        word = f"CASE shiftright(_kpos, 6) {arms} END"
    return F.expr(f"_kpos >= 0 AND (shiftright({word}, _kpos & 63) & 1) = 1")


def stab_candidates(
    points: DataFrame,
    covering: list[tuple],
    layers: list[Layer],
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Exact (point, polygon) pairs via the vectorized S2CellUnion.contains
    binary search (see module docstring), refined in the same Arrow hop.
    Keeps all point columns plus ``polygon_id`` and ``is_interior``; points
    outside every covering interval drop out in the broadcast equi-join
    (inner, same semantics as the other strategies).

    One hop per fact row.  Un-encoded points pay a single ``cell_seg``
    struct hop, (lat, lng) -> (cell_id, segment, mask); pre-encoded points
    (``cell_col`` present) pay a ``seg_of`` hop, (cell_id, lat, lng) ->
    (segment, mask).  The mask carries the loop/polygon parity results for
    the point's segment (``_refine_slots``); with no loop/polygon refine
    slot there is no mask and ``seg_of`` reads the id alone.  The filter
    after the broadcast join is then pure codegen: interior cell, OR the
    rect/cap CASE chain, OR the mask bit at the row's ``_kpos``."""
    bounds, seg_rows = _stab_structure(covering)
    native_pred, kernels = _native_case(layers, lat_col, lng_col)
    tagged, koff, kslot, n_words = _refine_slots(
        seg_rows, len(bounds), {l.polygon_id: i for i, l in enumerate(kernels)}
    )
    masks = [f"m{i}" for i in range(n_words)]
    seg_fields = [StructField("seg", IntegerType(), False)] + [
        StructField(m, LongType(), False) for m in masks
    ]

    def batch(ids: np.ndarray, latlng: tuple[pd.Series, ...]) -> dict[str, np.ndarray]:
        lat, lng = (s.to_numpy(dtype=np.float64) for s in latlng) if latlng else (None, None)
        return _stab_batch(bounds, koff, kslot, kernels, n_words, ids, lat, lng)

    if cell_col in points.columns:
        @pandas_udf(StructType(seg_fields))
        def seg_of(cid: pd.Series, *latlng: pd.Series) -> pd.DataFrame:
            return pd.DataFrame(batch(cid.to_numpy(dtype=np.int64).view(np.uint64), latlng))

        latlng_cols = [F.col(lat_col), F.col(lng_col)] if n_words else []
        pts = points.withColumn("_cs", seg_of(F.col(cell_col), *latlng_cols))
    else:
        @pandas_udf(StructType([StructField("cell", LongType(), False)] + seg_fields))
        def cell_seg(lat_s: pd.Series, lng_s: pd.Series) -> pd.DataFrame:
            ids = ck.from_latlng_degrees(
                lat_s.to_numpy(dtype=np.float64), lng_s.to_numpy(dtype=np.float64)
            )
            return pd.DataFrame({"cell": ids.view(np.int64), **batch(ids, (lat_s, lng_s))})

        pts = points.withColumn("_cs", cell_seg(F.col(lat_col), F.col(lng_col))).withColumn(
            cell_col, F.col("_cs.cell")
        )
    # coalesce marks the join key non-null so the join's inferred IsNotNull
    # doesn't re-evaluate the UDF (same Catalyst trap as with_cell_id)
    pts = pts.withColumn("_seg", F.coalesce(F.col("_cs.seg"), F.lit(-1)))
    for m in masks:
        pts = pts.withColumn(f"_{m}", F.col(f"_cs.{m}"))
    seg_df = points.sparkSession.createDataFrame(
        tagged, "_seg int, polygon_id string, is_interior boolean, _kpos int"
    )
    keep = F.col("is_interior")
    if native_pred is not None:
        keep = keep | native_pred
    if n_words:
        keep = keep | _mask_bit(n_words)
    return (
        pts.drop("_cs")
        .join(F.broadcast(seg_df), "_seg", "inner")
        .filter(keep)
        .drop("_seg", "_kpos", *[f"_{m}" for m in masks])
    )


# Above this many DISTINCT covering prefixes the probe pre-filter switches
# from a codegen'd IN-set literal (cheapest while the analyzed plan stays
# small — Spark folds the list into a hash set, but plan text and driver-side
# literal handling get heavy well before the old 32k cap) to a broadcast
# LEFT SEMI join on the distinct-prefix frame: still zero-Python, still
# executed on the probe scan stage BEFORE the shuffle, and with no plan-size
# blowup at any covering size — the middle rung between the literal list and
# the Bloom bitmap below.  Pruning therefore never turns off.
PREFIX_IN_FILTER_MAX = 4096

# The broadcast-semi rung holds while the EXACT distinct-prefix set is
# comfortably broadcastable; past this many keys the set is ~10s of MB on
# the wire and several× that in each executor's LongHashedRelation, so the
# auto rung escalates to the final form: a FIXED-SIZE Bloom bitmap whose
# broadcast cost is independent of prefix cardinality (<= m/64 longs, and
# only words with a set bit exist as rows).  Spark 4 does not register
# bloom_filter_agg/might_contain in SQL, so the bitmap is built from
# first principles with bit_or aggregation (bloom_bitmap) and probed with
# broadcast word-lookups + bit tests (bloom_prune) — pure codegen, no
# Python.  Bloom false positives only cost shuffle bytes: every surviving
# row still meets the exact prefix equi-join + interval residual, so the
# match set is bit-identical across all three rungs.
PREFIX_SEMI_PRUNE_MAX = 1 << 20

# Bloom geometry: m bits, k seeded xxhash64 probes.  At the worst-case
# populated-prefix bound (6*4^10 ≈ 6.3M level-10 prefixes, PREFIX_LEVEL_CAP)
# m=2^26 gives fpp = (1 - e^(-k*n/m))^k ≈ 2.9%; at the PREFIX_SEMI_PRUNE_MAX
# crossover (n ≈ 1M) fpp ≈ 0.09%.  Bitmap ≤ 2^20 (word, bits) rows ≈ 8 MB
# broadcast worst case — and exactly k·n/64-ish rows when the covering is
# small, because empty words are never materialized.
PREFIX_BLOOM_BITS = 1 << 26
PREFIX_BLOOM_HASHES = 2

# Anchor-level bounds for the prefix join: the floor is the A/B-measured
# local[32] setting; the cap bounds the driver-side coarse-cell replication
# (4^(A-L) rows per covering cell coarser than A) and the worst-case
# populated-prefix count (6*4^10 ~ 6.3M).
PREFIX_LEVEL_FLOOR = 4
PREFIX_LEVEL_CAP = 10


def choose_prefix_level(shuffle_partitions: int) -> int:
    """Anchor level A for prefix_candidates, derived from the shuffle width.

    Reducer-key cardinality must comfortably exceed the shuffle partition
    count or reducers sit idle; aim for ~8 worst-case prefix keys per
    partition (6*4^A level-A cells).  local[32] -> the measured floor 4;
    a 1000-executor cluster at ~2000 shuffle partitions -> 6, matching the
    replication-vs-cardinality trade in the prefix_candidates docstring."""
    target = 8 * shuffle_partitions
    level = PREFIX_LEVEL_FLOOR
    while level < PREFIX_LEVEL_CAP and 6 * (4 ** level) < target:
        level += 1
    return level


def _validate_prefix_level(prefix_level: int) -> None:
    """Anchor level must be a real S2 level: outside 0..30 the lsb bit math
    silently shifts by a negative amount (a cryptic runtime error at best)."""
    if not 0 <= prefix_level <= 30:
        raise ValueError(
            f"prefix_level must be between 0 and 30 (S2 cell levels), got {prefix_level}"
        )


def _prefix_cover_rows(rows: list[tuple], prefix_level: int) -> list[tuple]:
    """Replicate covering rows to their level-``prefix_level`` prefix cells.

    A covering cell at level >= prefix_level maps to exactly ONE prefix (its
    level-A ancestor, S2CellId.parent formula); a coarser cell spans
    4^(A - level) level-A descendants (siblings are 2*lsb_A apart starting at
    range_min + lsb_A - 1, S2CellId.java:302-338) and is replicated to each —
    driver-side, bounded by the covering size x 4^A.  Returns
    ``(prefix, polygon_id, range_min, range_max, is_interior)`` tuples; a
    probe row matches at most one replica (its own prefix), so the join emits
    no duplicates."""
    lsb_a = 1 << (2 * (30 - prefix_level))
    out: list[tuple] = []
    for pid, cid, level, rmin, rmax, interior in rows:
        lsb = cid & -cid
        if level >= prefix_level:
            out.append(((cid & -lsb_a) | lsb_a, pid, rmin, rmax, interior))
        else:
            first = cid - lsb + lsb_a
            step = 2 * lsb_a
            for i in range(lsb // lsb_a):
                out.append((first + i * step, pid, rmin, rmax, interior))
    return out


def prefix_cover_frame(cover: DataFrame, prefix_level: int) -> DataFrame:
    """DataFrame-native image of ``_prefix_cover_rows``: replicate covering
    rows to their level-``prefix_level`` prefixes ENTIRELY in codegen'd SQL,
    so a covering built on executors (covering_df_distributed) never funnels
    through driver Python on its way into the prefix join.

    Bit identities (all from the S2CellId formulas already in
    functions/native.py): a covering cell at level >= A has one prefix, its
    level-A ancestor ``(id & -lsb_A) | lsb_A`` (S2CellId.java:334-338); a
    coarser cell spans its ``lsb/lsb_A`` level-A descendants, which are an
    arithmetic progression — first ``id - lsb + lsb_A``, last
    ``id + lsb - lsb_A``, step ``2*lsb_A`` (sibling spacing,
    S2CellId.java:302-338) — generated with ``sequence()`` + ``explode()``.
    Input: the COVERING_SCHEMA frame; output columns
    ``(_pfx, polygon_id, _rmin, _rmax, is_interior)``."""
    _validate_prefix_level(prefix_level)
    lsb_a = 1 << (2 * (30 - prefix_level))
    cid = F.col("cell_id")
    lsb = cid.bitwiseAND(-cid)
    ancestor = F.array(cid.bitwiseAND(F.lit(-lsb_a)).bitwiseOR(F.lit(lsb_a)))
    siblings = F.sequence(
        cid - lsb + F.lit(lsb_a), cid + lsb - F.lit(lsb_a), F.lit(2 * lsb_a)
    )
    # CaseWhen codegen evaluates only the taken branch, so the sequence's
    # first>last case never executes for deeper-than-A cells
    pfx = F.when(lsb <= F.lit(lsb_a), ancestor).otherwise(siblings)
    return cover.select(
        F.explode(pfx).alias("_pfx"),
        F.col("polygon_id"),
        F.col("range_min").alias("_rmin"),
        F.col("range_max").alias("_rmax"),
        F.col("is_interior"),
    )


def _bloom_hash(col: Column, seed: int, m_bits: int) -> Column:
    """Hash ``col`` into [0, m_bits) — xxhash64 over (value, seed-literal),
    so each seed yields an independent hash function (the literal changes
    the hashed tuple; xxhash64's own seed is fixed)."""
    return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(m_bits))


def bloom_bitmap(
    keys: DataFrame,
    key_col: str,
    m_bits: int = PREFIX_BLOOM_BITS,
    k: int = PREFIX_BLOOM_HASHES,
) -> DataFrame:
    """An m-bit Bloom bitmap of ``keys[key_col]`` as a ``(_w, _bits)`` frame:
    word index = hash >> 6, ``_bits`` = bit_or of ``1 << (hash & 63)`` over
    every key and every one of the k seeds.  Duplicated keys are free
    (bit_or is idempotent), so callers need not pay a distinct() first.
    Rows exist only for words with at least one set bit — a small key set
    yields a small bitmap automatically, a huge one caps at m/64 rows."""
    h = F.explode(
        F.array(*[_bloom_hash(F.col(key_col), s, m_bits) for s in range(k)])
    ).alias("_h")
    return (
        keys.select(h)
        .select(
            F.shiftright("_h", 6).alias("_w"),
            # SQL-form shiftleft: the PySpark wrapper takes only literal
            # shift amounts, the SQL function takes a column
            F.expr("shiftleft(1L, int(_h & 63))").alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_bits"))
    )


def bloom_prune(
    df: DataFrame,
    bitmap: DataFrame,
    col: str,
    m_bits: int = PREFIX_BLOOM_BITS,
    k: int = PREFIX_BLOOM_HASHES,
) -> DataFrame:
    """Drop rows whose ``col`` is DEFINITELY absent from the bitmap's key
    set: k broadcast word-lookups (inner hash join on the word index — a
    missing word is a Bloom negative) each followed by a codegen'd bit
    test.  Never drops a true key; may keep false positives, which the
    caller's exact join removes.  ``m_bits``/``k`` must match the values
    the bitmap was built with.  Executes on the probe scan stage, before
    any shuffle — the same placement as the IN-set and semi rungs.

    All k lookups join the SAME bitmap frame (per-seed names live only in
    probe-side hash columns), so the k build sides canonicalize equal and
    the bitmap aggregation materializes + broadcasts ONCE — statically via
    ReuseExchange, or through AQE's stage cache at runtime (pinned by a
    plan test)."""
    out = df
    for s in range(k):
        hcol, wcol = f"_bh{s}", f"_bw{s}"
        out = out.withColumn(hcol, _bloom_hash(F.col(col), s, m_bits)).withColumn(
            wcol, F.shiftright(F.col(hcol), 6)
        )
        out = (
            out.join(F.broadcast(bitmap), out[wcol] == bitmap["_w"], "inner")
            .filter(F.expr(f"(_bits & shiftleft(1L, int({hcol} & 63))) != 0"))
            .drop(hcol, wcol, "_w", "_bits")
        )
    return out


def prefix_candidates(
    points: DataFrame,
    cover: list[tuple] | DataFrame,
    cell_col: str = "cell_id",
    salt: int | None = None,
    prefix_level: int | None = None,
    prune: str = "auto",
) -> DataFrame:
    """Candidate pairs via the PREFIX-PARTITIONED interval join — the
    100-TB arm when the layer side is too big to broadcast.

    The fact side is shuffled ONCE, compactly: each probe row gets a single
    level-A ancestor key (native bit math, no fan-out), the covering is
    replicated to the same level-A prefixes, and the two meet in a shuffled
    HASH equi-join on the packed BIGINT prefix with the exact interval
    containment ``biased(cell) BETWEEN biased(range_min) AND
    biased(range_max)`` (S2CellUnion.contains, S2CellUnion.java:160-178) as
    the residual join condition.

    ``cover`` is either the driver-side covering list (replicated by
    ``_prefix_cover_rows``) or a COVERING_SCHEMA DataFrame — e.g. the
    executor-built output of ``covering_df_distributed`` — replicated by
    native ``sequence``/``explode`` (``prefix_cover_frame``) so a 100k-layer
    dimension never touches driver Python.  Everything after that is shared.

    ``prefix_level`` trades reducer-key cardinality (6*4^A populated cells
    max) against coarse-cell replication (4^(A-L) per covering cell below
    A); 4 suits local[32], 6-8 a 1000-executor cluster — when None it is
    derived from spark.sql.shuffle.partitions (choose_prefix_level), so the
    same call scales from the laptop to the cluster.  ``salt`` spreads a
    hot prefix (a city-sized layer stack) over ``salt`` reducers by packing
    ``xxhash64(leaf) % salt`` into the prefix's zero low bits: the key stays
    a single BIGINT, eligible for Spark's single-column radix sort (a
    compound (key, salt) join key measured 2-3x slower on the 104M-row
    probe sort, r4 interleaved A/B).

    ``prune`` picks how probe rows outside every covering prefix are dropped
    before the shuffle (every rung executes on the probe scan stage):

    - ``"auto"`` (default): by the number of distinct covering prefixes, a
      codegen'd IN-set literal up to PREFIX_IN_FILTER_MAX (measured ~1.3 s
      cheaper than the semi probe per 128M fact rows at local[32]), the
      broadcast semi up to PREFIX_SEMI_PRUNE_MAX, the Bloom rung beyond.  A
      driver list already knows its prefixes, so this runs no Spark job.  A
      DataFrame covering is persisted first (so the coverer executes once,
      not once per consumer) and counted by one or two small jobs bounded by
      their LIMITs — ``distinct prefixes LIMIT PREFIX_IN_FILTER_MAX+1``, then
      a count up to ``PREFIX_SEMI_PRUNE_MAX+1`` — that run eagerly when the
      DataFrame is CONSTRUCTED, not when it is acted on; callers that need
      a fully lazy plan pass ``prune="semi"`` or ``prune="bloom"``.
    - ``"semi"``: probe pruning is a broadcast LEFT SEMI join on the
      distinct prefixes (no literal IN list at any covering size, no job
      until the first action).  The semi prune consumes the covering
      subtree a second time (distinct keys + join build side); when the
      covering is expensive to build (applyInPandas coverer over many
      layers), persist or checkpoint ``cover`` before calling — the frame
      is small (the layer dimension), so caching it is the cluster-scale
      posture anyway.
    - ``"bloom"``: probe pruning is a PREFIX_BLOOM_BITS-bit Bloom bitmap of
      the covering prefixes (bloom_bitmap / bloom_prune): k broadcast
      word-lookups + bit tests.  The broadcast is ≤ m/64 longs NO MATTER
      how many distinct prefixes the covering has — the terminal rung for
      layer dimensions whose exact prefix set itself outgrows a broadcast;
      false positives (≈3% at the 6.3M worst-case prefix bound) only add
      shuffle bytes, never rows to the output.  Same persist advice as
      ``"semi"`` (the bitmap consumes the covering subtree once more)."""
    if prune not in ("auto", "semi", "bloom"):
        raise ValueError(f"prune must be 'auto', 'semi' or 'bloom', got {prune!r}")
    spark = points.sparkSession
    if prefix_level is None:
        try:
            parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):  # e.g. "auto" under some AQE configs
            parts = 200
        prefix_level = choose_prefix_level(parts)
    _validate_prefix_level(prefix_level)
    if salt and salt > (1 << (2 * (30 - prefix_level))):
        raise ValueError(f"salt {salt} does not fit below the level-{prefix_level} lsb")

    if isinstance(cover, DataFrame):
        if prune == "auto":
            # dimension-side only and bounded by the LIMIT — safe at any fact
            # scale; persist so the rung probe and the join build side share
            # one covering execution (the collect materializes the cache)
            cover = cover.persist()
        pref = prefix_cover_frame(cover, prefix_level)
        if prune == "auto":
            distinct = pref.select("_pfx").distinct()
            keys = [r["_pfx"] for r in distinct.limit(PREFIX_IN_FILTER_MAX + 1).collect()]
            # second bounded job only past the IN-set band: count (not
            # collect) caps at the LIMIT, deciding semi vs bloom
            n_keys = len(keys)
            if n_keys > PREFIX_IN_FILTER_MAX:
                n_keys = distinct.limit(PREFIX_SEMI_PRUNE_MAX + 1).count()
    else:
        pref_rows = _prefix_cover_rows(cover, prefix_level)
        pref = spark.createDataFrame(
            pref_rows, "_pfx bigint, polygon_id string, _rmin bigint, _rmax bigint, is_interior boolean"
        )
        keys = list({r[0] for r in pref_rows})
        n_keys = len(keys)

    rung = prune
    if prune == "auto":
        rung = (
            "inset" if n_keys <= PREFIX_IN_FILTER_MAX
            else "semi" if n_keys <= PREFIX_SEMI_PRUNE_MAX
            else "bloom"
        )
    pts = points.withColumn("_pfx", parent_expr(F.col(cell_col), prefix_level))
    if rung == "inset":
        pts = pts.filter(F.col("_pfx").isin(sorted(keys)))
    elif rung == "semi":
        # middle rung past the IN-set band: broadcast left-semi on the
        # distinct prefixes — same pre-shuffle pruning, no literal blowup
        pts = pts.join(F.broadcast(pref.select("_pfx").distinct()), "_pfx", "left_semi")
    else:
        # terminal rung: fixed-size Bloom bitmap of the covering prefixes —
        # broadcast size independent of prefix cardinality; bit_or makes the
        # duplicate prefixes in pref harmless, so no distinct() shuffle
        pts = bloom_prune(pts, bloom_bitmap(pref.select("_pfx"), "_pfx"), "_pfx")

    if salt:
        pref = pref.withColumn(
            "_csalt", F.explode(F.array(*[F.lit(s) for s in range(salt)]))
        )
        cover_keyed = pref.select(
            F.col("_pfx").bitwiseOR(F.col("_csalt")).alias("_ckey"),
            "polygon_id",
            "_rmin",
            "_rmax",
            "is_interior",
        )
        pts = pts.withColumn(
            "_pkey",
            F.col("_pfx").bitwiseOR(F.pmod(F.xxhash64(F.col(cell_col)), F.lit(salt))),
        )
    else:
        cover_keyed = pref.withColumnRenamed("_pfx", "_ckey")
        pts = pts.withColumn("_pkey", F.col("_pfx"))
    b = biased(pts[cell_col])
    out = pts.join(
        cover_keyed.hint("shuffle_hash"),
        (pts["_pkey"] == cover_keyed["_ckey"])
        & (b >= biased(cover_keyed["_rmin"]))
        & (b <= biased(cover_keyed["_rmax"])),
        "inner",
    )
    return out.drop("_pfx", "_pkey", "_ckey", "_rmin", "_rmax")


def _native_case(
    layers: list[Layer], lat_col: str = "lat", lng_col: str = "lng"
) -> tuple[Column | None, list[Layer]]:
    """The rect/cap membership tests as one codegen'd CASE chain on
    ``polygon_id`` (None when there are no such layers), plus the layers
    that need the parity kernel instead."""
    native = [l for l in layers if l.native_predicate(F.col(lat_col), F.col(lng_col)) is not None]
    native_ids = {l.polygon_id for l in native}
    kernel_layers = [l for l in layers if l.polygon_id not in native_ids]
    if not native:
        return None, kernel_layers
    pred: Column = F.lit(False)
    for layer in native:
        pred = F.when(
            F.col("polygon_id") == F.lit(layer.polygon_id),
            layer.native_predicate(F.col(lat_col), F.col(lng_col)),
        ).otherwise(pred)
    return pred, kernel_layers


def membership_expr(
    layers: list[Layer],
    lat_col: str = "lat",
    lng_col: str = "lng",
    seed: Column | None = None,
) -> Column:
    """Boolean Column: does the point at (lat, lng) lie inside the layer
    named by the row's ``polygon_id``?

    Single-pass: one predicate combining the native rect/cap tests
    (codegen'd CASE chain) with one vectorized parity-kernel pandas UDF for
    loop/polygon layers — the source is scanned exactly once regardless of
    the layer mix (no union of per-kind branches).  ``seed`` is an optional
    already-decided-true Column (e.g. interior-covering-cell membership);
    rows where it holds skip both the CASE chain and the parity sweep."""
    native_pred, kernel_layers = _native_case(layers, lat_col, lng_col)
    cond: Column = seed if seed is not None else F.lit(False)
    if native_pred is not None:
        cond = cond | native_pred

    if kernel_layers:
        by_id = {l.polygon_id: l for l in kernel_layers}

        @pandas_udf(BooleanType())
        def parity_contains(
            pid_s: pd.Series, lat_s: pd.Series, lng_s: pd.Series, decided_s: pd.Series
        ) -> pd.Series:
            # Catalyst hoists the UDF into its own projection, so it SEES
            # every candidate row; ``decided`` (interior covering cell, or
            # native-predicate true) lets the kernel skip the parity sweep
            # for rows the filter already keeps — on an interior-heavy
            # covering that is most of the volume.
            keep = np.zeros(len(pid_s), dtype=bool)
            todo = ~decided_s.to_numpy(dtype=bool)
            if todo.any():
                # factorize (hash-based, C) beats np.unique's sort on strings
                codes, uniques = pd.factorize(pid_s)
                for code, pid in enumerate(uniques):
                    layer = by_id.get(pid)
                    if layer is None:
                        continue  # native-layer row; decided by the CASE chain
                    idx = np.flatnonzero((codes == code) & todo)
                    if len(idx):
                        keep[idx] = layer.contains_points(
                            lat_s.to_numpy(dtype=np.float64)[idx],
                            lng_s.to_numpy(dtype=np.float64)[idx],
                        )
            return pd.Series(keep)

        cond = cond | parity_contains(
            F.col("polygon_id"), F.col(lat_col), F.col(lng_col), cond
        )

    return cond


def refine_candidates(
    candidates: DataFrame,
    layers: list[Layer],
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Exact membership filter on non-interior candidates (boundary cells)
    of the range and prefix arms: ``membership_expr`` seeded with the
    interior-covering-cell flag, so loop/polygon candidates pay one
    ``parity_contains`` Arrow hop.  The stab arm does not come here: it
    runs the parity kernel inside its own per-point hop (``stab_candidates``).

    History: round 3 fused a per-POINT kernel-membership bitmask into the
    pre-join encode hop of the range arm and lost an interleaved A/B at the
    8M-row bench (min 4.32 s vs 3.71 s): the bitmask widened the encode
    hop's Arrow input from 8 B (phash) to 24 B (+lat, lng) while this hop
    carried only the candidate subset.  The stab arm's in-hop refine is a
    different trade: it needs no extra hop of its own and replaces the
    encode, segment and refine hops with one, and on a 4-core box each
    Arrow hop's fixed cost outweighs the bytes it carries."""
    return candidates.filter(
        membership_expr(layers, lat_col, lng_col, seed=F.col("is_interior"))
    )


def pip_semi_join(
    points: DataFrame,
    layers: list[Layer],
    negate: bool = False,
    id_col: str = "point_id",
    **pip_kwargs,
) -> DataFrame:
    """Points contained in ANY layer (semi) or in NO layer (anti) — the
    §2.7 semi/anti-join category ("images inside any polygon" / "outside
    all polygons", the most common downstream filter on a spatial join).

    The match set is the covering join's id column only (no payload through
    the shuffle); the final LEFT SEMI / LEFT ANTI is an equi-join on the
    point id, which Catalyst executes broadcast-side when the match set is
    small and shuffled-hash otherwise."""
    matches = pip_join(points, layers, **pip_kwargs).select(id_col)
    return points.join(matches, id_col, "left_anti" if negate else "left_semi")


# With an UNKNOWN fact-row count, tiny coverings keep the zero-Python BNLJ
# and anything bigger assumes web-scale rows (design-for-100TB default).
RANGE_BREAKEVEN_CELLS = 48
# With a KNOWN fact-row count the model keys on total BNLJ work
# (rows x covering cells, every compare inside WholeStageCodegen): below the
# budget the bounded sweep beats paying the interval-stab strategy's
# per-row Arrow hop + fixed costs (segment-table build, Python worker ramp).
# Calibrated on local[32], interleaved best-of-N e2e (encode+join+manifest):
#   8M rows x   56 cells = 4.5e8 -> range 3.4s vs stab 4.2s  (range)
#   8M rows x  305 cells = 2.4e9 -> range 4.0s vs stab 7.2s  (range)
#   8M rows x 1412 cells = 1.1e10 -> range 5.9s vs stab 4.7s (stab)
# 128M rows x   56 cells = 7.2e9 -> range 10.5s vs stab 9.2s (stab)
# One budget separates all four cleanly.  These runs predate the single-hop
# stab arm (encode, segment and parity refine in one Arrow hop), which
# can move the crossover; the budget has not been re-derived since.
RANGE_WORK_BUDGET = 4_000_000_000
# Above this the covering should not be broadcast at all (the segment table
# grows with covering size and overlap); the prefix-partitioned interval
# join is the strategy that scales to huge layer dimensions.
STAB_MAX_CELLS = 65536


def choose_strategy(covering: list[tuple], n_rows: int | None = None) -> str:
    """Adaptive plan choice — the engine analog of S2EdgeIndex's lazy-build
    cost model (S2EdgeIndex.java:156-211: brute force until >100 edges and
    >30 queries make the index pay for itself).  Like the reference's
    predictAdditionalCalls (S2EdgeIndex.java:204-211) it keys on BOTH
    sides: the covering size and, when the caller supplies it, the
    fact-side row count ``n_rows`` (exact or estimated).

    Per-fact-row cost of the broadcast range join is ~|covering| interval
    compares (BNLJ probe, zero Python, no fan-out rows) — so its TOTAL work
    is rows x cells, and it wins while that product stays under
    RANGE_WORK_BUDGET (see calibration above).  The interval-stab strategy
    is O(log |covering|) per row but pays one Arrow hop per row plus fixed
    costs, so it pays off exactly when fan-out bandwidth dominates worker
    ramp — large row counts or large coverings.  With no row hint, coverings
    over RANGE_BREAKEVEN_CELLS assume web-scale rows and take stab.
    Non-broadcastable coverings (huge layer dimensions) must use the
    prefix-partitioned interval join — forced by the caller via
    ``strategy="prefix"``, or chosen here when the covering outgrows what a
    broadcast segment table should hold."""
    n_cells = len(covering)
    if n_cells > STAB_MAX_CELLS:
        return "prefix"
    if n_rows is not None:
        return "range" if n_rows * n_cells <= RANGE_WORK_BUDGET else "stab"
    return "range" if n_cells <= RANGE_BREAKEVEN_CELLS else "stab"


def pip_join(
    points: DataFrame,
    layers: list[Layer],
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    max_cells: int = 8,
    # max_level 12 (not 30): boundary coarseness below level 12 is cheap to
    # absorb in the vectorized refine.  (Measured: constraining further —
    # min_level=4/level_mod=2 — coarsens the boundary cells and inflates
    # refine work 3x; this config wins.)
    min_level: int = 0,
    max_level: int = 12,
    level_mod: int = 1,
    strategy: str = "auto",
    salt: int | None = None,
    n_rows: int | None = None,
    prefix_level: int | None = None,
    covering_frame: DataFrame | None = None,
    prune: str = "auto",
) -> DataFrame:
    """points x layers -> rows of points matched with ``polygon_id``.

    ``strategy`` is one of ``"auto"``, ``"range"``, ``"stab"`` and
    ``"prefix"``.  ``"auto"`` (default) applies the I2 cost model
    (choose_strategy): coverings up to the measured breakeven take the
    zero-Python broadcast range join, larger broadcastable ones the
    vectorized interval-stab lookup, and a covering too big to broadcast
    the prefix-partitioned interval join.  ``n_rows`` is an optional
    fact-side row-count hint (exact or estimated) that lets the model keep
    small fact tables on the range path above the cell breakeven.

    ``salt``, ``prefix_level`` and ``prune`` are prefix-join knobs (see
    prefix_candidates): passing any of them makes ``"auto"`` take the
    prefix join, and passing them with ``"range"`` or ``"stab"`` (both
    broadcast-only by construction) raises ``ValueError``.

    ``covering_frame``: an already-built covering DataFrame in
    COVERING_SCHEMA shape (typically ``covering_df_distributed`` over a huge
    layer dimension, with coverer params matching this call's) — routes to
    the prefix join with covering replication and probe pruning kept
    DataFrame-native, so nothing flows through driver Python.  ``layers``
    still supplies the exact refine predicates."""
    if strategy not in ("auto", "range", "stab", "prefix"):
        raise ValueError(
            f"strategy must be 'auto', 'range', 'stab' or 'prefix', got {strategy!r}"
        )
    if covering_frame is not None and strategy not in ("auto", "prefix"):
        raise ValueError("covering_frame requires the prefix strategy")
    given = {"salt": salt is not None, "prefix_level": prefix_level is not None, "prune": prune != "auto"}
    prefix_knobs = [name for name, g in given.items() if g]
    if prefix_knobs and strategy in ("range", "stab"):
        raise ValueError(
            f"{', '.join(prefix_knobs)} only apply to strategy='prefix', not {strategy!r}"
        )
    if covering_frame is not None:
        cover = covering_frame
        strategy = "prefix"
    else:
        cover = covering_rows(
            layers, max_cells=max_cells, min_level=min_level, max_level=max_level, level_mod=level_mod
        )
        if strategy == "auto":
            strategy = "prefix" if prefix_knobs else choose_strategy(cover, n_rows)
    if strategy == "stab":
        out = stab_candidates(points, cover, layers, lat_col, lng_col, cell_col)
    else:
        pts = with_cell_id(points, lat_col, lng_col, cell_col)
        if strategy == "prefix":
            cand = prefix_candidates(pts, cover, cell_col, salt, prefix_level, prune)
        else:
            cand = range_candidates(pts, cover, cell_col)
        out = refine_candidates(cand, layers, lat_col, lng_col)
    return out.drop("is_interior")
