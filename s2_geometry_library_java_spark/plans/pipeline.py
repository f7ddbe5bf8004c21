"""The north-rule pipeline (SURVEY.md §3.4), end to end:

    images --[phash anchor, native bit math]--> lat/lng
           --[ONE Arrow hop: K23 encode + interval stab + loop/polygon
              parity, returning (cell_id, segment, mask)]-->
           --[broadcast join on the segment + codegen refine]--> matches
           --[C5 tile-parent bit math + native token]--> tile_id/tile_token
           --[bucketed manifest write + ledger]--> resumable output

One Arrow hop per fact row: ``encode_images`` is pure native, the stab arm
of ``pip_join`` encodes, stabs and refines in the single hop it pays anyway,
and the manifest tokenizes with a native expression.  Exactly two wide
stages in the happy path: the assign join (broadcast => no shuffle at all)
and the tile-bucket write.  (The range and prefix arms, picked for small
fact tables or huge layer dimensions, encode in their own hop and refine
loop/polygon candidates in a second one.)
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.layers import Layer
from s2_geometry_library_java_spark.operators.pip_join import pip_join
from s2_geometry_library_java_spark.operators.tiling import run_tiled_write, tile_manifest
from s2_geometry_library_java_spark.sources.images import synthetic_images


def encode_images(images: DataFrame) -> DataFrame:
    """phash -> anchor ``lat``/``lng`` (FIXTURES.md F1 recipe), pure native
    bit math: no Arrow hop and no ``cell_id`` column.

    The first consumer encodes in the hop it already pays: ``pip_join``'s
    stab arm returns the leaf id from its one per-point hop, and the range
    and prefix arms encode through ``with_cell_id``.  The anchor arithmetic
    is the same IEEE double math as ``sources.images.phash_anchor_*``, so
    the ids are bit-identical to ``s2_cell_id_from_phash(phash)``.  Callers
    that want ids without a join call ``with_cell_id`` on the result."""
    upper = F.shiftrightunsigned(F.col("phash"), 32).cast("double")
    lower = F.col("phash").bitwiseAND(F.lit(0xFFFFFFFF)).cast("double")
    lat = F.lit(-90.0) + F.lit(180.0) * (upper / F.lit(4294967296.0))
    lng = F.lit(-180.0) + F.lit(360.0) * (lower / F.lit(4294967296.0))
    return images.withColumn("lat", lat).withColumn("lng", lng)


def run_pipeline(
    spark: SparkSession,
    layers: list[Layer],
    n_images: int = 10_000,
    tile_level: int = 7,
    out_dir: str | None = None,
    buckets: int = 8,
    fail_after: int | None = None,
    images: DataFrame | None = None,
) -> dict:
    """Run the full pipeline; returns metrics incl. images/sec throughput."""
    t0 = time.time()
    imgs = images if images is not None else synthetic_images(spark, n_images)
    encoded = encode_images(imgs.select("image_id", "caption", "phash"))
    matches = pip_join(encoded, layers)
    metrics: dict = {"n_images": n_images}
    if out_dir is not None:
        write_stats = run_tiled_write(
            matches, out_dir, tile_level=tile_level, buckets=buckets, fail_after=fail_after
        )
        metrics["write"] = write_stats
        n_matches = spark.read.parquet(f"{out_dir}/bucket=*").count()
    else:
        n_matches = matches.count()
    metrics["n_matches"] = n_matches
    elapsed = time.time() - t0
    metrics["elapsed_sec"] = elapsed
    metrics["images_per_sec"] = n_images / elapsed if elapsed > 0 else float("inf")
    metrics["manifest_rows"] = tile_manifest(matches, tile_level).count()
    return metrics
