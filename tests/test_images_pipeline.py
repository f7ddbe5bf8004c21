"""M6/M7 components: synthetic images table + payload invariants, the
end-to-end pipeline with resume, and the streaming encode plan."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.images import image_stats, resize_images
from s2_geometry_library_java_spark.operators.layers import cap_layer, rect_layer
from s2_geometry_library_java_spark.operators.pip_join import pip_join
from s2_geometry_library_java_spark.plans.pipeline import encode_images, run_pipeline
from s2_geometry_library_java_spark.sources.images import (
    caption_for,
    images_pandas,
    phash_anchor_lat,
    phash_anchor_lng,
    synthetic_images,
)


@pytest.fixture(scope="module")
def images(spark):
    return synthetic_images(spark, 600, partitions=4).cache()


def test_images_deterministic_and_schema(spark, images):
    assert images.count() == 600
    assert images.columns == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    # regeneration is identical (pure function of the row index)
    again = synthetic_images(spark, 600, partitions=2)
    a = images.select("image_id", "phash", "caption", F.md5("bytes").alias("b")).collect()
    b = again.select("image_id", "phash", "caption", F.md5("bytes").alias("b")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_image_payload_invariants(images):
    """BASELINE.json per-row invariant: PSNR>=40dB (lossy) / exact (lossless),
    caption equality end to end."""
    stats = image_stats(images).collect()
    assert len(stats) == 600
    idx = np.arange(600, dtype=np.int64)
    captions = dict(zip([f"img{i:010d}" for i in idx], caption_for(idx)))
    for r in stats:
        if r["fmt"] == "raw":
            assert r["psnr"] == 999.0  # lossless: exact
        else:
            assert r["psnr"] >= 40.0
        assert r["caption"] == captions[r["image_id"]]


def test_image_stats_passthrough_keys(images):
    """passthrough=('phash',) keeps the geotag key on decode output so the
    binary-corpus pipeline (decode -> verify -> encode -> join) needs no
    join back to the source."""
    out = image_stats(images.limit(50), passthrough=("phash",))
    rows = out.collect()
    assert "phash" in out.columns and len(rows) == 50
    src = {r["image_id"]: r["phash"] for r in images.limit(50).collect()}
    for r in rows:
        assert r["phash"] == src[r["image_id"]]


def test_resize_images(images):
    out = resize_images(images.limit(20), target=8)
    rows = out.collect()
    for r in rows:
        assert r["w"] == r["h"] == 8 and len(r["bytes"]) == 8 * 8 * 3


def test_encode_images_matches_phash_anchor(images):
    enc = encode_images(images).select("image_id", "phash", "lat", "lng").limit(100).collect()
    ph = np.array([r["phash"] for r in enc], dtype=np.int64)
    np.testing.assert_allclose([r["lat"] for r in enc], phash_anchor_lat(ph), rtol=0, atol=0)
    np.testing.assert_allclose([r["lng"] for r in enc], phash_anchor_lng(ph), rtol=0, atol=0)


def test_fused_phash_encode_bit_identical(images):
    """encode_images emits no id; the cell_id pip_join emits (from its one
    stab hop on the native lat/lng) must equal the fused phash->cell UDF
    (same kernel, same anchor arithmetic)."""
    from s2_geometry_library_java_spark.functions.udfs import s2_cell_id_from_phash

    enc = encode_images(images)
    assert "cell_id" not in enc.columns
    world = [rect_layer("world", -90.0, -180.0, 90.0, 180.0)]
    m = pip_join(enc, world, strategy="stab")
    assert m.count() == images.count()
    bad = m.withColumn("cell_ref", s2_cell_id_from_phash(F.col("phash"))).filter(
        F.col("cell_id") != F.col("cell_ref")
    ).count()
    assert bad == 0


def test_run_pipeline_end_to_end(tmp_path, spark, images):
    layers = [rect_layer("hemi_n", 0.0, -180.0, 90.0, 180.0), cap_layer("cap0", 10.0, 10.0, 30.0)]
    out = str(tmp_path / "tiles")
    metrics = run_pipeline(spark, layers, n_images=600, out_dir=out, buckets=4, images=images)
    assert metrics["n_matches"] > 0
    assert metrics["manifest_rows"] > 0
    # matches == brute-force membership on the anchor points
    pdf = encode_images(images).select("image_id", "lat", "lng").toPandas()
    lat, lng = pdf["lat"].to_numpy(), pdf["lng"].to_numpy()
    expect = sum(int(l.contains_points(lat, lng).sum()) for l in layers)
    assert metrics["n_matches"] == expect
    # resume after completion is a no-op
    again = run_pipeline(spark, layers, n_images=600, out_dir=out, buckets=4, images=images)
    assert again["write"]["written"] == []


def test_streaming_encode_plan(spark, tmp_path):
    """Drive the streaming tile rollup with a file source micro-batch."""
    import pandas as pd

    from s2_geometry_library_java_spark.streaming import streaming_tile_counts

    src = str(tmp_path / "stream_src")
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(np.arange(100), unit="s", origin="2026-01-01"),
            "key": np.arange(100, dtype=np.int64),
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, key long").parquet(src)
    agg = streaming_tile_counts(stream, tile_level=2, window="60 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("tile_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from tile_counts").collect()
    assert sum(r["n"] for r in out) == 100
    # tile ids must be valid level-2 parents of the geotag encode
    from s2_geometry_library_java_spark.kernel import cellid as ck

    tiles = np.array([r["tile_id"] for r in out], dtype=np.int64).view(np.uint64)
    assert (ck.level(tiles) == 2).all()


def test_short_and_long_decoder_returns_pad_and_crop(monkeypatch):
    """Codec seam robustness (ADVICE r3): a real decoder may return FEWER
    pixels than w*h*3 (truncated file) or more (padded rows) — the stats
    batch must pad with zeros / crop instead of raising a ragged-stack
    ValueError.  Pure-pandas unit test on image_stats_pandas, the exact
    function the Spark operator and the driver-side golden oracle share."""
    import pandas as pd

    from s2_geometry_library_java_spark.operators import images as im

    n, w, h = 6, 4, 3
    k = w * h * 3
    base = im._source_pixels_batch(np.arange(n, dtype=np.int64), k)

    def fake_decode(data, ww, hh, fmt):
        i = int(data[:8].decode())
        if i == 2:
            return base[i][: k - 7]  # short: truncated decode
        if i == 4:
            return np.concatenate([base[i], np.zeros(5, np.uint8)])  # long
        return base[i]

    monkeypatch.setattr(im, "decode_pixels", fake_decode)
    pdf = pd.DataFrame(
        {
            "image_id": [f"img{i}" for i in range(n)],
            "bytes": [f"{i:08d}".encode() for i in range(n)],
            "w": w,
            "h": h,
            "fmt": "raw",
            "caption": [f"c{i}" for i in range(n)],
        }
    )
    out = im.image_stats_pandas(pdf)
    assert len(out) == n and list(out["image_id"]) == list(pdf["image_id"])
    # exact rows decode exactly: infinite PSNR sentinel
    assert all(out["psnr"][i] == 999.0 for i in (0, 1, 3, 5))
    # the short row was zero-padded: finite PSNR, still a valid stats row
    assert np.isfinite(out["psnr"][2]) and out["psnr"][2] < 999.0
    # the long row was cropped back to k: exact again
    assert out["psnr"][4] == 999.0
