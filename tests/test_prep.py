"""Training-prep operators: deterministic sampling/splits and token-budget
sharding — value correctness vs scalar recomputes plus the plan shapes the
scale story depends on (no rand(), no shuffle for splits; no global
single-partition window for sharding)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.prep import (
    HASH_MOD,
    KNUTH,
    MIX_ADD,
    assign_splits,
    deterministic_sample,
    shard_by_token_budget,
    split_thresholds,
)

WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_splits_deterministic_and_exact(docs):
    rows = assign_splits(docs, WEIGHTS, "doc_id").select("doc_id", "split").collect()
    bounds = split_thresholds(WEIGHTS)
    for r in rows:
        h = (r["doc_id"] * KNUTH) % HASH_MOD
        want = next(label for label, hi in bounds if h < hi)
        assert r["split"] == want
    # all labels present and ratios in the right ballpark on 500 docs
    counts = {s: 0 for s in WEIGHTS}
    for r in rows:
        counts[r["split"]] += 1
    n = len(rows)
    assert counts["train"] / n == pytest.approx(0.8, abs=0.08)
    assert counts["val"] / n == pytest.approx(0.1, abs=0.06)


def test_sample_reproducible_and_salt_independent(docs):
    a1 = {r["doc_id"] for r in deterministic_sample(docs, 0.3, "doc_id", salt=1).select("doc_id").collect()}
    a2 = {r["doc_id"] for r in deterministic_sample(docs, 0.3, "doc_id", salt=1).select("doc_id").collect()}
    b = {r["doc_id"] for r in deterministic_sample(docs, 0.3, "doc_id", salt=2).select("doc_id").collect()}
    assert a1 == a2  # rerun-stable
    assert a1 != b  # different salts draw different samples
    n = docs.count()
    assert len(a1) == pytest.approx(0.3 * n, rel=0.25)


def test_split_plan_is_stateless_projection(docs):
    plan = assign_splits(docs, WEIGHTS, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle
    assert "rand" not in plan.lower()  # deterministic
    assert "EvalPython" not in plan  # all native


def test_shard_matches_scalar_recompute(docs):
    budget, n_buckets = 2000, 16
    got = {
        r["doc_id"]: (r["bucket"], r["n_tokens"], r["shard"])
        for r in shard_by_token_budget(docs, budget, n_buckets=n_buckets).collect()
    }
    pdf = docs.select("doc_id", "text").toPandas()
    toks = pdf["text"].str.split(" ").str.len().to_numpy(dtype=np.int64)
    keys = pdf["doc_id"].to_numpy(dtype=np.int64)
    buckets = ((keys * KNUTH + MIX_ADD) % HASH_MOD) % n_buckets
    order = np.lexsort((keys, buckets))
    cum = 0
    for i in order:
        k = int(keys[i])
        assert got[k][0] == buckets[i]
        assert got[k][1] == toks[i]
        assert got[k][2] == cum // budget, k
        cum += int(toks[i])
    # shards are contiguous token ranges: every shard except the last holds
    # >= budget - max_doc_tokens and the count is ceil(total/budget)-ish
    n_shards = len({v[2] for v in got.values()})
    assert n_shards == (cum + budget - 1) // budget or n_shards == cum // budget + 1


def test_shard_plan_has_no_global_window(docs):
    plan = (
        shard_by_token_budget(docs, 2000, n_buckets=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # per-bucket windows: the Window node partitions by bucket, never a
    # single-partition global sort (Exchange SinglePartition)
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert plan.count("BroadcastExchange") >= 1  # the offsets table join


def test_slice_ids_exact_past_2_53(spark):
    """Token offsets past 2^53 (a 100 TB stream) must land on the exact
    slice: integer DIV on the Spark side, integer ``//`` in the DuckDB
    twins.  A double division rounds these offsets and is off by one."""
    import duckdb

    from s2_geometry_library_java_spark.operators.prep import _slice_id

    offsets = [0, 2047, 2048, 2**53 + 1, 2**53 + 2047, 3 * 2**53 - 1, 2**62 + 2049]
    sizes = [3, 2048]
    df = spark.createDataFrame([(o,) for o in offsets], "_o long")
    for c in sizes:
        got = [r[0] for r in df.select(_slice_id(F.col("_o"), c)).collect()]
        assert got == [o // c for o in offsets]
        assert dict(df.select(_slice_id(F.col("_o"), c).alias("s")).dtypes)["s"] == "bigint"
        twin = duckdb.sql(
            f"SELECT CAST(o // {c} AS BIGINT) FROM unnest({offsets}::BIGINT[]) t(o)"
        ).fetchall()
        assert [r[0] for r in twin] == [o // c for o in offsets]
    # the old double form really is wrong on these offsets
    assert any(int(float(o) / 3) != o // 3 for o in offsets)
