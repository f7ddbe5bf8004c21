"""Zero-row Arrow batches.  Spark can hand a pandas UDF an empty batch (a
filtered-out partition, an empty file split); every vector and stab UDF
body, called directly through ``udf.func`` the way Spark's own tests
check UDF bodies, must return an empty result of the right shape instead
of raising."""

import importlib

import pandas as pd
import pytest

from s2_geometry_library_java_spark.operators import ann
from s2_geometry_library_java_spark.operators.layers import loop_layer, polygon_layer, rect_layer
from s2_geometry_library_java_spark.sources.tables import geotagged_points, load_table

# the package re-exports the pip_join function under the module's name
pj = importlib.import_module("s2_geometry_library_java_spark.operators.pip_join")


def _record_udfs(monkeypatch, module) -> dict:
    """Capture the pandas UDFs an operator builds, keyed by function name."""
    made = {}
    real = module.pandas_udf

    def recording(*args, **kwargs):
        deco = real(*args, **kwargs)

        def wrap(f):
            made[f.__name__] = udf = deco(f)
            return udf

        return wrap

    monkeypatch.setattr(module, "pandas_udf", recording)
    return made


def _empty(dtype=object) -> pd.Series:
    return pd.Series([], dtype=dtype)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


# (operator call, UDF name, argument dtypes of the UDF body)
ANN_CASES = [
    (lambda e: ann.with_lsh_buckets(e, 64), "lsh_sig", [object]),
    (lambda e: ann.ivf_cosine_topk(e), "assign_cell", [object]),
    (lambda e: ann.ivf_cosine_topk(e), "probe_cells", [object]),
    (lambda e: ann.embedding_neardup(e), "assign", [object]),
    (lambda e: ann.pq_encode(e, ann.pq_train_codebooks(e)), "encode", [object]),
    (lambda e: ann.pq_cosine_topk(e), "adc", [object]),
    (lambda e: ann.ivfpq_cosine_topk(e), "assign_cell", [object]),
    (lambda e: ann.ivfpq_cosine_topk(e), "adc_pair", [object, "int64"]),
]


@pytest.mark.parametrize(
    "op,name,dtypes",
    ANN_CASES,
    ids=["lsh_sig", "ivf_assign_cell", "ivf_probe_cells", "neardup_assign", "pq_encode",
         "pq_adc", "ivfpq_assign_cell", "ivfpq_adc_pair"],
)
def test_ann_udf_accepts_empty_batch(monkeypatch, emb, op, name, dtypes):
    made = _record_udfs(monkeypatch, ann)
    op(emb)
    out = made[name].func(*[_empty(d) for d in dtypes])
    assert len(out) == 0
    if name == "assign":
        assert list(out.columns) == ["block", "ang"]


def test_stack_rows_shapes():
    assert ann._stack_rows(_empty(), 64).shape == (0, 64)
    rows = pd.Series([[1.0, 2.0], [3.0, 4.0]])
    assert ann._stack_rows(rows, 2).tolist() == [[1.0, 2.0], [3.0, 4.0]]


@pytest.mark.parametrize(
    "layers,columns",
    [
        ([rect_layer("r", 0.0, 0.0, 10.0, 10.0)], ["seg"]),
        (
            [rect_layer("r", 0.0, 0.0, 10.0, 10.0), loop_layer("l", "0:0, 0:40, 35:20"),
             polygon_layer("p", "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35")],
            ["seg", "m0"],
        ),
    ],
    ids=["no_mask", "mask"],
)
@pytest.mark.parametrize("encoded", [False, True], ids=["cell_seg", "seg_of"])
def test_stab_udf_accepts_empty_batch(monkeypatch, spark, sf_dir, layers, columns, encoded):
    pts = geotagged_points(spark, sf_dir)
    if encoded:
        pts = pj.with_cell_id(pts)
    made = _record_udfs(monkeypatch, pj)
    pj.pip_join(pts, layers, strategy="stab")
    if encoded:
        latlng = [_empty("float64")] * 2 if "m0" in columns else []
        out = made["seg_of"].func(_empty("int64"), *latlng)
    else:
        out = made["cell_seg"].func(_empty("float64"), _empty("float64"))
        columns = ["cell"] + columns
    assert len(out) == 0
    assert list(out.columns) == columns
