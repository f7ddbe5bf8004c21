"""Engine operators: covering tables, the spatial assign/refine join, tiling,
kNN, dedup, similarity search, text analysis, and multimodal plumbing."""

from s2_geometry_library_java_spark.operators.layers import (
    Layer,
    rect_layer,
    cap_layer,
    loop_layer,
    polygon_layer,
)
from s2_geometry_library_java_spark.operators.covering import covering_rows, covering_df
from s2_geometry_library_java_spark.operators.pip_join import pip_join, refine_candidates
from s2_geometry_library_java_spark.operators.tiling import assign_tiles, tile_manifest, run_tiled_write
from s2_geometry_library_java_spark.operators.knn import knn_join

__all__ = [
    "Layer",
    "rect_layer",
    "cap_layer",
    "loop_layer",
    "polygon_layer",
    "covering_rows",
    "covering_df",
    "pip_join",
    "refine_candidates",
    "assign_tiles",
    "tile_manifest",
    "run_tiled_write",
    "knn_join",
]
