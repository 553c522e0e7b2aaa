"""perfbench: the layer-by-layer benchmark of polars_st_spark (see README.md)."""
