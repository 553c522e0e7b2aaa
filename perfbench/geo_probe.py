"""Driver-side timings of the public numpy kernels in ``polars_st_spark.geo``.

Each kernel runs on one Arrow batch of ``batch`` rows of one kind
(rectangles, holed n-gons, lines, with their pair columns) cut from a
scalar_mix table — the workload's own column when the workload is
scalar_mix, otherwise one generated for the run's seed — and the WKT parser
on ``batch`` rows of the WKT column of the ingest cycle. The line buffer
kernel, by far the slowest per row, gets a quarter batch. The reported
figure is seconds per million rows, the median over ``reps`` calls.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from polars_st_spark.geo import arrowwkb, bufferrows, ragged, shclip, wkt

from perfbench import gen


def _per_mrow(fn, rows: int, reps: int, tr, name: str) -> float:
    ts = []
    for _ in range(reps):
        with tr.span("geo_kernel", layer="geo", kernel=name, rows=rows):
            t0 = time.perf_counter()
            out = fn()
            ts.append(time.perf_counter() - t0)
        if out is None:
            raise RuntimeError(f"geo kernel {name} declined its batch")
    return statistics.median(ts) / rows * 1e6


def _block(table, kind: int, batch: int):
    """First ``batch`` rows of one kind, as Arrow columns."""
    k = np.asarray(table["kind"])
    idx = np.nonzero(k == kind)[0][:batch]
    return table.take(idx)


def measure(seed: int, batch: int, tr, mix=None, text=None, reps: int = 3) -> dict:
    if mix is None:
        mix = gen.scalar_mix(seed, partitions=1, batch=batch, rect_batches=1,
                             ngon_batches=1, line_batches=1, odd_rows=0).table
    if text is None:
        text = gen.ingest(seed, batch).table["wkt"]
    rects = _block(mix, gen.KIND_RECT, batch)
    ngons = _block(mix, gen.KIND_NGON, batch)
    lines = _block(mix, gen.KIND_LINE, batch)
    g = ngons["g"].combine_chunks()
    g2 = ngons["g2"].combine_chunks()
    g_vals = g.to_pylist()
    dia_vals = ngons["diamond"].to_pylist()
    line_vals = lines["g"].to_pylist()[:batch // 4]
    line_d = np.asarray(lines["d"])[:batch // 4]
    rect_g = rects["g"].combine_chunks()
    rp = ragged.parse_polygonal_pa(g)
    rp2 = ragged.parse_polygonal_pa(g2)
    n = len(g_vals)

    def decode():
        return ragged.parse_polygonal_pa(g), arrowwkb.uniform_batch_pa(rect_g)

    def encode():
        return ragged.encode_polygonal_rows(
            rp.n, np.full(rp.n, 3), rp.part_row, rp.ring_part,
            np.diff(rp.ring_start), rp.coords, rp.srid, rp.null_mask)

    out = {
        "geo.decode_s_per_mrow": _per_mrow(decode, n + len(rect_g), reps, tr, "decode"),
        "geo.kernel_s_per_mrow.area": _per_mrow(lambda: ragged.area(rp), n, reps, tr, "area"),
        "geo.kernel_s_per_mrow.pairs_intersect": _per_mrow(
            lambda: ragged.pairs_intersect(rp, rp2), n, reps, tr, "pairs_intersect"),
        "geo.kernel_s_per_mrow.simplify": _per_mrow(
            lambda: ragged.simplify_batch(g_vals, gen.SIMPLIFY_TOL), n, reps, tr, "simplify"),
        "geo.kernel_s_per_mrow.convex_hull": _per_mrow(
            lambda: ragged.convex_hull_batch(g_vals), n, reps, tr, "convex_hull"),
        "geo.kernel_s_per_mrow.clip_poly_poly": _per_mrow(
            lambda: shclip.clip_poly_poly_batch(g_vals, dia_vals, "in"), n, reps, tr,
            "clip_poly_poly"),
        "geo.kernel_s_per_mrow.buffer_lines": _per_mrow(
            lambda: bufferrows.buffer_lines_batch(line_vals, line_d, gen.QUAD_SEGS, "flat"),
            len(line_vals), reps, tr, "buffer_lines"),
        "geo.encode_s_per_mrow": _per_mrow(encode, n, reps, tr, "encode"),
    }
    text = text.to_pylist()[:batch]
    out["geo.wkt_parse_s_per_mrow"] = _per_mrow(
        lambda: [wkt.from_wkt(s) for s in text], len(text), reps, tr, "wkt_parse")
    return out
