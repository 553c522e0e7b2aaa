"""perfbench: one closed-loop workload of polars_st_spark, end to end and per layer.

    python3 perfbench/run.py --workload scalar_mix --seed 1 --seconds 24 --trace 0

Run from the root of a checkout; the package is imported from that checkout
and shipped to the Spark workers from it. One client (this Spark driver) issues
the workload's queries one after another on ``local[<cores>]`` with as many
shuffle partitions as cores. The run measures three set-ups and reports
their median: SparkContext start (the first also launches the JVM), package
shipped, inputs cached, and one warm-up query that starts every Python
worker and imports the library in it. After the last set-up, one untimed
warm pass runs every query once (its time is recorded as warm_pass_s, not
gated); then the timed passes run all the workload's queries in order.
``--seconds`` sets the number of timed passes, round(seconds / 8), at
least one. Every query's output is checked against the generator's
closed-form expectation. ``--trace 1`` alternates untraced and traced
passes and reports the per-layer metrics instead of the end-to-end ones.

Human-readable lines go to stdout; the last line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. A full record (samples,
probes, spans) is written under .perfbench/reports/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
# nominal length of one timed pass on the reference host (6-9 s for both
# workloads); --seconds is turned into a fixed number of passes with it
PASS_SECONDS = 8.0

JOIN_QUERIES = ("union_small", "union_hot", "filter_pairs", "sjoin_within",
                "intersection_all", "nearest", "union_overlay")

END_TO_END_UNITS = {"setup_s": "s", "rows_per_s": "1/s", "query_p50_s": "s",
                    "worker_peak_rss_mb": "MB"}


def per_layer_units() -> dict:
    u = {"functions.python_nodes": "count", "functions.python_time_s": "s",
         "functions.python_init_s": "s", "functions.bytes_sent": "B",
         "functions.bytes_received": "B", "functions.rows_received": "count"}
    u["geo.decode_s_per_mrow"] = "s/Mrow"
    for k in ("area", "pairs_intersect", "simplify", "convex_hull",
              "clip_poly_poly", "buffer_lines"):
        u[f"geo.kernel_s_per_mrow.{k}"] = "s/Mrow"
    u["geo.encode_s_per_mrow"] = "s/Mrow"
    u["geo.wkt_parse_s_per_mrow"] = "s/Mrow"
    for q in JOIN_QUERIES:
        u[f"operators.{q}.wall_s"] = "s"
    u["operators.union.two_phase_picks"] = "count"
    u.update({"engine.shuffle_bytes": "B", "engine.jobs": "count",
              "engine.stages": "count", "engine.tasks": "count", "engine.gc_ms": "ms"})
    u.update({"sources.write_s": "s", "sources.read_s": "s",
              "sources.bytes_written": "B/row", "sources.rows_scanned": "count",
              "sources.rows_returned": "count"})
    u.update({"host.membw_gbs": "GB/s", "host.fault_us": "us",
              "bench.query_p90_s": "s", "bench.trace_overhead_frac": "frac"})
    return u


def typical_rate(walls) -> float:
    """Rows per second of a typical pass: the workload's input rows over
    the sum, across query types, of each type's median wall time."""
    by_query = {}
    for name, wall, rows in walls:
        by_query.setdefault(name, ([], rows))[0].append(wall)
    return (sum(rows for _, rows in by_query.values())
            / sum(statistics.median(ws) for ws, _ in by_query.values()))


def percentile(values, q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Runner:
    def __init__(self, args, workload, work: str):
        from perfbench import spans, spark_env

        self.args = args
        self.wl = workload
        self.trace = bool(args.trace)
        self.tr = spans.Tracer(self.trace, f"{workload.name}-{args.seed}")
        self.off = spans.Tracer(False, "")
        self.cores = spark_env.host_cores()
        self.driver_mem_mb = min(2048, spark_env.physical_mb() // 4)
        self.env = spark_env.SparkEnv(ROOT, work, self.cores, self.driver_mem_mb)
        self.attempted = 0
        self.failed = []
        self.setups = []
        self.walls = {False: [], True: []}       # traced? -> [(query, wall, rows)]
        self.pass_layers = []                    # per traced pass
        self.probes = []
        self.rss_peak_kb = 0

    # -- one query / one pass ---------------------------------------------

    def _query(self, q, tr, pass_layer, check_output: bool = True):
        from perfbench import spark_env

        sc = self.env.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        df, ok = None, False
        with tr.span("query", query=q.name, rows=q.rows):
            t0 = time.perf_counter()
            try:
                df, check = q.run(tr)
            except Exception:
                # a query that raises is a failed query, not a failed run
                traceback.print_exc()
                check = None
            wall = time.perf_counter() - t0
        if pass_layer is not None and df is not None:
            c = spark_env.plan_counters(spark_env.walk_plan(df))
            for k, v in c.items():
                pass_layer[k] = pass_layer.get(k, 0) + v
        if not check_output:
            return wall
        if check is not None:
            sc.setJobGroup("check", "output checks")
            try:
                ok = check()
            except Exception:
                traceback.print_exc()
            finally:
                sc.setJobGroup(group or "pass", "pass")
        self.attempted += 1
        if not ok:
            self.failed.append(q.name)
        return wall

    def _pass(self, queries, ctx, traced: bool, label: str):
        from perfbench import spark_env

        spark = self.env.spark
        tr = self.tr if traced else self.off
        layer = None
        t_start = time.perf_counter()
        if traced:
            layer = {"walls": {}}
            spark.sparkContext.setJobGroup(label, "pass")
            gc0 = spark_env.gc_ms(spark)
            ctx.union_picks.clear()
            ctx.bytes_written.clear()
        with tr.span("pass", label=label):
            for q in queries:
                wall = self._query(q, tr, layer)
                self.walls[traced].append((q.name, wall, q.rows))
                if traced:
                    layer["walls"][q.name] = wall
        if traced:
            layer["gc_ms"] = spark_env.gc_ms(spark) - gc0
            layer.update(spark_env.job_counts(spark.sparkContext, label))
            layer["two_phase_picks"] = ctx.union_picks.count("two_phase")
            layer["bytes_written"] = sum(ctx.bytes_written)
            layer["rows_returned"] = ctx.rows_returned[-1] if ctx.rows_returned else 0
            for kind in ("write", "read"):
                layer[f"{kind}_s"] = sum(s["end"] - s["start"] for s in self.tr.spans
                                         if s["name"] == f"source_{kind}" and s["start"] >= t_start)
            probe = spark_env.host_probe()
            self.probes.append(probe)
            layer["probe"] = probe
            self.pass_layers.append(layer)

    # -- the run ------------------------------------------------------------

    def _timed(self, queries, ctx, jvm: int) -> None:
        """Closed loop of round(--seconds / PASS_SECONDS) whole passes, at
        least one, so every run of a workload has the same sample count.
        With tracing, passes alternate untraced and traced (at least one
        of each)."""
        from perfbench import spark_env

        n = max(2 if self.trace else 1, round(self.args.seconds / PASS_SECONDS))
        with spark_env.RssSampler(jvm) as rss, self.tr.span("timed"):
            for k in range(n):
                traced = self.trace and k % 2 == 1
                self._pass(queries, ctx, traced, f"{'t' if traced else 'u'}{k}")
        self.rss_peak_kb = rss.peak_kb

    def run(self) -> dict:
        from perfbench import spark_env
        from perfbench.workloads import RunContext

        self.probes.append(spark_env.host_probe())
        data = self.wl.generate(self.args.seed, self.cores)
        with self.tr.span("run", workload=self.wl.name, seed=self.args.seed):
            for b in range(SETUPS):
                if b:
                    for df in inputs.values():
                        df.unpersist()
                with self.tr.span("setup", setup=b):
                    t0 = time.perf_counter()
                    if b == 0:
                        spark = self.env.start()
                        self.jvm_start_s = time.perf_counter() - t0
                    else:
                        spark = self.env.restart()
                    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                                   str(self.wl.batch))
                    inputs = self.wl.load(spark, data, self.cores)
                    spark.sparkContext.setJobGroup("setup", "worker warm-up")
                    self.wl.warmup(inputs, self.cores).collect()
                    self.setups.append(time.perf_counter() - t0)
            ctx = RunContext(spark, self.env.tmp)
            queries = self.wl.queries(inputs, data, ctx)
            self.source_rows = ctx.source_rows
            with self.tr.span("warm_pass"):
                t0 = time.perf_counter()
                spark.sparkContext.setJobGroup("warm", "warm pass")
                for q in queries:
                    self._query(q, self.off, None, check_output=False)
                self.warm_pass_s = time.perf_counter() - t0
            self._timed(queries, ctx, self.env.jvm_pid())
            ctx.reset()
        self.probes.append(spark_env.host_probe())
        geo = {}
        if self.trace:
            from perfbench import geo_probe

            own = self.wl.name == "scalar_mix"
            geo = geo_probe.measure(
                self.args.seed, 2000, self.tr,
                mix=data.mix.table if own else None,
                text=data.ingest.table["wkt"] if own else None)
        return geo

    # -- metrics ------------------------------------------------------------

    def end_to_end(self) -> dict:
        walls = [w for _, w, _ in self.walls[False]]
        return {
            "setup_s": statistics.median(self.setups),
            "rows_per_s": typical_rate(self.walls[False]),
            "query_p50_s": percentile(walls, 0.5),
            "worker_peak_rss_mb": self.rss_peak_kb / 1024.0,
        }

    def query_p90_s(self) -> float:
        """Printed with every run and reported as a per-layer witness only:
        a run holds too few query executions for ten beyond p90."""
        return percentile([w for _, w, _ in self.walls[False]], 0.9)

    def per_layer(self, geo: dict) -> dict:
        L = self.pass_layers
        med = lambda key: statistics.median(p.get(key, 0) for p in L)  # noqa: E731
        m = {
            "functions.python_nodes": med("python_nodes"),
            "functions.python_time_s": med("python_time_ms") / 1000.0,
            "functions.python_init_s": med("python_init_ms") / 1000.0,
            "functions.bytes_sent": med("bytes_sent"),
            "functions.bytes_received": med("bytes_received"),
            "functions.rows_received": med("rows_received"),
        }
        m.update(geo)
        for q in JOIN_QUERIES:
            ws = [p["walls"][q] for p in L if q in p["walls"]]
            m[f"operators.{q}.wall_s"] = statistics.median(ws) if ws else 0.0
        m["operators.union.two_phase_picks"] = med("two_phase_picks")
        m.update({
            "engine.shuffle_bytes": med("shuffle_bytes"),
            "engine.jobs": med("jobs"), "engine.stages": med("stages"),
            "engine.tasks": med("tasks"), "engine.gc_ms": med("gc_ms"),
            "sources.write_s": med("write_s"), "sources.read_s": med("read_s"),
            "sources.bytes_written": med("bytes_written") / max(1, self.source_rows),
            "sources.rows_scanned": med("scan_rows"),
            "sources.rows_returned": med("rows_returned"),
            "host.membw_gbs": statistics.median(p["probe"]["membw_gbs"] for p in L),
            "host.fault_us": statistics.median(p["probe"]["fault_us"] for p in L),
        })
        m["bench.query_p90_s"] = self.query_p90_s()
        m["bench.trace_overhead_frac"] = (
            1.0 - typical_rate(self.walls[True]) / typical_rate(self.walls[False]))
        return m


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "polars_st_spark", "__init__.py")):
        print(f"perfbench: no polars_st_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    import polars_st_spark

    if not os.path.abspath(polars_st_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: polars_st_spark was not imported from the checkout", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    runner = Runner(args, wl, work)
    try:
        geo = runner.run()
    finally:
        runner.env.close()
        shutil.rmtree(work, ignore_errors=True)

    e2e = runner.end_to_end()
    layers = runner.per_layer(geo) if runner.trace else {}
    degraded = [p for p in runner.probes if p["degraded"]]
    n_walls = len(runner.walls[False])
    print(f"workload {wl.name} seed {args.seed} cores {runner.cores} "
          f"driver_mem {runner.driver_mem_mb}MB sizes {json.dumps(wl.sizes)}")
    print(f"samples: {n_walls} timed query executions, set-ups "
          f"{[round(x, 3) for x in runner.setups]} s (the first launches the JVM: "
          f"{runner.jvm_start_s:.3f} s), warm_pass {runner.warm_pass_s:.3f} s")
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {END_TO_END_UNITS[k]}")
    print(f"query_p90_s {runner.query_p90_s():.6g} s (over {n_walls} executions, "
          f"{n_walls - 1 - int(0.9 * (n_walls - 1))} beyond it)")
    print(f"failed_frac {len(runner.failed) / runner.attempted:.6g} frac "
          f"({len(runner.failed)}/{runner.attempted}) {sorted(set(runner.failed))}")
    units = per_layer_units()
    for k, v in layers.items():
        print(f"{k} {v:.6g} {units[k]}")
    print("host probes (fault_us, membw_gbs): " + ", ".join(
        f"({p['fault_us']:.3g}, {p['membw_gbs']:.3g})" for p in runner.probes))
    if degraded:
        print(f"DEGRADED host window: {len(degraded)} of {len(runner.probes)} probes "
              f"(fault_us >= 8 or membw_gbs < 3): {degraded}")

    os.makedirs(os.path.join(base, "reports"), exist_ok=True)
    rep = os.path.join(base, "reports", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(rep, "w") as f:
        json.dump({"workload": wl.name, "seed": args.seed, "sizes": wl.sizes,
                   "cores": runner.cores, "setups_s": runner.setups,
                   "jvm_start_s": runner.jvm_start_s, "warm_pass_s": runner.warm_pass_s,
                   "walls": runner.walls,
                   "failed": runner.failed, "attempted": runner.attempted,
                   "probes": runner.probes, "degraded": bool(degraded),
                   "end_to_end": e2e, "per_layer": layers,
                   "passes": runner.pass_layers}, f, indent=1, default=str)
    if runner.trace:
        runner.tr.dump(rep.replace(".json", ".spans.json"))

    chosen = layers if runner.trace else e2e
    unit = units if runner.trace else END_TO_END_UNITS
    print(json.dumps({
        "correct": not runner.failed,
        "attempted": runner.attempted,
        "failed": len(runner.failed),
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
