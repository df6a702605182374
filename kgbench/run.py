#!/usr/bin/env python3
"""KG benchmark: one workload, back-to-back iterations, one client.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark session at
``local[N]`` with N = min(4, usable CPUs). Set-up stages seeded inputs as
parquet and builds any prior state. Iterations then run back to back, at
least one, until ``--seconds`` have passed (a closed loop with one client);
``job_s`` is their median. The first iteration runs in the session set-up
left behind, so it includes the JIT and code-generation cost of the
workload's own plans. Outputs are checked after the loop, untimed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on Spark's
uncompressed event log, runs one untimed iteration, then alternates traced
and untraced iterations, and prints the per-layer metrics: spans opened
here around each call into a layer, rolled up against the jobs each span
started. Earlier stdout lines
carry the input shape, a CPU-burn probe of the host, the failure share and
the raw samples; the last line is the result object.
"""

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s", "job_s": "s", "triples_per_s": "triples/s", "peak_rss_mb": "MB",
}
LAYERS = [
    "session", "pages.extract", "pages.detect", "link", "tfidf.index_build",
    "recrawl.detect", "recrawl.map", "recrawl.merge", "release.label_delta",
    "release.remap", "sink.write", "graph.kg_diff", "graph.pagerank",
    "graph.cooccur", "graph.closure", "dedup.neardup",
]
COUNTERS = {
    "self_s": "s", "driver_s": "s", "cpu_s": "s", "shuffle_bytes": "bytes",
    "spill_bytes": "bytes", "peak_mem_bytes": "bytes",
}
JOB_LAYERS = ["graph.kg_diff", "graph.pagerank", "graph.cooccur", "graph.closure",
              "dedup.neardup"]
EXTRA = {
    "pages.extract.python_s": "s", "pages.rows": "count", "pages.mentions": "count",
    "link.kernel_python_s": "s", "link.distinct_ratio": "ratio", "link.triples": "count",
    "tfidf.index_bytes": "bytes", "recrawl.changed_frac": "ratio",
    "release.affected_frac": "ratio", "release.plan_incremental": "flag",
    "sink.bytes_per_triple": "bytes/triple",
    **{f"{layer}.jobs": "count" for layer in JOB_LAYERS},
    "spark.persisted_rdds_after": "count", "unattributed_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s",
    "maintain.recrawl_s": "s", "maintain.release_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTERS.items()}
    units.update(EXTRA)
    return units


class Ops:
    """Operations attempted and failed; a failed output check counts as a
    failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name, result):
        ok, detail = result
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")

    def run_all(self, named_fns):
        """Run independent checks side by side (their Spark jobs share the
        session's cores) and record each result."""
        from concurrent.futures import ThreadPoolExecutor

        def guarded(fn):
            try:
                return fn()
            except Exception as e:  # counted, reported, and the run goes on
                traceback.print_exc()
                return False, f"raised {type(e).__name__}: {e}"

        with ThreadPoolExecutor(len(named_fns)) as pool:
            results = list(pool.map(guarded, [fn for _, fn in named_fns]))
        for (name, _), result in zip(named_fns, results):
            self.check(name, result)


class Ctx:
    def __init__(self, spark, tracer, run_dir, seed):
        self.spark, self.tracer, self.run_dir, self.seed = spark, tracer, run_dir, seed
        self.ops = Ops()


def cpu_burn(seconds: float = 0.5) -> int:
    """Loop iterations one Python process completes per second: host
    context, printed beside the metrics, not a metric itself."""
    t0, x = time.perf_counter(), 0
    while time.perf_counter() - t0 < seconds:
        x += 1
    return int(x / seconds)


def configure_env(run_dir: str, prestart: bool) -> dict:
    """Environment and Spark settings that keep every file the run writes
    inside ``run_dir`` and size the driver for this benchmark."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # a 1 GiB heap fills early in every run, so peak RSS does not swing with
    # when the JVM happens to grow its heap
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_PRESTART"] = "1" if prestart else "0"
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_iteration(wl, ctx, traced: bool, it_id: int) -> tuple[float, int, dict, bool]:
    """One iteration; returns (wall seconds, persisted RDDs left behind,
    leg times, ok). Everything after the iteration's own calls is untimed."""
    from ontology_mapper_spark.pipeline import release_pipeline_cache

    tracer = ctx.tracer
    tracer.enabled, tracer.iteration = traced, it_id
    ok, legs = True, {}
    t0 = time.perf_counter()
    with tracer.span("iteration"):
        try:
            legs = wl.iteration(traced) or {}
        except Exception:
            traceback.print_exc()
            ok = False
    wall = time.perf_counter() - t0
    tracer.enabled = False
    ctx.ops.attempted += wl.ops_per_iteration
    if not ok:
        ctx.ops.failed += wl.ops_per_iteration
        ctx.ops.failures.append(f"iteration {it_id} raised")
    wl.release_pinned()
    persisted = len(ctx.spark.sparkContext._jsc.getPersistentRDDs())
    release_pipeline_cache(ctx.spark)
    if ok:
        try:
            wl.after()
        except Exception:
            traceback.print_exc()
            ctx.ops.failed += 1
            ctx.ops.failures.append(f"reading back iteration {it_id} failed")
    return wall, persisted, legs, ok


def layer_metrics(tracer, rollup, traced_ids, untraced_walls, wl, shape, persisted):
    """Per-layer metrics: each counter is the mean over traced iterations
    of that iteration's sum (peak memory: max), so layer self times plus
    ``unattributed_s`` add up to ``trace.wall_s``. Layers only seen in
    set-up report their set-up span."""
    spans = tracer.spans
    n = max(1, len(traced_ids))
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["name"] == layer]
        in_iter = [s for s in mine if s["iter"] in traced_ids]
        chosen = in_iter or [s for s in mine if s["iter"] is None]
        div = n if in_iter else 1
        for c in COUNTERS:
            vals = [rollup[s["id"]][c] for s in chosen]
            if c == "peak_mem_bytes":
                per = {}
                for s, v in zip(chosen, vals):
                    per[s["iter"]] = max(per.get(s["iter"], 0), v)
                out[f"{layer}.{c}"] = sum(per.values()) / div
            else:
                out[f"{layer}.{c}"] = sum(vals) / div
        if layer in JOB_LAYERS:
            out[f"{layer}.jobs"] = sum(rollup[s["id"]]["jobs"] for s in chosen) / div
        if layer in ("pages.extract", "link"):
            key = "pages.extract.python_s" if layer == "pages.extract" else "link.kernel_python_s"
            out[key] = sum(rollup[s["id"]]["python_s"] for s in chosen) / div

    def count(name, key):
        vals = [s["counts"][key] for s in spans
                if s["name"] == name and s["iter"] in traced_ids and key in s["counts"]]
        return statistics.mean(vals) if vals else 0

    roots = [s for s in spans if s["name"] == "iteration" and s["iter"] in traced_ids]
    walls = [s["end"] - s["start"] for s in roots]
    trace_wall = statistics.mean(walls) if walls else 0.0
    affected = count("release.remap", "affected_frac")
    out.update({
        "pages.rows": count("pages.extract", "rows"),
        "pages.mentions": count("pages.detect", "mentions"),
        "link.distinct_ratio": shape.get("distinct_ratio", 0),
        "link.triples": count("link", "triples"),
        "tfidf.index_bytes": shape.get("index_bytes", 0),
        "recrawl.changed_frac": count("recrawl.detect", "changed_frac"),
        "release.affected_frac": affected,
        "release.plan_incremental": wl.plan_incremental(affected),
        "sink.bytes_per_triple": wl.bytes_per_triple(),
        "spark.persisted_rdds_after": max(persisted, default=0),
        "unattributed_s": statistics.mean(rollup[s["id"]]["self_s"] for s in roots)
        if roots else 0.0,
        "trace.wall_s": trace_wall,
        "trace.overhead_s": trace_wall - statistics.median(untraced_walls)
        if untraced_walls else 0.0,
    })
    return out


def iteration_breakdown(tracer, rollup, traced_ids):
    """For each traced iteration: wall, the layers' summed self time, and
    the unattributed rest; wall = layers + unattributed by construction."""
    rows = []
    for it in traced_ids:
        root = next(s for s in tracer.spans if s["name"] == "iteration" and s["iter"] == it)
        layers = sum(rollup[s["id"]]["self_s"] for s in tracer.spans
                     if s["iter"] == it and s["name"] != "iteration")
        un = rollup[root["id"]]["self_s"]
        rows.append({"iter": it, "wall_s": root["end"] - root["start"],
                     "layers_self_s": layers, "unattributed_s": un})
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from kgbench import spans
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    base = os.path.join(ROOT, ".kgbench_run")
    run_dir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    conf = configure_env(run_dir, wl_cls.prestart)
    if args.trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from ontology_mapper_spark.session import get_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    tracer = spans.Tracer(enabled=bool(args.trace))
    try:
        with tracer.span("session"):
            spark = get_spark(f"kgbench-{args.workload}", cores=cores,
                              shuffle_partitions=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        ctx = Ctx(spark, tracer, run_dir, args.seed)
        wl = wl_cls(ctx)
        try:
            wl.setup()
            setup_s = time.time() - T0
            phases = {"setup": setup_s}
            walls, traced_ids, persisted, legs = [], [], [], []
            if args.trace:
                # traced iterations are compared with warm untraced ones
                run_iteration(wl, ctx, False, -1)
            start, it = time.perf_counter(), 0
            while True:
                traced = bool(args.trace) and it % 2 == 0
                wall, n_persisted, leg, ok = run_iteration(wl, ctx, traced, it)
                persisted.append(n_persisted)
                if traced:
                    traced_ids.append(it)
                elif ok:
                    walls.append(wall)
                    legs.append(leg)
                it += 1
                if time.perf_counter() - start >= args.seconds and (walls or it >= 3):
                    break
            phases["loop"] = time.time() - T0
            rss = spans.peak_rss_mb()
            wl.checks()
            phases["checks"] = time.time() - T0
            shape = wl.shape()
            triples = wl.written_triples()
            phases["shape"] = time.time() - T0
        finally:
            stop_spark(spark)
        phases["stop"] = time.time() - T0
        tracer.dump(os.path.join(base, "spans", f"{args.workload}-seed{args.seed}.jsonl"))

        job_s = statistics.median(walls)
        detail = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "shape": shape,
            "host": {"cpu_burn_per_s": cpu_burn(), "nproc": os.cpu_count()},
            "ops_failed_frac": ctx.ops.failed / max(1, ctx.ops.attempted),
            "failures": ctx.ops.failures,
            "job_s_samples": walls,
            "phases_s": phases,
            "legs_s": {k: statistics.median(leg[k] for leg in legs) for k in legs[0]}
            if legs and legs[0] else {},
        }
        if args.trace:
            log = spans.find_event_log(os.path.join(run_dir, "eventlog"))
            roll = spans.rollup(tracer.spans, spans.read_event_log(log))
            values = layer_metrics(tracer, roll, traced_ids, walls, wl, shape, persisted)
            values["maintain.recrawl_s"] = detail["legs_s"].get("recrawl_s", 0.0)
            values["maintain.release_s"] = detail["legs_s"].get("release_s", 0.0)
            detail["trace_iterations"] = iteration_breakdown(tracer, roll, traced_ids)
            units = per_layer_units()
        else:
            values = {
                "setup_s": setup_s, "job_s": job_s,
                "triples_per_s": triples / job_s, "peak_rss_mb": rss,
            }
            units = END_TO_END
        print(json.dumps(detail))
        print(json.dumps({
            "correct": ctx.ops.failed == 0,
            "attempted": ctx.ops.attempted,
            "failed": ctx.ops.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.path[0] = ROOT  # import kgbench as a package, and the library beside it
    sys.exit(main())
