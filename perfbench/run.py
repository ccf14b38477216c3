#!/usr/bin/env python3
"""Benchmark for geoarrow_rs_spark, run from the root of a source checkout:

    python3 perfbench/run.py --workload geoparquet_window --seed 1 --seconds 12 --trace 0

One process, one closed-loop client, Spark on ``local[k]`` with k = the
CPUs this process may use. Set-up starts the session, generates and loads
the seeded inputs (three times; the median counts) and runs one op of
every kind untimed. The timed pass then runs a fixed, seeded op list of
``--seconds`` x the workload's nominal op rate; each op's result is
checked against numpy outside its measured region. The gated metrics are
CPU seconds of the whole process tree, less the JVM's JIT compiler
threads (see README.md for why), and peak resident memory.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every op
of the same list untraced and traced, back to back, and prints the
per-layer metrics. The last line of stdout is one JSON object; details go
to stderr and to a sidecar under ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

sys.dont_write_bytecode = True  # keep bytecode caches out of the checkout

import gen  # noqa: E402
import microbench  # noqa: E402
import procmem  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

PREPARE_REPS = 3
BOOT_ROWS = 1000


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def start_spark(work, k):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.shuffle.partitions", str(k))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # no hsperfdata file outside the work directory; compiler threads
        # that never exit (see procmem.tree_cpu_s)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def stamp():
    """(wall s, CPU s less JIT, JIT CPU s) of this process tree now."""
    return (time.perf_counter(), *procmem.tree_cpu_s())


def since(t0):
    return tuple(b - a for a, b in zip(t0, stamp()))


def run_pass(spark, ops, tracer=None, first=0):
    """Run ops in order; returns per-op records. Only the op itself is
    measured; the check and all trace bookkeeping sit outside that region."""
    sc = spark.sparkContext
    recs = []
    for i, op in enumerate(ops, first):
        rec = {"i": i, "kind": op.kind, "size": float(op.size)}
        try:
            t0 = stamp()
            if tracer is None:
                rows = op.build().collect()
            else:
                with tracer.span("op", i):
                    tracing.set_group(sc, f"op{i}.build")
                    with tracer.span("build", i) as sb:
                        df = op.build()
                    tracing.set_group(sc, f"op{i}.plan")
                    with tracer.span("plan", i) as spl:
                        df._jdf.queryExecution().executedPlan()
                    tracing.set_group(sc, f"op{i}.action")
                    with tracer.span("action", i) as sa:
                        rows = df.collect()
                    tracing.clear_group(sc)
            rec["latency_s"], rec["cpu_s"], rec["jit_s"] = since(t0)
            if tracer is None:
                ok = op.check(rows)
            else:
                for key, sp in (("build_s", sb), ("plan_s", spl), ("action_s", sa)):
                    rec[key] = sp["end"] - sp["start"]
                rec["plan_metrics"] = tracing.plan_metrics(df, op.refine_udf)
                with tracer.span("check", i):
                    ok = op.check(rows)
            rec["ok"] = bool(ok)
        except Exception as exc:  # an op that raises counts as failed
            rec.setdefault("latency_s", float("nan"))
            rec.setdefault("cpu_s", float("nan"))
            rec.setdefault("jit_s", float("nan"))
            rec["ok"] = False
            rec["error"] = repr(exc)[:500]
            if tracer is not None:
                tracing.clear_group(sc)
        rec.update(op.layer)
        if not rec["ok"]:
            log(f"op {i} ({op.kind}, size {op.size:.4g}) FAILED {rec.get('error', 'wrong answer')}")
        recs.append(rec)
    return recs


def hd_median(xs):
    """Harrell-Davis estimate of the median: every order statistic weighted
    by the Beta((n+1)/2, (n+1)/2) mass over its rank interval. Op costs
    cluster by kind, and the plain median of ~15 ops jumps across the gap
    between two clusters; this estimate moves smoothly instead."""
    xs = np.sort(xs)
    n = len(xs)
    t = np.linspace(0.0, 1.0, 4001)
    pdf = (t * (1.0 - t)) ** ((n - 1) / 2)
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(w @ xs)


def ranks(recs, key):
    """Median of one per-op measure and the op kinds sitting at the middle
    rank. A rank whose neighbours are of another kind moves with the kind
    mix rather than with one kind's speed, so the run is flagged."""
    done = sorted((r[key], r["kind"]) for r in recs if r[key] == r[key])
    n = len(done)
    mid = [(n - 1) // 2, n // 2]
    return {
        "p50": hd_median([d[0] for d in done]),
        "median": statistics.median(d[0] for d in done),
        "p50_kinds": sorted({done[j][1] for j in mid}),
        "p50_on_kind_boundary": n > 2 and len({done[j][1] for j in
                                               (mid[0] - 1, *mid, mid[1] + 1)}) > 1,
    }


def pass_summary(recs):
    return {
        "n_ops": len(recs),
        "pass_s": sum(r["latency_s"] for r in recs),
        "pass_cpu_s": sum(r["cpu_s"] for r in recs),
        "pass_jit_s": sum(r["jit_s"] for r in recs),
        "latency": ranks(recs, "latency_s"),
        "cpu": ranks(recs, "cpu_s"),
    }


def layer_metrics(recs, groups, k):
    """Per-layer totals over a traced pass."""
    tot = {}

    def add(key, v):
        tot[key] = tot.get(key, 0.0) + v

    for r in recs:
        i = r["i"]
        add("build.call_s", r.get("build_s", 0.0))
        add("catalyst.plan_s", r.get("plan_s", 0.0))
        add("op_wall_s", r["latency_s"])
        add("build.eager_jobs", groups.get(f"op{i}.build", {}).get("jobs", 0))
        for ph in ("build", "plan", "action"):
            g = groups.get(f"op{i}.{ph}", {})
            for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                        "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
                add(f"spark.{key}", g.get(key, 0))
            if ph == "action":
                add("io.scan_mb", g.get("input_mb", 0.0))
        pm = r.get("plan_metrics", {})
        add("scan_rows", pm.get("scan_rows", 0))
        add("functions.python_s", pm.get("python_ms", 0) / 1e3)
        add("functions.python_boot_s", pm.get("python_boot_ms", 0) / 1e3)
        add("functions.arrow_sent_mb", pm.get("arrow_sent_bytes", 0) / 1e6)
        add("functions.udf_rows", pm.get("udf_rows", 0))
        add("refine_rows", pm.get("refine_rows", 0))
        add("rows_returned", r.get("rows_returned", 0))
        add("matches", r.get("matches", 0))
    out = {key: v for key, v in tot.items()
           if key not in ("op_wall_s", "scan_rows", "refine_rows", "rows_returned", "matches")}
    out["spark.core_busy_ratio"] = tot["spark.executor_run_s"] / (tot["op_wall_s"] * k)
    out["io.scan_rows_per_row_returned"] = (
        tot["scan_rows"] / tot["rows_returned"] if tot["rows_returned"] else 0.0)
    out["join.refine_rows_per_match"] = (
        tot["refine_rows"] / tot["matches"] if tot["matches"] else 0.0)
    return out


def by_kind(recs):
    """Per-op-kind latency/CPU medians and summed layer counters."""
    out = {}
    for r in recs:
        d = out.setdefault(r["kind"], {"n": 0, "lat": [], "cpu": []})
        d["n"] += 1
        d["lat"].append(r["latency_s"])
        d["cpu"].append(r["cpu_s"])
        for key in ("build_s", "plan_s", "action_s"):
            d[key] = d.get(key, 0.0) + r.get(key, 0.0)
        for src in (r.get("plan_metrics", {}), r.get("groups", {})):
            for key, v in src.items():
                d[key] = d.get(key, 0) + v
    for d in out.values():
        lat, cpu = d.pop("lat"), d.pop("cpu")
        d.update(latency_p50_s=statistics.median(lat), latency_sum_s=sum(lat),
                 cpu_p50_s=statistics.median(cpu), cpu_sum_s=sum(cpu))
    return out


def run(args, work, rss):
    import geoarrow_rs_spark as gs

    k = cpus()
    wl_cls = workloads.WORKLOADS[args.workload]
    n_kinds = len(wl_cls.kinds)
    n_ops = max(3 * n_kinds, n_kinds * round(args.seconds * wl_cls.ops_per_second / n_kinds))

    t0 = stamp()
    spark = start_spark(work, k)
    try:
        gs.register_all(spark)
        wl = wl_cls(spark, args.seed, work)
        # one small prepare boots the Python workers and the write path, so
        # their one-time cost counts here and every rep below runs warm
        wl.prepare(-1, n=BOOT_ROWS)
        session = since(t0)
        prep = []
        for rep in range(PREPARE_REPS):
            t0 = stamp()
            layers = wl.prepare(rep)
            prep.append((*since(t0), layers))
        t0 = stamp()
        for op in wl.warm_ops():
            if not op.check(op.build().collect()):
                raise RuntimeError(f"warm-up {op.kind} op returned a wrong answer")
        warm = since(t0)
        mid = sorted(prep, key=lambda p: p[1])[len(prep) // 2]
        setup = {
            "session": session, "prepare": [p[:3] for p in prep], "warm": warm,
            "setup_wall_s": session[0] + statistics.median(p[0] for p in prep) + warm[0],
            "setup_cpu_s": session[1] + mid[1] + warm[1],
            "setup_jit_s": session[2] + mid[2] + warm[2],
        }
        log(f"{args.workload} seed {args.seed}: setup {setup}")

        tracer = tracing.Spans() if args.trace else None
        steal0 = procmem.host_cpu_ticks()
        if tracer is None:
            recs = run_pass(spark, wl.ops(n_ops))
            trecs = []
        else:
            # every op runs untraced and traced, back to back in alternating
            # order, so both copies see the same warm-up state
            recs, trecs = [], []
            for i, op in enumerate(wl.ops(n_ops)):
                for traced in ((False, True) if i % 2 == 0 else (True, False)):
                    rec = run_pass(spark, [op], tracer if traced else None, first=i)[0]
                    (trecs if traced else recs).append(rec)
        summary = pass_summary(recs)
        steal1 = procmem.host_cpu_ticks()
        summary["host_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        failed = sum(not r["ok"] for r in recs + trecs)
        side = {"args": vars(args), "cpus": k, "setup": setup, "summary": summary,
                "ops": recs, "by_kind": by_kind(recs)}
        for measure in ("latency", "cpu"):
            rk = summary[measure]
            log(f"{measure}: p50 {rk['p50']:.3f}s (plain median {rk['median']:.3f}s "
                f"at {rk['p50_kinds']})"
                + ("; FLAG: the median sits between two op kinds"
                   if rk["p50_on_kind_boundary"] else ""))
        log(f"pass: {summary['pass_s']:.2f}s wall, {summary['pass_cpu_s']:.2f}s cpu "
            f"(+{summary['pass_jit_s']:.2f}s jit) over {len(recs)} ops, {failed} failed; "
            f"host steal {100 * summary['host_steal_share']:.1f}%")

        if tracer is None:
            metrics = {
                "pass_cpu_s": summary["pass_cpu_s"],
                "op_p50_cpu_s": summary["cpu"]["p50"],
                "setup_s": setup["setup_cpu_s"],
            }
        else:
            groups = tracing.status_by_group(spark.sparkContext)
            for r in trecs:
                r["groups"] = {}
                for ph in ("build", "plan", "action"):
                    for key, v in groups.get(f"op{r['i']}.{ph}", {}).items():
                        r["groups"][key] = r["groups"].get(key, 0) + v
            metrics = layer_metrics(trecs, groups, k)
            # wall time is not gated (see README.md) but is recorded here
            metrics["pass_s"] = summary["pass_s"]
            metrics["trace.overhead_ratio"] = (
                pass_summary(trecs)["pass_cpu_s"] / summary["pass_cpu_s"])
            written = mid[3]
            metrics["io.write_s"] = written.get("write_s", 0.0)
            metrics["io.info_s"] = written.get("info_s", 0.0)
            metrics["io.disk_bytes_per_input_byte"] = (
                written["disk_bytes"] / written["input_bytes"] if written else 0.0)
            metrics["io.files_written"] = written.get("files", 0)
            metrics["io.rowgroups_written"] = written.get("rowgroups", 0)
            if isinstance(wl, workloads.GeoParquetWindow):
                poly = wl.poly
            else:
                poly = gen.Polygons(args.seed, workloads.GeoParquetWindow.n_polygons)
            for name, v in microbench.kernel_rows_per_s(poly.wkb()).items():
                metrics[f"wkb.{name}_rows_per_s"] = v
            side["traced_ops"] = trecs
            side["traced_by_kind"] = by_kind(trecs)
            side["spans"] = tracer.with_self_time()
    finally:
        stop_spark(spark)
    rss.sample()
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak["total"]
    else:
        for role in ("driver", "jvm", "workers"):
            metrics[f"proc.{role}_rss_mb"] = rss.peak[role]
    side["peak_rss_mb"] = rss.peak
    return metrics, len(recs) + len(trecs), failed, side


def _exit_on_term(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, _exit_on_term)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"  # nor from the Spark workers

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "geoarrow_rs_spark", "__init__.py")):
        log(f"no geoarrow_rs_spark package under {root}: run from a source checkout")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    sys.path.insert(0, root)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM too
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    try:
        with procmem.RssSampler(0.2) as rss:
            metrics, attempted, failed, side = run(args, work, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    side_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(side_path, "w") as f:
        json.dump(side, f, indent=1, default=str)
    log(f"sidecar: {side_path}")
    want = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    if sorted(want) != sorted(metrics):
        log(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(want)}")
        return 3
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {key: {"value": float(metrics[key]), "unit": units[key]} for key in want},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
