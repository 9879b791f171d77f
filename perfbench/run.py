"""Pipeline benchmark for grove_spark: closed loop, one client.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/README.md): ``tail``, ``fleet``, ``compute``.
The next invocation starts only after the previous one returned. Session
start, input generation, state priming and the cold first invocation are
set-up; the invocations inside the ``--seconds`` window are timed, each
one's output is checked outside its timed interval.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced invocations, replays one invocation's plan prefix by
prefix, prints the per-layer metrics and writes the spans to
``.perfbench_out/spans-<workload>-seed<seed>.json``. The last line of
standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "run_s": "s", "routed_rows_per_s": "rows/s",
              "out_bytes_per_row": "B/row", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s", "sources.rows_read": "rows", "sources.prune_s": "s",
    "sources.files_kept": "count", "sources.files_total": "count", "sources.kept_ratio": "ratio",
    "dedup.s": "s", "dedup.rows_dropped": "rows", "dedup.seen_hashes": "count",
    "dedup.boundary_s": "s",
    "parse.s": "s", "parse.failed_rows": "rows",
    "enrich.s": "s", "metadata.s": "s",
    "processors.s": "s", "processors.rows_dropped": "rows",
    "routing.route_s": "s", "routing.repartition_s": "s", "routing.counts_s": "s",
    "routing.fanout": "ratio", "routing.shuffle_write_bytes": "B",
    "routing.partition_skew": "ratio",
    "sinks.write_s": "s", "sinks.task_s": "s", "sinks.bytes_written": "B",
    "sinks.files_written": "count", "sinks.spill_bytes": "B",
    "state.read_s": "s", "state.commit_s": "s", "state.file_stats_s": "s",
    "state.manifest_bytes": "B",
    "config.plan_s": "s", "pipeline.plan_s": "s",
    "plan.exchanges": "count", "plan.broadcasts": "count", "plan.unions": "count",
    "spark.jobs": "count", "spark.task_s": "s", "spark.cpu_busy": "ratio",
    "spark.spill_bytes": "B",
    "trace.overhead_s": "s", "trace.overhead_ratio": "ratio",
}


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list:
    """Machine-wide CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_session(work: str, cores: int):
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    mem = os.environ.setdefault("GROVE_SPARK_DRIVER_MEM", "1g")
    from grove_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf={
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - a JVM that ignores its closed stdin is killed
        proc.kill()
        proc.wait()


def layer_metrics(tracer, inv_id: str, wall: float, cores: int, run_dir: str | None) -> dict:
    """Per-layer numbers of one traced invocation from its spans and jobs."""
    from spans import plan_counts, self_times

    spans = [s for s in tracer.spans if s["invocation"] == inv_id]
    own = self_times(spans)
    incl = {}
    for s in spans:
        incl[s["name"]] = incl.get(s["name"], 0.0) + s["end"] - s["start"]
    jobs = tracer.stage_metrics(inv_id)
    write = jobs.get("sinks.write", {})
    out = {
        "sources.prune_s": own.get("sources.prune", 0.0),
        "dedup.boundary_s": own.get("dedup.boundary", 0.0) + own.get("dedup.boundary.action", 0.0),
        "sinks.write_s": own.get("sinks.write", 0.0),
        "sinks.task_s": write.get("task_s", 0.0),
        "sinks.spill_bytes": write.get("spill_bytes", 0),
        "state.read_s": own.get("state.read", 0.0),
        "state.commit_s": own.get("state.commit", 0.0),
        "state.file_stats_s": own.get("state.file_stats", 0.0),
        "config.plan_s": incl.get("config.plan", 0.0),
        "pipeline.plan_s": incl.get("pipeline.plan", 0.0),
        "spark.jobs": sum(j["jobs"] for j in jobs.values()),
        "spark.task_s": sum(j["task_s"] for j in jobs.values()),
        "spark.spill_bytes": sum(j["spill_bytes"] for j in jobs.values()),
        "routing.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs.values()),
    }
    out["spark.cpu_busy"] = out["spark.task_s"] / (wall * cores)
    if run_dir:
        from checks import parquet_bytes

        out["sinks.bytes_written"] = parquet_bytes(run_dir)
        out["sinks.files_written"] = sum(f.endswith(".parquet")
                                         for _, _, fs in os.walk(run_dir) for f in fs)
    plan = tracer.captured.get("pipeline.plan")
    if plan is not None:
        out.update(plan_counts(tracer.spark, plan.routed))
    fleet = tracer.captured.get("config.plan")
    if fleet is not None:
        out.update(plan_counts(tracer.spark, fleet[0] if isinstance(fleet, tuple) else fleet))
    return out


def warm_up(workload) -> None:
    """The cold first invocations, checked like the timed ones. Spark keeps
    compiling for a few invocations, so one is not enough to be steady."""
    for i in range(-workload.warm_ups, 0):
        workload.prepare(i)
        err = workload.check(i, workload.invoke(i))[2]
        workload.cleanup(i)
        if err:
            raise RuntimeError(f"warm-up invocation {i} failed its check: {err}")


class Samples:
    """What the timed loop collected."""

    def __init__(self):
        self.walls, self.traced_walls, self.layers, self.errors = [], [], [], []
        self.rows = self.out_bytes = self.byte_rows = self.attempted = 0


def measure(workload, seconds: float, tracer, cores: int) -> Samples:
    """Closed loop until the invocations' summed wall time reaches
    ``seconds``. The window counts invocation time only, so the number of
    samples does not depend on how long the checks take. With a tracer
    every second invocation is traced, and at least two of each kind run
    so that the tracing overhead is a difference of medians."""
    got = Samples()
    busy, i = 0.0, 0
    while i < (4 if tracer else 1) or busy < seconds:
        workload.prepare(i)
        traced = tracer is not None and i % 2 == 1
        inv_id = f"perfbench-{workload.name}-{i}"
        t = time.perf_counter()
        try:
            if traced:
                tracer.captured.clear()
                with tracer.invocation_scope(inv_id):
                    out = workload.invoke(i)
            else:
                out = workload.invoke(i)
            wall = time.perf_counter() - t
            n, size, err = workload.check(i, out)
        except Exception as exc:  # noqa: BLE001 - a failed invocation is counted, not fatal
            wall, err = time.perf_counter() - t, f"{type(exc).__name__}: {exc}"
        if err:
            got.errors.append(f"invocation {i}: {err}")
        elif traced:
            got.traced_walls.append(wall)
            lay = layer_metrics(tracer, inv_id, wall, cores, workload.output_dir(i, out))
            if not got.layers:
                with tracer.invocation_scope(f"{inv_id}-replay"):
                    lay.update(workload.replay(tracer))
            got.layers.append(lay)
        else:
            got.walls.append(wall)
            got.rows += n
            if size is not None:
                got.out_bytes += size
                got.byte_rows += n
        workload.cleanup(i)
        busy += wall
        i += 1
    got.attempted = i
    return got


def per_layer_metrics(got: Samples, session_s: float) -> dict:
    metrics = {}
    for name in PER_LAYER:
        vals = [lay[name] for lay in got.layers if name in lay]
        metrics[name] = float(statistics.median(vals)) if vals else 0.0
    metrics["session.start_s"] = session_s
    base = statistics.median(got.walls)
    metrics["trace.overhead_s"] = statistics.median(got.traced_walls) - base
    metrics["trace.overhead_ratio"] = metrics["trace.overhead_s"] / base
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["tail", "fleet", "compute"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import checks

    selftest_ok = checks.selftest()
    import grove_spark  # noqa: F401  (fails outside a checkout of the repo)
    from workloads import WORKLOADS

    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = start_session(work, cores)
        session_s = process_age()
        workload = WORKLOADS[args.workload](spark, work, args.seed, cores)
        inputs_s = process_age() - session_s
        warm_up(workload)
        setup_s = process_age()

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        ticks = cpu_ticks()
        got = measure(workload, args.seconds, tracer, cores)
        ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
        rss = hwm_mb(os.getpid()) + hwm_mb(spark.sparkContext._gateway.proc.pid)
        failed = len(got.errors)
        print(f"# {args.workload} seed={args.seed} cores={cores} attempted={got.attempted} "
              f"failed={failed} error_rate={failed / got.attempted:.4f} (ratio)", flush=True)
        for e in got.errors[:5]:
            print(f"# error: {e}", flush=True)
        if not got.walls:
            raise SystemExit("no invocation succeeded")
        print(f"# setup_s: session={session_s:.3f} inputs={inputs_s:.3f} "
              f"warm_up={setup_s - session_s - inputs_s:.3f}", flush=True)
        print(f"# run_s samples={len(got.walls)}: {[round(w, 3) for w in got.walls]}", flush=True)
        # time the hypervisor gave to other guests: a noisy neighbour shows here
        print(f"# steal during the timed loop: {ticks[7] / max(sum(ticks), 1):.1%} of CPU time",
              flush=True)
        if tracer is not None:
            print(f"# traced samples={len(got.traced_walls)}: "
                  f"{[round(w, 3) for w in got.traced_walls]}", flush=True)
            metrics, units = per_layer_metrics(got, session_s), PER_LAYER
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"),
                        {"workload": args.workload, "seed": args.seed, "layers": got.layers,
                         "untraced_walls": got.walls, "traced_walls": got.traced_walls})
            tracer.uninstall()
        else:
            metrics, units = {
                "setup_s": setup_s,
                "run_s": statistics.median(got.walls),
                "routed_rows_per_s": got.rows / sum(got.walls),
                "out_bytes_per_row": got.out_bytes / got.byte_rows if got.byte_rows else 0.0,
                "peak_rss_mb": rss,
            }, END_TO_END
        for name, unit in units.items():
            print(f"# {name:32s} {metrics[name]:>16.6g} {unit}", flush=True)
        result = {
            "correct": selftest_ok and failed == 0,
            "attempted": got.attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
