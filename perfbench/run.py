#!/usr/bin/env python3
"""Benchmark for CDC apply, table maintenance and reads beside writes.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

Workloads: cdc_ingest, maintain (see workloads.py). The run starts one
Spark session on local[nproc], loads the base table (the F1 images fixture,
80 % small files) from inputs staged once per checkout, warms up, runs the
workload's timed phase, ends with the read mix, checks every output against
the generator's model, and prints one JSON line last: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. Any failed check makes it
exit 1. The timed phase is fixed work sized from --seconds (see
workloads.Workload), so it lasts about --seconds on a 4-vCPU host.

Everything it writes goes under .perfbench/ in the repository root: the
staged base inputs (cache/), one directory per run (runs/, removed at the
end) and the reports (reports/). A traced run writes its per-layer report
there as markdown and prints it to stderr.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import statistics
import sys
import threading
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# a quarter of bench.py's sf0.1 table: merges, scans and maintenance calls
# here are bound by per-call overhead, and a run has to fit in about a minute
N_BASE = 10_000
SETUP_LOADS = 3  # the base load repeats; setup_s takes the median

E2E_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "cdc_rows_per_s": "rows/s", "commit_p50_s": "s",
    "maint_mb_per_s": "MB/s", "write_amp": "ratio", "space_amp": "ratio",
    "read_scan_mb_per_s": "MB/s", "read_range_p50_s": "s", "read_lookup_p50_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["cdc_ingest", "maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------------ host
def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_env(run_dir: str, trace: bool) -> None:
    """Keep Spark's scratch space, temp files and event log inside *run_dir*
    and size the session from this host."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    with open("/proc/meminfo") as fh:
        avail_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemAvailable"))
    # 2 GiB, or a quarter of what is free if that is less (at least 1 GiB)
    heap_mb = max(1024, min(2048, avail_kb // 4096))
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_CPUS=str(host_cpus()),
        SPARK_DRIVER_MEM=f"{heap_mb}m", PYTHONHASHSEED="0",
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = ["--conf spark.ui.showConsoleProgress=false", f'--driver-java-options "{java_opts}"']
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf += ["--conf spark.eventLog.enabled=true", f"--conf spark.eventLog.dir=file://{ev}",
                 "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def host_context() -> dict:
    """CPU steal ticks, CPU-pressure stall time and the 1-minute load
    average: context for a run's figures, never a gate."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    try:
        with open("/proc/pressure/cpu") as fh:
            stall_us = int(fh.readline().rsplit("total=", 1)[1])
    except OSError:
        stall_us = 0
    return {"steal_ticks": cpu[7] if len(cpu) > 7 else 0, "total_ticks": sum(cpu), "load1": load1,
            "cpu_stall_us": stall_us, "t": time.time()}


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._halt = threading.Event()

    @staticmethod
    def _tree() -> list[int]:
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for t in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{t}/children") as fh:
                        todo += [int(c) for c in fh.read().split()]
            except OSError:
                continue
        return out

    def sample(self) -> None:
        parts: dict[str, int] = {}
        for p in self._tree():
            try:
                with open(f"/proc/{p}/status") as fh:
                    st = dict(line.split(":", 1) for line in fh)
            except OSError:
                continue
            kb = int(st.get("VmRSS", "0 kB").split()[0])
            name = st["Name"].strip()
            parts[name] = parts.get(name, 0) + kb
        tot = sum(parts.values())
        if tot > self.peak_kb:
            self.peak_kb, self.peak_parts = tot, parts

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024


# ------------------------------------------------------------------ inputs
def stage_base(spark) -> str:
    """The base table, laid out by the library's fixture (80 % small files),
    staged once per checkout. Returns the staged table root."""
    from moonlink_spark.sources.fixtures import create_images_table

    from gen import BASE_SEED

    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    done = os.path.join(cache, f"base-n{N_BASE}-s{BASE_SEED}")
    with open(os.path.join(cache, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(done):
            tmp = done + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            create_images_table(spark, tmp, N_BASE, seed=BASE_SEED)
            os.rename(tmp, done)
    return done


def base_files(spark, staged: str) -> list:
    from moonlink_spark.table import MoonTable

    # the staged table was written under its temporary name
    files = MoonTable.load(spark, staged).data_files()
    return [os.path.join(staged, "data", os.path.basename(f.file_path)) for f in files]


def load_base(spark, paths: list, root: str):
    """Copy the staged files into a fresh table and register them."""
    from moonlink_spark.sources.fixtures import IMAGES_SCHEMA
    from moonlink_spark.table import MoonTable

    t = MoonTable.create(spark, root, IMAGES_SCHEMA, key_columns=["image_id"])
    dst = []
    for p in paths:
        d = os.path.join(t.catalog.data_dir, os.path.basename(p))
        shutil.copyfile(p, d)
        dst.append(d)
    t.add_files(dst, run_id="base")
    return t


# ------------------------------------------------------------------ main
def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and its workers) exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    host_env(run_dir, bool(args.trace))
    ctx0 = host_context()
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        from moonlink_spark.session import get_spark

        import workloads as W
        from gen import Model, Pool
        from spans import Spans

        spark = get_spark("perfbench", cores=host_cpus())
        session_s = time.time() - T_PROCESS
        spans = Spans(spark.sparkContext if args.trace else None)

        with spans.span("stage_inputs", "gen"):
            paths = base_files(spark, stage_base(spark))
            pool = Pool.from_parquet(paths)
        model = Model(pool, N_BASE, args.seed, stream=list(W.WORKLOADS).index(args.workload))
        loads = []
        with spans.span("setup"):
            for i in range(SETUP_LOADS):
                root = os.path.join(run_dir, f"table{i}")
                with spans.span("load_base", "setup"):
                    t0 = time.perf_counter()
                    table = load_base(spark, paths, root)
                    loads.append(time.perf_counter() - t0)
                if i < SETUP_LOADS - 1:
                    shutil.rmtree(root)
            b = W.Bench(spark, table, model, spans, run_dir, args.workload)
            with spans.span("warmup") as warm_span:
                warm = [b.apply_batch() for _ in range(W.WARMUP_BATCHES)]
        warm_s = warm_span.dur - spans.paused(warm_span)
        setup_s = session_s + statistics.median(loads) + warm_s
        b.check_state("after setup")

        out = W.RUNNERS[args.workload](b, args.seconds)
        peak_rss = rss.stop()
        stop_spark(spark)
        spark = None
        return finish(args, b, spans, out, model, info=dict(
            setup_s=setup_s, peak_rss=peak_rss, loads=loads, session_s=session_s,
            warm_s=warm_s, warmup_lat=warm, ctx0=ctx0,
            peak_rss_parts_mb={k: v / 1024 for k, v in rss.peak_parts.items()},
        ), run_dir=run_dir, reports=reports)
    finally:
        if rss.is_alive():
            rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def finish(args, b, spans, out, model, info: dict, run_dir: str, reports: str) -> tuple[dict, dict]:
    """End-to-end metrics, run context and (traced runs) the per-layer report."""
    import workloads as W
    from spans import tail_percentile

    ctx0, ctx1 = info.pop("ctx0"), host_context()

    phase = out["phase"]
    phase_s = phase.dur - spans.paused(phase)
    reads = out["reads"]
    live_mb = model.raw / 1e6
    maint_s = W.maint_seconds(spans, out["maint_span"])
    e2e = {
        "setup_s": info["setup_s"],
        "peak_rss_mb": info["peak_rss"],
        "cdc_rows_per_s": b.events_applied / phase_s,
        "commit_p50_s": statistics.median(b.commit_lat),
        "maint_mb_per_s": sum(b.maint_passes_mb) / maint_s if maint_s else 0.0,
        "write_amp": out["write_amp"],
        "space_amp": out["space_amp"],
        "read_scan_mb_per_s": live_mb / statistics.median(reads["full"]),
        "read_range_p50_s": statistics.median(reads["range"]),
        "read_lookup_p50_s": statistics.median(reads["lookup"]),
    }
    dt = max(1, ctx1["total_ticks"] - ctx0["total_ticks"])
    lat = b.commit_lat
    half = len(lat) // 2
    info.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, errors=b.errors,
        attempted=b.attempted, failed=b.failed, phase_s=phase_s, phase_wall_s=phase.dur,
        batches=len(lat), events=b.events_applied, commit_lat=lat,
        # later / earlier half of the phase's commit latencies: near 1 once
        # the warm-up has absorbed the JVM's one-time costs
        commit_trend=statistics.median(lat[half:]) / statistics.median(lat[:half]) if half else 1.0,
        steal_frac=(ctx1["steal_ticks"] - ctx0["steal_ticks"]) / dt, load1=ctx1["load1"],
        cpu_stall_frac=(ctx1["cpu_stall_us"] - ctx0["cpu_stall_us"]) / 1e6 / (ctx1["t"] - ctx0["t"]),
        reads=reads, e2e=e2e,
        # sample counts, and the highest percentile each can support
        latency_tails={k: (len(v), tail_percentile(v)) for k, v in
                       dict(commit=lat, **{f"read_{r}": x for r, x in reads.items()}).items()},
    )
    print(f"context: steal {info['steal_frac']:.3f}, cpu stall {info['cpu_stall_frac']:.3f}, "
          f"load1 {info['load1']}, phase {phase_s:.2f} s, {info['batches']} batches, "
          f"commit trend {info['commit_trend']:.3f}, samples/tail {info['latency_tails']}",
          file=sys.stderr)
    if args.trace:
        import layers

        info["per_layer"], report = layers.per_layer(b, spans, out, info, run_dir, reports)
        sys.stderr.write(report + "\n")
        with open(os.path.join(reports, f"{args.workload}-s{args.seed}-trace.md"), "w") as fh:
            fh.write(report)
        spans.dump(os.path.join(reports, f"{args.workload}-s{args.seed}-spans.jsonl"))
    with open(os.path.join(reports, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(info, fh, indent=1, default=str)
    return e2e, info


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "moonlink_spark")):
        print(f"moonlink_spark not found next to {HERE}; run from a repository checkout",
              file=sys.stderr)
        return 2
    e2e, info = run(args)
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in info["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    correct = not info["errors"]
    for e in info["errors"]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": info["attempted"],
                      "failed": info["failed"], "metrics": metrics}))
    return 0 if correct and not info["failed"] else 1


if __name__ == "__main__":
    sys.exit(main())
