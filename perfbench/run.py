#!/usr/bin/env python3
"""Benchmark of the keyed-store engine, one workload per invocation.

    python3 perfbench/run.py --workload kv_mixed --seed 1 --seconds 30 --trace 0

Run from the repository root.  Workloads: ``kv_mixed`` and ``analytics``
(see README.md beside this file).  The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Diagnostics go to standard error and to
``.perfbench/out/`` (results, and spans of traced runs).

Everything the run writes stays under ``.perfbench/`` in the repository
root; the per-run scratch directory is removed at exit, and the
Spark JVM and its Python workers are stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kv_mixed", "analytics")
PACKAGE = "spark_sql_hbase_spark"

# the heap starts at its maximum size and is touched in full at start, so
# peak RSS moves with off-heap and Python memory, not with how far into
# the heap the collector happened to allocate
DRIVER_MEMORY = "2g"
# C1 only: with C2 the JIT kept recompiling for minutes, so block and pass
# times fell by a third over the first minute of ops and a short run
# measured how far the compiler had got.  C1 is done within the warm-up.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
# measured units (kv blocks, analytics passes) per run, at least: three
# samples of every op kind, so one slow sample does not move its median
MIN_UNITS = 3
WRITE_KINDS = ("upsert", "delete", "insert", "mutate")
COMMIT_KINDS = WRITE_KINDS + ("compact",)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- environment and session ---------------------------------------------------

def session_shape(run_dir: str) -> dict:
    """The pinned session: Spark cores for half the schedulable CPUs,
    explicit shuffle partitions and a driver heap that fits a small
    shared machine.  The other half runs the driver process, Spark's
    Python workers and the JVM's own threads; with a core per CPU they
    all queued for the same CPUs, and op times followed the scheduler."""
    host_cpus = len(os.sched_getaffinity(0))
    cpus = max(1, host_cpus // 2)
    return {
        "master": f"local[{cpus}]",
        "host_cpus": host_cpus,
        "cpus": cpus,
        "shuffle_partitions": 2 * cpus,
        "driver_memory": DRIVER_MEMORY,
        "jit": JIT_OPTS,
        "python_path": os.environ["PYTHONPATH"].split(os.pathsep),
        "local_dir": os.path.join(run_dir, "local"),
    }


def pin_environment(run_dir: str) -> None:
    """Keep every file the run writes under ``run_dir`` and put the repo
    on the path of the driver and of Spark's Python workers (a worker
    that cannot import the package silently loses Bloom sidecars)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "local"))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # the JVM's perf-data file would go to /tmp whatever java.io.tmpdir is
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


def start_session(run_dir: str, shape: dict, keyed: bool):
    from spark_sql_hbase_spark.session import EngineSession, build_spark

    spark = build_spark(
        app_name="perfbench",
        cpus=shape["cpus"],
        shuffle_partitions=shape["shuffle_partitions"],
        warehouse_dir=os.path.join(run_dir, "warehouse"),
        extra_conf={
            "spark.driver.memory": shape["driver_memory"],
            "spark.local.dir": shape["local_dir"],
            "spark.driver.extraJavaOptions": (
                f"-Xms{shape['driver_memory']} -XX:+AlwaysPreTouch {shape['jit']} "
                "-XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )
    return EngineSession(spark=spark, warehouse_dir=os.path.join(run_dir, "keyed") if keyed else None)


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[1]) == pid:
                out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _descendants(proc.pid) if proc is not None else []
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, 9)
                deadline += 5
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs had work (``steal`` in /proc/stat), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def calibration_s(spark) -> float:
    """Machine-drift probe: a fixed-size hash-aggregate and sort of 5M
    generated rows, independent of the program's code.  A diagnostic for
    comparing paired runs, not a metric."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 5_000_000, 1, 16)
        .groupBy((F.col("id") % 100_000).alias("g"))
        .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("c"))
        .orderBy("s")
        .count()
    )
    return time.perf_counter() - t0


# -- metrics -------------------------------------------------------------------

def pctl(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (an observed value)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def kind_medians_ms(ops) -> dict[str, float]:
    """Median latency of each op kind's successful ops."""
    by_kind: dict[str, list[float]] = {}
    for r in ops:
        if r.ok:
            by_kind.setdefault(r.kind, []).append(r.latency_s * 1000)
    return {k: statistics.median(v) for k, v in by_kind.items()}


def end_to_end(ops, unit: dict[str, int], read_kinds, setup_s: float, rss_mb: float) -> dict:
    """``unit`` is the op count of each kind in one measured unit.  Each
    kind enters at its median latency, weighted by its count: a burst of
    slow ops moves a kind's median only if it covers half its samples."""
    p50 = kind_medians_ms(ops)
    w = {k: n for k, n in unit.items() if k in p50}
    reads = [k for k in w if k in read_kinds]
    read_ms = math.exp(sum(w[k] * math.log(p50[k]) for k in reads)
                       / sum(w[k] for k in reads)) if reads else 0.0
    busy_s = sum(w[k] * p50[k] for k in w) / 1000
    return {
        "setup_s": (setup_s, "s"),
        "read_gmean_ms": (read_ms, "ms"),
        "ops_per_s": (sum(w.values()) / busy_s if busy_s else 0.0, "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(rec, ops, phases: dict, kv=None) -> dict:
    from analytics import PIPELINE, RELATIONAL, layer_of

    ok = [r for r in ops if r.ok]

    def of(*kinds):
        return [r for r in ok if r.kind in kinds]

    def p50_ms(*kinds):
        return pctl([r.latency_s * 1000 for r in of(*kinds)], 0.5)

    gets = of("get", "get_absent")
    keyed_reads = of("get", "get_absent", "multiget", "scan_prefix", "scan_page")
    sql = of("sql_point", "sql_count")
    writes = of(*WRITE_KINDS)
    m = {
        "session.start_s": (phases["session.start"], "s"),
        "session.warmup_s": (phases["session.warmup"], "s"),
        "keyed.build_s": (phases.get("keyed.build", 0.0), "s"),
        "sqlfront.dispatch_ms": (med(r.plan_s * 1000 for r in sql), "ms"),
        "sqlfront.sql_point_p50_ms": (p50_ms("sql_point"), "ms"),
        "keyed.plan_ms": (med(r.plan_s * 1000 for r in keyed_reads), "ms"),
        "keyed.exec_ms": (med(r.exec_s * 1000 for r in keyed_reads), "ms"),
        "keyed.get_p50_ms": (p50_ms("get", "get_absent"), "ms"),
        "keyed.multiget_p50_ms": (p50_ms("multiget"), "ms"),
        "keyed.scan_p50_ms": (p50_ms("scan_prefix", "scan_page"), "ms"),
        "keyed.files_per_get": (mean(r.extra["files"] for r in gets), "count"),
        "bloom.prune_ratio": (mean(1 - r.extra["files"] / r.extra["live"]
                                   for r in gets if r.extra["live"]), "ratio"),
        "spark.jobs_per_get": (mean(r.jobs for r in gets), "count"),
        "spark.jobs_per_sql": (mean(r.jobs for r in sql), "count"),
        "spark.failed_tasks": (rec.failed_tasks, "count"),
    }
    if kv is not None:
        census = kv.census()
        m["keyed.live_files"] = (len(census["live"]), "count")
        m["keyed.generations"] = (census["generations"], "count")
        m["bloom.sidecar_coverage"] = (kv.sidecar_coverage(), "ratio")
        m["commit.space_amp"] = (kv.space_amp(), "ratio")
    else:
        for name, unit in (("keyed.live_files", "count"), ("keyed.generations", "count"),
                           ("bloom.sidecar_coverage", "ratio"), ("commit.space_amp", "ratio")):
            m[name] = (0.0, unit)
    for kind in COMMIT_KINDS:
        m[f"commit.{kind}_jobs"] = (med(r.jobs for r in of(kind)), "count")
        m[f"commit.{kind}_tasks"] = (med(r.tasks for r in of(kind)), "count")
    for kind in WRITE_KINDS:
        m[f"commit.{kind}_p50_ms"] = (p50_ms(kind), "ms")
    user = sum(r.extra["user_bytes"] for r in writes)
    m["commit.files_written_per_op"] = (mean(r.extra["files_written"] for r in writes), "count")
    m["commit.files_carried_per_op"] = (mean(r.extra["files_carried"] for r in writes), "count")
    m["commit.bytes_written_per_op"] = (mean(r.extra["bytes_written"] for r in writes), "B")
    m["commit.write_amp"] = (sum(r.extra["bytes_written"] for r in writes) / user if user else 0.0,
                             "ratio")
    m["commit.compact_ms"] = (p50_ms("compact"), "ms")
    m["commit.compact_bytes"] = (med(r.extra["bytes_written"] for r in of("compact")), "B")
    sql_s = pipeline_s = 0.0
    for name in RELATIONAL + PIPELINE:
        s = med(r.latency_s for r in of(name))
        m[f"{layer_of(name)}.{name}_s"] = (s, "s")
        m[f"spark.jobs.{name}"] = (med(r.jobs for r in of(name)), "count")
        if name in RELATIONAL:
            sql_s += s
        else:
            pipeline_s += s
    m["queries.sql_s"] = (sql_s, "s")
    m["operators.pipeline_s"] = (pipeline_s, "s")
    busy = sum(r.latency_s for r in ops)
    m["trace.overhead_pct"] = (100 * sum(r.overhead_s for r in ops) / busy if busy else 0.0, "%")
    return m


# -- run -----------------------------------------------------------------------

def run(args, run_dir: str, out_dir: str) -> dict:
    t_run = time.perf_counter()
    from tracer import Recorder

    import datagen

    keyed = args.workload != "analytics"
    data_dir = os.path.join(run_dir, "data")
    if not keyed:
        from analytics import SF

        t = time.perf_counter()
        rows = datagen.write_analytics_tables(args.seed, SF, data_dir)
        print(f"# generated analytics tables at sf {SF} in "
              f"{time.perf_counter() - t:.2f}s: {rows}", file=sys.stderr)
    shape = session_shape(run_dir)
    t0 = time.perf_counter()
    sess = start_session(run_dir, shape, keyed)
    t1 = time.perf_counter()
    phases = {"session.start": t1 - t0}
    spark = sess.spark
    try:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        shape["spark_conf"] = {k: spark.conf.get(k) for k in (
            "spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory",
            "spark.sql.adaptive.enabled")}
        print(f"# session: {json.dumps(shape)}", file=sys.stderr)
        rec = Recorder(spark, traced=bool(args.trace), t0=t_run)
        rec.past_phase("session.start", t0, t1)
        if keyed:
            from kv import READ_KINDS, KvWorkload

            wl = KvWorkload(sess, rec, args.seed, run_dir)
            wl.build()
            phases["keyed.build"] = wl.build_s
            read_kinds = READ_KINDS
        else:
            from analytics import PIPELINE, RELATIONAL, AnalyticsWorkload

            wl = AnalyticsWorkload(spark, rec, args.seed, data_dir)
            read_kinds = set(RELATIONAL + PIPELINE)
        _, phases["session.warmup"] = rec.phase("session.warmup", wl.warm_up)
        setup_s = sum(phases.values())
        calib = calibration_s(spark)
        print(f"# calibration_s: {calib:.4f}", file=sys.stderr)

        # whole units (kv blocks, analytics passes): at least MIN_UNITS,
        # and another only if one more of average length still ends
        # inside --seconds
        start, steal0 = time.perf_counter(), steal_s()
        units = 0
        while True:
            for kind in wl.schedule():
                wl.run_op(kind)
            units += 1
            elapsed = time.perf_counter() - start
            if units >= MIN_UNITS and elapsed * (units + 1) / units > args.seconds:
                break
        window_s = time.perf_counter() - start
        window_steal_s = steal_s() - steal0
        ops = list(rec.records)
        if keyed:
            wl.final_check()
        rss = {"python": peak_rss_mb("self"), "jvm": peak_rss_mb(jvm_pid)}
        if args.trace:
            metrics = per_layer(rec, ops, phases, wl if keyed else None)
        else:
            metrics = end_to_end(ops, wl.unit(), read_kinds, setup_s, sum(rss.values()))
    finally:
        stop_session(spark)

    by_kind = {}
    for r in ops:
        by_kind.setdefault(r.kind, []).append(r.latency_s * 1000)
    diagnostics = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session": shape, "calibration_s": calib, "window_s": window_s, "units": units,
        "window_steal_s": window_steal_s,
        "phases_s": phases, "ops": len(ops), "peak_rss_mb": rss,
        "latency_ms": {k: {"n": len(v), "p50": pctl(v, 0.5), "max": max(v)}
                       for k, v in sorted(by_kind.items())},
        "errors": rec.errors,
        "total_s": time.perf_counter() - t_run,
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"metrics": {k: v for k, (v, _) in metrics.items()},
                   "diagnostics": diagnostics}, f, indent=1)
    if args.trace:
        with open(os.path.join(out_dir, f"{tag}-spans.json"), "w") as f:
            json.dump(rec.spans, f)
    print(f"# diagnostics: {json.dumps(diagnostics)}", file=sys.stderr)
    return {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=base)
    try:
        pin_environment(run_dir)
        result = run(args, run_dir, out_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stderr.flush()
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
