"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload binlog_cdc --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace 1``
its per-layer metrics (spans, Spark event log, stream progress). The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds the
run's metadata. Everything the run writes stays in the checkout:
scratch under ``.perfbench_work/`` (removed at exit) and a record of each
run under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mysql_to_clickhouse_spark"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs
               if not os.path.islink(os.path.join(dp, f)))


def _source_id() -> dict[str, str]:
    """The git commit when the checkout is a repository, and always a
    digest of the package sources."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dp, dirs, fs in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(dp, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    commit = "none (not a git checkout)"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        if r.returncode == 0:
            commit = r.stdout.strip()
    return {"git_commit": commit, "package_sha256": h.hexdigest()[:16]}


def tail(latencies: list[float]) -> tuple[float, dict]:
    """Highest percentile with at least ten samples beyond it, with the
    percentile and sample counts."""
    xs = sorted(latencies)
    n = len(xs)
    k = max(0, n - 11)
    return xs[k], {"tail_percentile": round(100.0 * (k + 1) / n, 1),
                   "tail_samples": n, "samples_beyond_tail": n - k - 1}


def e2e_metrics(ops, work_done, wall_s, setup_s, cpu_s, heap_mb):
    """Every end-to-end metric from the timed phase.

    Latency per operation class is its median; across classes (catalog
    entries) the geometric mean of the medians, so a mixed catalog never
    puts a percentile on a gap between classes. The tail applies the
    same rule to each operation's latency relative to its class median,
    then scales by the typical latency; for one class it is exactly the
    highest percentile with ten samples beyond it."""
    by_class: dict[str, list[float]] = {}
    for cls, lat in ops:
        by_class.setdefault(cls, []).append(lat)
    med = {c: statistics.median(v) for c, v in by_class.items()}
    gm = math.exp(statistics.fmean(math.log(m) for m in med.values()))
    ratio_tail, tail_meta = tail([lat / med[c] for c, lat in ops])
    return {
        "setup_s": setup_s,
        "throughput_per_s": work_done / wall_s,
        "latency_p50_s": gm,
        "latency_tail_s": gm * ratio_tail,
        "cpu_s_per_op": cpu_s / len(ops),
        "heap_live_mb": heap_mb,
    }, tail_meta


def _stop_jvm() -> None:
    """Stop the JVM the session launched and wait for it: it exits when
    its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap(pids: list[int]) -> None:
    """Kill any worker left over once the JVM is gone, and wait."""
    deadline = time.time() + 30
    for pid in pids:
        while time.time() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        else:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def measure(args, work: str) -> tuple[dict, dict, int, int, dict]:
    from perfbench import probes, workloads

    tracer = probes.Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload]()
    ctx = workloads.Ctx(args.seed, args.seconds, work, tracer)
    t = time.perf_counter()
    wl.prepare(ctx)
    inputs_s = time.perf_counter() - t

    from mysql_to_clickhouse_spark.session import build_session

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    eventlog = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(eventlog)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + eventlog,
                     "spark.eventLog.compress": "false"})
    meta: dict = {"inputs_s": inputs_s, "loadavg_start": probes.loadavg()}
    t0 = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    tree = probes.ProcessTree(probes.jvm_pid(spark))
    workers: list[int] = []
    try:
        setup = wl.setup(ctx)
        t2 = time.perf_counter()
        cpu0, st0, ms0 = tree.cpu(), probes.cpu_times(), time.time() * 1e3
        t_run = time.perf_counter()
        ops = wl.run(ctx)
        wall = time.perf_counter() - t_run
        cpu1, st1, ms1 = tree.cpu(), probes.cpu_times(), time.time() * 1e3
        wl.settle(ctx)
        heap = probes.heap_live_mb(spark)
        failed = wl.check(ctx, ops)
        rss = tree.peak_rss_mb()
        workers = probes.descendants(tree.jvm_pid)
        meta.update({
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "master": spark.sparkContext.master,
        })
    finally:
        wl.stop(ctx)
        spark.stop()
        _stop_jvm()
    _reap(workers)

    layers = wl.layers(ctx, ops) if args.trace else {}
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
    work_done = getattr(ctx, "work_done", len(ops))
    e2e, tail_meta = e2e_metrics(ops, work_done, wall, t2 - t0,
                                 sum(cpu.values()), heap)
    steal = probes.steal_pct(st0, st1)
    meta.update(tail_meta, steal_pct=steal, loadavg_end=probes.loadavg(),
                timed_s=wall, ops=len(ops), class_median_s={
                    c: statistics.median(lat for k, lat in ops if k == c)
                    for c in dict(ops)},
                output_rows=getattr(ctx, "output_rows", None),
                op_latencies_s=[round(lat, 4) for _, lat in ops])
    if args.trace:
        n = len(ops)
        layers.update({f"cpu.{k}_s_per_op": v / n for k, v in cpu.items()})
        layers.update({f"mem.peak_rss_mb.{k}": v for k, v in rss.items()})
        layers.update({"setup.session_s": t1 - t0,
                       "setup.first_load_s": setup["first_load_s"],
                       "setup.warmup_s": setup["warmup_s"],
                       "host.steal_pct": steal})
        ev = probes.event_log_totals(eventlog, ms0, ms1)
        layers.update({f"spark.{k}_per_op": v / n for k, v in ev.items()})
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"spans-{args.workload}-seed{args.seed}.json"))
    return e2e, layers, len(ops), failed, meta


def _untraced_baseline(args, out_dir: str) -> dict | None:
    path = os.path.join(out_dir, "runs.jsonl")
    if not os.path.exists(path):
        return None
    found = None
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if (r["workload"], r["seed"], r["seconds"], r["trace"]) == (
                    args.workload, args.seed, args.seconds, 0):
                found = r
    return found


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        fail(f"package {PACKAGE!r} not found under {ROOT}; run from a checkout")
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; expected one of {names}")
    nproc = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(nproc))
    if not cpus.isdigit() or not 1 <= int(cpus) <= nproc:
        fail(f"SPARK_GRAFT_CPUS={cpus!r} must be a whole number from 1 to "
             f"nproc={nproc}")

    # every file the program writes, /tmp state included, goes under the
    # run's own directory, which is removed at exit: the cross-process
    # temp state (layout warehouses, package zip, spark-local) starts
    # cleared on every run
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    sys.path.insert(0, ROOT)
    # a terminated run still removes its directory and stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        e2e, layers, attempted, failed, meta = measure(args, work)
        meta["tmp_bytes_left_by_run"] = _dir_bytes(os.path.join(work, "tmp")) + \
            _dir_bytes(os.path.join(work, "spark-local"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still holds its directory there
            pass
    meta.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, nproc=nproc, spark_graft_cpus=int(cpus),
        python=platform.python_version(), tmp_state="cleared",
        tmp_clean_after_run=not os.path.exists(work), **_source_id())
    if not meta["tmp_clean_after_run"]:
        fail(f"run directory {work} was not removed")

    if args.trace:
        base = _untraced_baseline(args, out_dir)
        meta["overhead_baseline"] = base["meta"]["pid"] if base else None
        for k, v in e2e.items():
            layers[f"trace.overhead.{k}"] = v - base["metrics"][k] if base else 0.0
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]
    values = {**e2e, **layers}
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    meta["pid"] = os.getpid()
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "seconds": args.seconds, "trace": args.trace,
                            "metrics": e2e if not args.trace else values,
                            "meta": meta}) + "\n")
    for name, m in metrics.items():
        print(f"{name:<52} {m['value']:>16.6f} {m['unit']}")
    print(json.dumps({"meta": meta}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
