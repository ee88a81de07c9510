"""Benchmark runner: one workload, one closed-loop client, local[nproc].

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run

1. writes the seeded inputs (cached) before any Spark session exists;
2. sets up several times — ``get_spark(nproc)`` plus a tiny warm-up
   job (JVM and Arrow/Python) — stopping the context in between, and
   reports the median as ``setup_s`` (the first set-up also launches
   the JVM);
3. runs one cold pass over the workload's body, one more unmeasured
   pass, then measured warm passes until ``--seconds`` have been spent
   on them (at least one);
4. checks every output of every pass (DuckDB oracle or modular chain);
5. prints a readable table, one info JSON line (seed, input sizes,
   environment, every end-to-end figure including fail_ratio) and, as
   the LAST stdout line, the result JSON.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first runs
the unmeasured passes and one measured pass untraced, as the reference, then
restarts the context with Spark's event log on and per-span job groups
and runs the traced passes; it reports the per-layer metrics, including
the tracing overhead against that reference. All JVM and Python-worker
output goes to a side log, so stdout stays machine-readable. The exit
code is 1 when any output was wrong or errored.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CACHE = os.path.join(BENCH_DIR, ".cache")

SETUPS = 3
# passes before the measured ones: the cold pass, then one more while
# the JIT is still compiling the hot paths (the first warm pass varies
# by up to 1.7x from run to run; later ones settle)
UNMEASURED = 2
DRIVER_MEM = "4g"

# BENCHMARK.json's end_to_end metrics, reported on every workload.
# cold_pass_s, pass_s and peak_rss_mb are printed but not bounded: on a
# shared 4-core VM their run-to-run spread (IQR/median over five seeds)
# reached 0.26-0.34, beyond the 0.25 a bound may be.
E2E = ("setup_s", "pass_cpu_s")


def cpus() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, frontier = [], [pid]
    while frontier:
        frontier = [k for p in frontier for k in kids.get(p, [])]
        out += frontier
    return out


def rss_hwm_mb(pids: list[int]) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``pids`` — the JVM and
    the Python daemon/workers it forked."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` and of their reaped
    children. CPU time, unlike wall time, is not charged while the
    hypervisor runs another guest on our cores (steal)."""
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds of this process, the JVM and its Python workers."""
    return cpu_s([os.getpid()] + descendants(os.getpid()))


def steal_share() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def source_digest() -> str:
    """Digest of the benchmarked package and the benchmark (the checkout
    is not a git repository, so this stands in for the commit)."""
    h = hashlib.sha256()
    for top in ("denrl_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs[:] = sorted(x for x in dirs if not x.startswith(".") and x != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def warmup(spark) -> None:
    """One JVM job and one Arrow job over every task slot (starts the
    Python workers)."""
    from workloads import noop

    p = spark.sparkContext.defaultParallelism
    noop(spark.range(0, 10_000, 1, p))
    noop(spark.range(0, p, 1, p).mapInPandas(lambda it: it, "id long"))


def spark_conf(trace: bool) -> dict:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
        }
    return conf


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def parse(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    if not os.path.isdir(os.path.join(ROOT, "denrl_spark")):
        print(f"perfbench: no denrl_spark package under {ROOT}", file=sys.stderr)
        return 2
    # everything the run leaves behind stays inside the checkout
    for d in ("tmp", "local", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, spark-submit's launcher included: temp files in the
    # checkout, and no hsperfdata file (the JVM puts that in /tmp
    # whatever java.io.tmpdir says)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:+PerfDisableSharedMem",
         f"-Djava.io.tmpdir={os.environ['TMPDIR']}"]
    ).strip()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    args = parse(argv)

    # stdout/stderr of the JVM and every forked Python worker -> side log
    out = os.fdopen(os.dup(1), "w", buffering=1)
    err = os.fdopen(os.dup(2), "w", buffering=1)
    side_log = os.path.join(WORK, f"{args.workload}.log")
    fd = os.open(side_log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    try:
        result, info, table = run(args, bool(args.trace))
    except Exception:
        import traceback

        traceback.print_exc()
        sys.stderr.flush()
        print(f"perfbench: {args.workload} failed; see {side_log}", file=err)
        return 1
    for line in table:
        print(line, file=out)
    print(json.dumps(info, sort_keys=True), file=out)
    print(json.dumps(result), file=out)
    return 0 if result["correct"] else 1


def run_passes(spark, wl, tracer, seconds: float):
    """``UNMEASURED`` passes (the first is the cold pass), then measured
    passes until ``seconds`` have been spent on them (at least one).
    Each pass's outputs are read back and its facts gathered after its
    span closes."""
    passes, outputs, facts = [], [], {}
    t_warm = 0.0
    while len(passes) <= UNMEASURED or time.time() - t_warm < seconds:
        if len(passes) == UNMEASURED:
            t_warm = time.time()
        c0 = tree_cpu_s()
        with tracer.span("pass") as ps:
            handle = wl.run_pass(spark, tracer, len(passes))
        cpu = tree_cpu_s() - c0
        got, facts[ps.id] = wl.collect(spark, handle)
        facts[ps.id]["cpu_s"] = cpu
        outputs += got
        passes.append(ps)
    return passes, outputs, facts


def run(args, trace: bool):
    import pyarrow
    import pyspark

    from denrl_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    wl = WORKLOADS[args.workload](CACHE, WORK, args.seed)
    tracer = Tracer(run_id)
    n_cpus = cpus()
    app = f"perfbench-{args.workload}"
    event_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(event_dir, ignore_errors=True)
    os.makedirs(event_dir)

    steal0 = steal_share()
    spark = None
    try:
        with tracer.span("run"):
            setups = []
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                with tracer.span("setup") as st:
                    with tracer.span("session"):
                        spark = get_spark(n_cpus, app_name=app, extra_conf=spark_conf(False))
                    with tracer.span("warmup"):
                        warmup(spark)
                setups.append(st)
            passes, outputs, facts = run_passes(spark, wl, tracer, 0.0 if trace else args.seconds)
            peak = rss_hwm_mb(descendants(os.getpid()))
            if trace:
                ref = passes
                spark.stop()
                spark = get_spark(n_cpus, app_name=app, extra_conf=spark_conf(True))
                tracer.sc = spark.sparkContext
                passes, got, traced_facts = run_passes(spark, wl, tracer, args.seconds)
                outputs += got
                facts |= traced_facts
            wl.load_expected(spark)
            failed = 0
            for label, got in outputs:
                if isinstance(got, Exception):
                    print(f"perfbench: {label} raised {got!r}", file=sys.stderr)
                    failed += 1
                elif not wl.check(label, got):
                    print(f"perfbench: {label} differs from its expected value", file=sys.stderr)
                    failed += 1
    finally:
        if spark is not None:
            stop_spark(spark)

    steal1 = steal_share()
    untraced = ref if trace else passes
    warm = untraced[UNMEASURED:]
    pass_s = statistics.median(p.seconds for p in warm)
    attempted = len(outputs)
    # end-to-end figures of the untraced passes; BENCHMARK.json's
    # end_to_end metrics (E2E) are the ones steady enough to bound, the
    # rest are printed alongside
    figures = {
        "setup_s": (statistics.median(s.seconds for s in setups), "s"),
        "pass_cpu_s": (statistics.median(facts[p.id]["cpu_s"] for p in warm), "s"),
        "cold_pass_s": (untraced[0].seconds, "s"),
        "pass_s": (pass_s, "s"),
        "peak_rss_mb": (peak, "MB"),
        "fail_ratio": (failed / attempted, "ratio"),
    }
    if args.workload == "kg_build":
        figures["turns_per_s"] = (wl.turns / pass_s, "1/s")
    if trace:
        import layers

        logs = [layers.stage_report.load(os.path.join(event_dir, a))
                for a in sorted(os.listdir(event_dir))]
        values = layers.compute(tracer, logs, ref, passes, setups, facts, UNMEASURED)
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in layers.PER_LAYER}
        results = os.path.join(WORK, "results")
        tracer.dump(os.path.join(results, f"{run_id}-spans.json"))
        with open(os.path.join(results, f"{run_id}-stages.json"), "w") as f:
            json.dump(layers.stage_rows(tracer, logs, passes), f, indent=1)
    else:
        metrics = {k: {"value": float(figures[k][0]), "unit": figures[k][1]} for k in E2E}

    info = {
        "workload": args.workload, "seed": args.seed, "trace": int(trace),
        "turns": wl.turns, "files": wl.files, "passes": len(passes),
        "cpus": n_cpus, "driver_memory": DRIVER_MEM,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(), "commit": git_commit(),
        "source_digest": source_digest(),
        "cpu_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
    } | {k: v for k, (v, _) in figures.items()}
    table = [f"{k:<36} {v['value']:>16.6g} {v['unit']}" for k, v in metrics.items()]
    table += [f"{k:<36} {v:>16.6g} {u}" for k, (v, u) in figures.items() if k not in metrics]
    table.append(f"{'attempted / failed':<36} {attempted:>10} / {failed}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, info, table


if __name__ == "__main__":
    sys.path.insert(0, BENCH_DIR)
    raise SystemExit(main(sys.argv[1:]))
