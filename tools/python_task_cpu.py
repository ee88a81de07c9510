"""Fixed worker CPU of one Arrow Python task: runs a trivial
``mapInPandas(lambda it: it)`` job (no UDF work) at a few task counts in
one ``local[4]`` session and reads the CPU seconds (user + system, from
/proc) that the Python daemon and its workers spent on each job, then the
same over an idle window. Then it stops the context and starts FRESH
new ones in the same JVM, each with a new Python daemon, and times the
set-up that perfbench's ``setup_s`` times: ``get_spark``, one JVM job and
one Arrow job over every task slot (the Arrow warm-up, which starts the
daemon and its workers). Usage:

    python tools/python_task_cpu.py

Runs each task count REPS times and prints one JSON object: per task
count, the worker CPU of every repetition and its value per task; the
worker CPU of the idle window; and the wall seconds of each fresh
context's three set-up steps.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from perfbench.run import cpu_s, descendants  # noqa: E402

REPS = 5
TASK_COUNTS = (4, 8)
IDLE_S = 5.0
FRESH = 8


def worker_cpu_s() -> float:
    """CPU seconds of the Python processes the JVM forked."""
    pids = []
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().startswith("python"):
                    pids.append(p)
        except OSError:
            continue
    return cpu_s(pids)


def main() -> int:
    from denrl_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    spark = get_spark(4, extra_conf=conf)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def job(n: int) -> None:
        df = spark.range(0, 1000 * n, numPartitions=n)
        noop(df.mapInPandas(lambda it: it, df.schema))

    for n in TASK_COUNTS:  # warm-up: the daemon and one worker per core exist
        job(n)
    out: dict = {"cpus": 4, "reps": REPS, "tasks": {}}
    for n in TASK_COUNTS:
        runs = []
        for _ in range(REPS):
            before = worker_cpu_s()
            job(n)
            runs.append(round(worker_cpu_s() - before, 3))
        out["tasks"][str(n)] = {
            "worker_cpu_s": runs,
            "worker_cpu_s_per_task": [round(r / n, 3) for r in runs],
        }
    before = worker_cpu_s()
    time.sleep(IDLE_S)
    out["idle"] = {"seconds": IDLE_S, "worker_cpu_s": round(worker_cpu_s() - before, 3)}
    steps: dict[str, list[float]] = {"get_spark_s": [], "jvm_warmup_s": [], "arrow_warmup_s": []}
    for _ in range(FRESH):  # the same two warm-up jobs as perfbench's set-up
        spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(4, extra_conf=conf)
        t1 = time.perf_counter()
        noop(spark.range(0, 10_000, 1, 4))
        t2 = time.perf_counter()
        noop(spark.range(0, 4, 1, 4).mapInPandas(lambda it: it, "id long"))
        t3 = time.perf_counter()
        for k, dt in zip(steps, (t1 - t0, t2 - t1, t3 - t2)):
            steps[k].append(round(dt, 3))
    out["fresh_contexts"] = steps
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
