"""Spark jobs, tasks and Arrow Python tasks per micro-batch of
``stream_graph_deltas``. Usage:

    python tools/stream_extract_jobs.py OUT_JSON LABEL

Input: ``transcripts(spark, 40, seed=42)`` written as parquet (8 files)
and streamed with ``max_files_per_trigger=2``, so 4 micro-batches, in
one ``local[4]`` session. Each micro-batch's foreachBatch call runs
under its own job group; after the stream drains, the group's jobs and
the tasks their stages completed are read from
``statusTracker()``. Arrow Python tasks are the tasks of stages that
report the Python runner's SQL metrics, read from the session's
uncompressed event log (``perfbench/stage_report.py``). Seconds per
micro-batch are recorded too, as a single run's wall time.

LABEL names the run recorded in OUT_JSON ("parent", "change", ...); an
existing OUT_JSON is updated in place, so invocations on two checkouts
fill one file.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")


def measure(work: str) -> dict[int, dict]:
    """{micro-batch id: jobs, tasks, python_tasks, seconds}; ``work``
    holds the input, the delta log and the event log."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from denrl_spark.session import get_spark
    from denrl_spark.sources.corpus import transcripts
    from denrl_spark.streaming.ingest import stream_graph_deltas, stream_transcripts
    from perfbench.stage_report import PY_RUN, load

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = get_spark(4, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    })
    sc = spark.sparkContext
    seconds: dict[int, float] = {}
    orig = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        def grouped(df, batch_id):
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"mb{batch_id}", f"micro-batch {batch_id}")
            t0 = time.perf_counter()
            try:
                func(df, batch_id)
            finally:
                seconds[batch_id] = round(time.perf_counter() - t0, 2)
                sc.setLocalProperty("spark.jobGroup.id", prev)

        return orig(self, grouped)

    DataStreamWriter.foreachBatch = foreach_batch
    src = os.path.join(work, "in")
    transcripts(spark, 40, seed=42).write.parquet(src)
    q = stream_graph_deltas(
        stream_transcripts(spark, src, max_files_per_trigger=2),
        os.path.join(work, "sink"), os.path.join(work, "ck"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    time.sleep(2)  # let the listener bus settle the last task ends
    st = sc.statusTracker()
    batches = {}
    for b in sorted(seconds):
        jobs = st.getJobIdsForGroup(f"mb{b}")
        stages = {s for j in jobs for s in st.getJobInfo(j).stageIds}
        tasks = sum(st.getStageInfo(s).numCompletedTasks for s in stages
                    if st.getStageInfo(s) is not None)
        batches[b] = {"jobs": len(jobs), "tasks": tasks, "python_tasks": 0,
                      "seconds": seconds[b]}
    spark.stop()
    (log,) = glob.glob(os.path.join(log_dir, "*"))
    for s in load(log).stages:
        if s.group and s.group.startswith("mb"):
            batches[int(s.group[2:])]["python_tasks"] += sum(
                1 for t in s.tasks if PY_RUN in t.py
            )
    return batches


def main() -> int:
    out_path, label = sys.argv[1], sys.argv[2]
    work = tempfile.mkdtemp(prefix="stream_extract_")
    try:
        batches = measure(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for b, row in batches.items():
        print(f"micro-batch {b}: {row}", flush=True)

    doc = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            doc = json.load(f)
    doc.update(
        master="local[4]",
        input="transcripts(spark, 40, seed=42), 8 parquet files, "
              "max_files_per_trigger=2",
        method="job group per foreachBatch call; jobs and completed tasks "
               "from statusTracker, Arrow Python tasks from the event log "
               "(stages reporting the Python runner metrics)",
    )
    doc.setdefault("runs", {})[label] = {str(b): r for b, r in batches.items()}
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
