"""Spark job count per graph query: each query runs under its own job
group, is forced with the ``noop`` sink (so column pruning cannot skip
work), and the jobs Spark recorded for the group are counted through
``statusTracker().getJobIdsForGroup``. Each query's optimized logical
plan is recorded as a digest (``plan_digest``), so two checkouts can
show that a refactor left the plans unchanged. Usage:

    python tools/graph_jobs.py SF_DIR OUT_JSON LABEL [REPS [Q1,Q2,...]]

LABEL names the run recorded in OUT_JSON ("before", "after", ...); an
existing OUT_JSON is updated in place, so invocations on two checkouts
fill one file. Each query (default: the 16 below) runs REPS times
(default 2) in one ``local[4]`` session; every repetition's count is
recorded.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, ".")

GRAPH_QUERIES = [
    "kg_edges_by_doc", "kg_vertices_by_doc", "kg_components", "kg_pagerank",
    "kg_hits", "kg_katz", "kg_stress", "kg_bfs", "kg_kcore", "kg_ktruss",
    "kg_communities", "kg_scc", "kg_random_walks", "kg_sssp",
    "kg_closeness", "kg_coreness",
]


def plan_digest(plan: str) -> str:
    """sha256 prefix of a plan string with its process-dependent names
    masked: lambda variables (``lambda x_60#9``, named from pyspark's
    process-global counter) and then expression ids (``#12``, ``#7L``)."""
    masked = re.sub(r"#\d+L?", "#", re.sub(r"lambda \w+#\d+L?", "lambda #", plan))
    return hashlib.sha256(masked.encode()).hexdigest()[:16]


def main() -> int:
    sf_dir, out_path, label = sys.argv[1], sys.argv[2], sys.argv[3]
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    names = sys.argv[5].split(",") if len(sys.argv) > 5 else GRAPH_QUERIES
    import __spark_entry__ as e
    from denrl_spark.session import get_spark

    spark = get_spark(4, extra_conf={"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    qs = e.queries()
    counts: dict[str, list[int]] = {}
    plans: dict[str, str] = {}
    for name in names:
        counts[name] = []
        for rep in range(reps):
            group = f"{name}#{rep}"
            sc.setJobGroup(group, name)
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            counts[name].append(len(sc.statusTracker().getJobIdsForGroup(group)))
        plans[name] = plan_digest(str(df._jdf.queryExecution().optimizedPlan().toString()))
        print(name, counts[name], plans[name], flush=True)
    doc = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            doc = json.load(f)
    doc.update(sf_dir=os.path.basename(sf_dir.rstrip("/")),
               master="local[4]", method="setJobGroup + "
               "statusTracker().getJobIdsForGroup, noop sink")
    doc.setdefault("runs", {})[label] = counts
    doc.setdefault("plan_digests", {})[label] = plans
    with open(out_path, "w") as f:
        text = json.dumps(doc, indent=1, sort_keys=True)
        # one line per query: [n_rep0, n_rep1, ...]
        f.write(re.sub(r"\[\s+([\d,\s]+?)\s+\]",
                       lambda m: "[" + " ".join(m.group(1).split()) + "]",
                       text) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
