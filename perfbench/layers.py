"""Per-layer metrics of a traced run: spans + Spark event log.

Every name in ``PER_LAYER`` is reported on every workload; a layer the
workload does not call reads 0. Times are the median over the traced
warm passes, counts come from the last of them (they repeat exactly
from pass to pass), ``*_cold_s`` from the untraced cold pass that
opens a traced run (the traced session starts in an already warm JVM).
"""

from __future__ import annotations

import statistics

import stage_report
from tracing import Span, Tracer
from workloads import CORPUS_QUERIES

QUERY_SUFFIXES = (
    ("_s", "s"), ("_cold_s", "s"), ("_jobs", "count"),
    ("_checkpoint_jobs", "count"), ("_python_run_s", "s"),
)

PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("spark.python_start_s", "s"),
    ("fused.extract_s", "s"),
    ("fused.python_run_s", "s"),
    ("fused.python_bytes", "bytes"),
    ("fused.triples_out", "count"),
    ("graph.materialize_s", "s"),
    ("graph.shuffle_bytes", "bytes"),
    ("graph.edges_out", "count"),
    ("graph.vertices_out", "count"),
    ("io.write_s", "s"),
    ("io.bytes_written", "bytes"),
    *[(f"query.{q}{suf}", unit) for q in CORPUS_QUERIES for suf, unit in QUERY_SUFFIXES],
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_busy_s", "s"),
    ("spark.task_skew", "ratio"),
    ("spark.single_task_stage_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.gc_s", "s"),
    ("spark.driver_s", "s"),
    ("trace.pass_s", "s"),
    ("trace.reference_pass_s", "s"),
    ("trace.overhead_s", "s"),
]


class Attribution:
    """Event-log jobs and stages keyed by the span that submitted them:
    the job group when the job carries one, else the innermost span
    open at its submission time (jobs submitted from a thread that
    never had a group set)."""

    def __init__(self, tracer: Tracer, logs: list[stage_report.EventLog]):
        self.tracer = tracer
        self.jobs: dict[str, list] = {}
        self.stages: dict[str, list] = {}
        known = {s.id for s in tracer.spans}
        for log in logs:
            for items, into in ((log.jobs, self.jobs), (log.stages, self.stages)):
                for it in items:
                    key = it.group if it.group in known else None
                    if key is None:
                        s = tracer.innermost_at(it.submit_ms / 1000)
                        key = s.id if s else None
                    if key is not None:
                        into.setdefault(key, []).append(it)

    def row(self, span: Span) -> dict:
        ids = {span.id} | self.tracer.descendants(span)
        jobs = [j for i in ids for j in self.jobs.get(i, [])]
        stages = [s for i in ids for s in self.stages.get(i, [])]
        return stage_report.summarize(jobs, stages)


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def compute(tracer: Tracer, logs, ref: list[Span], passes: list[Span],
            setups: list[Span], facts: dict[str, dict], unmeasured: int) -> dict[str, float]:
    """``ref``: the untraced passes of the traced run (the cold pass
    first, the reference pass last); ``passes``: its traced passes, the
    first ``unmeasured`` of which are left out; ``facts``: per-pass
    values only the workload knows (output row counts, bytes written),
    keyed by pass span id."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    att = Attribution(tracer, logs)
    warm = passes[unmeasured:]
    last = warm[-1]

    def layer(p: Span, name: str) -> list[Span]:
        return tracer.children(p, name)

    def wall(p: Span, name: str) -> float:
        return sum(s.seconds for s in layer(p, name))

    def rows(p: Span, name: str) -> list[dict]:
        return [att.row(s) for s in layer(p, name)]

    m["session.start_s"] = _med([s.seconds for st in setups for s in tracer.children(st, "session")])
    m["spark.python_start_s"] = sum(
        r["python_start_s"] for log in logs for r in stage_report.report(log, lambda g, _t: "all").values()
    )

    lf = facts[last.id]
    if layer(last, "fused"):
        m["fused.extract_s"] = _med([wall(p, "fused") for p in warm])
        m["fused.python_run_s"] = _med([sum(r["python_run_s"] for r in rows(p, "fused")) for p in warm])
        m["fused.python_bytes"] = sum(r["python_bytes"] for r in rows(last, "fused"))
        m["fused.triples_out"] = lf["triples_out"]
    if layer(last, "graph"):
        m["graph.materialize_s"] = _med([wall(p, "graph") for p in warm])
        m["graph.shuffle_bytes"] = sum(
            r["shuffle_read_bytes"] + r["shuffle_write_bytes"] for r in rows(last, "graph")
        )
        m["graph.edges_out"] = lf["edges_out"]
        m["graph.vertices_out"] = lf["vertices_out"]
    if layer(last, "io"):
        m["io.write_s"] = _med([wall(p, "io") for p in warm])
    if "bytes_written" in lf:
        m["io.bytes_written"] = lf["bytes_written"]

    for q in CORPUS_QUERIES:
        if not layer(last, q):
            continue
        m[f"query.{q}_s"] = _med([wall(p, q) for p in warm])
        m[f"query.{q}_cold_s"] = wall(ref[0], q)
        r = rows(last, q)[0]
        m[f"query.{q}_jobs"] = r["jobs"]
        m[f"query.{q}_checkpoint_jobs"] = r["checkpoint_stages"]
        m[f"query.{q}_python_run_s"] = _med([rows(p, q)[0]["python_run_s"] for p in warm])

    per_pass = [att.row(p) | {"wall": p.seconds} for p in warm]
    lr = per_pass[-1]
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = lr[k]
    for k, src in (
        ("task_busy_s", "busy_s"), ("task_skew", "task_skew"),
        ("single_task_stage_s", "single_task_stage_s"),
        ("shuffle_read_bytes", "shuffle_read_bytes"),
        ("shuffle_write_bytes", "shuffle_write_bytes"),
        ("spill_bytes", "spill_bytes"), ("gc_s", "gc_s"),
    ):
        m[f"spark.{k}"] = _med([r[src] for r in per_pass])
    m["spark.driver_s"] = _med([r["wall"] - r["job_cover_s"] for r in per_pass])

    m["trace.pass_s"] = _med([p.seconds for p in warm])
    m["trace.reference_pass_s"] = ref[-1].seconds
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.reference_pass_s"]
    return m


def stage_rows(tracer: Tracer, logs, passes: list[Span]) -> list[dict]:
    """Per-job-group stage report rows of the traced run, for the trace file."""
    att = Attribution(tracer, logs)
    out = []
    for p in passes:
        for s in tracer.children(p):
            r = att.row(s)
            out.append({"group": tracer.path(s), "pass": passes.index(p)} | r)
    return out
