"""The benchmark workloads.

Each workload is a closed loop with one client. ``run_pass`` is the
timed body: it calls the public ``denrl_spark`` functions for one pass,
inside tracer spans named after the layer it calls, and returns a
handle on what the pass produced. ``collect`` runs after the pass span
has closed: it reads the outputs back and returns them as (label,
value) pairs plus the per-pass facts the per-layer report needs, so
neither the read-back nor the digests count toward the pass time.
``check`` compares one output with its expected value: a DuckDB oracle
for the query mix, the modular operator chain for the KG build.
Outputs are forced with Spark's ``noop`` sink (or a real parquet sink
where writing is part of the job), never ``count()``, so column pruning
cannot skip work.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow.parquet as pq

from inputs import Corpus, oracle_results, query_tables, transcript_corpus

EDGE_COLS = ("src_id", "src_surface", "pred", "dst_id", "dst_surface",
             "n_obs", "n_sents", "first_sent_id", "last_sent_id")
VERTEX_COLS = ("canonical_id", "canonical_surface", "types", "n_mentions")
TRIPLE_COLS = ("sent_id", "ent1", "ent1_tag", "ent2", "ent2_tag")

# dedup_clusters and sim_lsh_topk are left out: together they cost
# about as much as the other seven, and a run must stay under a minute
CORPUS_QUERIES = (
    "dedup_lsh_pairs", "dedup_jaccard_pairs", "text_fingerprint",
    "text_tfidf_top_terms", "sim_cosine_topk", "rel_agg_stats",
    "rel_topk_per_group",
)

# kg_build input: conversations and parquet files. Sized so that a
# whole run, set-up and correctness check included, stays under a
# minute at local[4].
KG_CONVS = 1000
KG_FILES = 8


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest(rows, cols: tuple[str, ...]) -> tuple[int, str]:
    """(row count, sha256) of a row multiset; array cells compare as
    sorted tuples (collect_set order is not defined)."""
    keys = []
    for r in rows:
        vals = tuple(tuple(sorted(v)) if isinstance(v, list) else v for v in (r[c] for c in cols))
        keys.append(repr(vals))
    keys.sort()
    return len(keys), hashlib.sha256("\n".join(keys).encode()).hexdigest()


def frame_digest(df, cols: tuple[str, ...]) -> tuple[int, str]:
    return digest([r.asDict() for r in df.collect()], cols)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    name = ""

    def __init__(self, cache_dir: str, work_dir: str, seed: int):
        self.cache_dir, self.seed = cache_dir, seed
        self.work_dir = os.path.join(work_dir, self.name)
        shutil.rmtree(self.work_dir, ignore_errors=True)
        os.makedirs(self.work_dir)
        self.expected: dict = {}
        # input facts recorded in every result
        self.turns = 0
        self.files = 0

    def run_pass(self, spark, tracer, i: int):
        raise NotImplementedError

    def collect(self, spark, handle) -> tuple[list[tuple[str, object]], dict]:
        raise NotImplementedError

    def load_expected(self, spark) -> None:
        """Fill ``self.expected``; may run Spark (after the timed passes)."""

    def check(self, label: str, got) -> bool:
        return got == self.expected[label]


class KgBuild(Workload):
    """Batch KG construction over a seeded transcript corpus."""

    name = "kg_build"

    def __init__(self, cache_dir, work_dir, seed):
        super().__init__(cache_dir, work_dir, seed)
        self.corpus: Corpus = transcript_corpus(cache_dir, seed, KG_CONVS, KG_FILES)
        self.turns, self.files = self.corpus.turns, self.corpus.files

    def load_expected(self, spark) -> None:
        """The modular chain's digests, computed once per (seed, size)."""
        path = os.path.join(
            self.cache_dir, "expected", f"{self.name}-seed{self.seed}-n{KG_CONVS}-f{KG_FILES}.json"
        )
        if not os.path.exists(path):
            exp = self.modular(spark)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(f"{path}.tmp", "w") as f:
                json.dump(exp, f)
            os.replace(f"{path}.tmp", path)
        with open(path) as f:
            self.expected = {k: tuple(v) for k, v in json.load(f).items()}

    def run_pass(self, spark, tracer, i):
        from denrl_spark.operators.fused import extract_triples_fused
        from denrl_spark.operators.graph import materialize_graph
        from denrl_spark.sources.io import write_table
        from denrl_spark.sources.kb import KB

        out = os.path.join(self.work_dir, "out")
        shutil.rmtree(out, ignore_errors=True)
        tr = spark.read.parquet(self.corpus.path)
        with tracer.span("fused"):
            # cached: the triples feed both the triples sink and the graph
            trips = extract_triples_fused(tr, KB.default(), mode="pred").cache()
            noop(trips)
        with tracer.span("io"):
            write_table(trips, f"{out}/triples")
        with tracer.span("graph"):
            vertices, edges = materialize_graph(trips, eager="both")
        with tracer.span("io"):
            write_table(edges, f"{out}/edges")
            write_table(vertices, f"{out}/vertices")
        trips.unpersist()
        return out

    def collect(self, spark, out):
        got = [
            (label, digest(pq.read_table(f"{out}/{label}").to_pylist(), cols))
            for label, cols in (("triples", TRIPLE_COLS), ("edges", EDGE_COLS),
                                ("vertices", VERTEX_COLS))
        ]
        facts = {
            "bytes_written": dir_bytes(out), "triples_out": got[0][1][0],
            "edges_out": got[1][1][0], "vertices_out": got[2][1][0],
        }
        return got, facts

    def modular(self, spark) -> dict:
        """The modular chain the fused kernel replaces: instances ->
        Viterbi scoring (empty relation BoW) -> span assembly -> graph."""
        from denrl_spark.operators.graph import materialize_graph
        from denrl_spark.operators.scoring import score_instances
        from denrl_spark.operators.spans import assemble_triples
        from denrl_spark.operators.tagging import build_instances
        from denrl_spark.sources.kb import KB

        kb = KB.default()
        ins = build_instances(spark.read.parquet(self.corpus.path), kb).cache()
        scored = score_instances(ins, kb, {}, pre_partitioned=True, emit_attention=False)
        trips = assemble_triples(scored, tags_col="pred_tags", assume_grouped=True).cache()
        vertices, edges = materialize_graph(trips, eager="both")
        exp = {
            "triples": frame_digest(trips, TRIPLE_COLS),
            "edges": frame_digest(edges, EDGE_COLS),
            "vertices": frame_digest(vertices, VERTEX_COLS),
        }
        trips.unpersist()
        ins.unpersist()
        return exp


class CorpusQuery(Workload):
    """The JVM-only query mix; ``--seed`` sets the query order of each pass."""

    name = "corpus_query"
    queries = CORPUS_QUERIES

    def __init__(self, cache_dir, work_dir, seed):
        super().__init__(cache_dir, work_dir, seed)
        self.data_dir = query_tables(cache_dir)
        self.expected = oracle_results(cache_dir, self.data_dir, list(self.queries))
        self.turns = pq.ParquetFile(f"{self.data_dir}/documents.parquet").metadata.num_rows
        self.files = len(os.listdir(self.data_dir))
        self._order = random.Random(seed)

    def run_pass(self, spark, tracer, i):
        from denrl_spark.plans.driver_queries import QUERIES

        order = list(self.queries)
        self._order.shuffle(order)
        got: list[tuple[str, object]] = []
        for name in order:
            try:
                with tracer.span(name):
                    # cached so the checked rows are the ones the noop
                    # sink forced, without running the query twice
                    df = QUERIES[name](spark, self.data_dir).cache()
                    noop(df)
                got.append((name, df))
            except Exception as e:  # a failing query is a counted failure
                got.append((name, e))
        return got

    def collect(self, spark, handle):
        from tools.check_contract import normalize

        got = []
        for name, df in handle:
            if not isinstance(df, Exception):
                pdf = normalize(df.toPandas())
                df.unpersist()
                df = pdf
            got.append((name, df))
        return got, {}

    def check(self, label, got) -> bool:
        from tools.check_contract import normalize

        exp = normalize(self.expected[label])
        return list(got.columns) == list(exp.columns) and got.equals(exp)


WORKLOADS = {w.name: w for w in (KgBuild, CorpusQuery)}
