"""CPU of the fused extraction kernel's Python body, in-process, no Spark.

Runs what one ``extract_triples_fused`` task runs on its Arrow batches:
``_KBTables``, then ``_batch_triples`` per batch (tagging, the gold or
pred labels of every span pair, and the output frame). The input is the kg_build corpus of a seed
(``perfbench.inputs.transcript_rows(seed, range(1000))``, the rows the
benchmark's parquet holds), cut into pandas batches of 10,000 rows (the
session's ``spark.sql.execution.arrow.maxRecordsPerBatch``). Usage:

    python tools/fused_kernel_cpu.py [seed ...]   # default: seeds 1 2

Prints one JSON line per (seed, mode): the minimum process CPU seconds
over REPS repetitions and every repetition, the output row count, and
an order-sensitive sha256 of the output frames (row hashes in output
order), so two checkouts that emit the same rows in the same order print
the same digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

from denrl_spark.operators import fused  # noqa: E402
from denrl_spark.sources.kb import KB  # noqa: E402
from perfbench.inputs import transcript_rows  # noqa: E402

REPS = 5
N_CONVS = 1000
BATCH_ROWS = 10_000


def kernel(batches: list[pd.DataFrame], kb: KB, mode: str) -> list[pd.DataFrame]:
    tab = fused._KBTables(kb)
    return [fused._batch_triples(pdf, kb, tab, mode) for pdf in batches]


def digest(frames: list[pd.DataFrame]) -> str:
    h = hashlib.sha256()
    for f in frames:
        h.update(pd.util.hash_pandas_object(f, index=False).to_numpy().tobytes())
    return h.hexdigest()


def main(argv: list[str]) -> int:
    seeds = [int(a) for a in argv] or [1, 2]
    kb = KB.default()
    for seed in seeds:
        pdf = transcript_rows(seed, range(N_CONVS)).select(
            ["conv_id", "turn_idx", "text"]
        ).to_pandas()
        batches = [
            pdf.iloc[i : i + BATCH_ROWS].reset_index(drop=True)
            for i in range(0, len(pdf), BATCH_ROWS)
        ]
        for mode in ("gold", "pred"):
            cpu, frames = [], None
            for _ in range(REPS):
                t0 = time.process_time()
                frames = kernel(batches, kb, mode)
                cpu.append(round(time.process_time() - t0, 4))
            print(json.dumps({
                "seed": seed, "mode": mode, "turns": len(pdf),
                "rows_out": sum(len(f) for f in frames),
                "cpu_s_min": min(cpu), "cpu_s": cpu, "sha256": digest(frames),
            }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
