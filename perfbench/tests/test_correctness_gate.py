"""The correctness gate end to end: a kg_build run passes against its
expected digests, and the same run against a corrupted expected value
reports failed outputs and exits non-zero. Starts Spark twice (about two
minutes at local[4]).

    python3 -m pytest perfbench/tests/test_correctness_gate.py -q
"""

import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from workloads import KG_CONVS, KG_FILES  # noqa: E402

SEED = 424242
EXPECTED = os.path.join(BENCH, ".cache", "expected", f"kg_build-seed{SEED}-n{KG_CONVS}-f{KG_FILES}.json")


def run_kg_build() -> tuple[int, dict, dict]:
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_build", "--seed", str(SEED),
         "--seconds", "0", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = r.stdout.strip().splitlines()
    return r.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def test_corrupted_expected_value_fails_the_run():
    if os.path.exists(EXPECTED):
        os.remove(EXPECTED)
    try:
        code, info, result = run_kg_build()  # computes the expected digests
        assert (code, result["correct"], result["failed"], info["fail_ratio"]) == (0, True, 0, 0.0)
        assert result["attempted"] == 3 * info["passes"]

        with open(EXPECTED) as f:
            exp = json.load(f)
        exp["edges"][1] = "0" * 64
        with open(EXPECTED, "w") as f:
            json.dump(exp, f)

        code, info, result = run_kg_build()
        assert code != 0
        assert result["correct"] is False
        assert result["failed"] == info["passes"]  # the edges of every pass
        assert info["fail_ratio"] > 0
    finally:
        if os.path.exists(EXPECTED):
            os.remove(EXPECTED)
