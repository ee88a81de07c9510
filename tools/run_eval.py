"""Standalone triple-set evaluation job (E4): compare a predictions
triple table against a gold triple table (parquet or CSV with header),
printing the reference metric dict (P/R/F1 + error taxonomy). A CSV
table's columns are read by position as ``spans.TRIPLE_SCHEMA``.

    spark-submit --py-files dist/denrl_spark.zip tools/run_eval.py \
        --pred /path/pred_triples --gold /path/gold_triples
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from denrl_spark.operators.spans import TRIPLE_SCHEMA  # noqa: E402


def load(spark, path: str):
    if path.endswith(".csv") or os.path.isdir(path) and any(
        f.endswith(".csv") for f in os.listdir(path)
    ):
        return spark.read.option("header", True).schema(TRIPLE_SCHEMA).csv(path)
    return spark.read.parquet(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pred", required=True)
    ap.add_argument("--gold", required=True)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from denrl_spark.operators.evaluate import triple_metrics
    from denrl_spark.session import get_spark

    spark = get_spark(
        args.cpus, app_name="denrl_eval",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    m = triple_metrics(load(spark, args.pred), load(spark, args.gold))
    print(json.dumps(m))


if __name__ == "__main__":
    main()
