"""``tools/graph_jobs.plan_digest``: a plan's digest does not depend on
what the process planned before it."""

from tools.graph_jobs import plan_digest

PLAN = ("Project [transform(scores#12, lambdafunction((lambda {v} * 2.0), "
        "lambda {v}, false)) AS {col}#31]\n+- Relation [scores#12] parquet")


def test_lambda_variable_names_are_masked():
    assert plan_digest(PLAN.format(v="x_1#5", col="out")) == plan_digest(
        PLAN.format(v="x_60#9", col="out"))


def test_column_names_still_count():
    assert plan_digest(PLAN.format(v="x_1#5", col="out")) != plan_digest(
        PLAN.format(v="x_1#5", col="out2"))
