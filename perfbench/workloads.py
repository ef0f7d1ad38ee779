"""The benchmark's workloads, their frozen query lists and their ops.

An *op* is one query built and run to the ``noop`` sink, then its
pins released, or one single-row scoring request.
Each query list is frozen by name from one census run of
``select_queries.py`` (see README.md); it is never re-derived at run
time, so a change that removes a query's eager jobs does not move the
query to another workload.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.ml import fit_loan_model, predict_single_row
from loan_default_prediction_app_big_data_spark.ml.serving import extract_serving_params, predict_local
from loan_default_prediction_app_big_data_spark.pinning import release_local_checkpoints
from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY
from loan_default_prediction_app_big_data_spark.schema import LOAN_FEATURES
from loan_default_prediction_app_big_data_spark.sources.readers import read_loan_csv

from env import ROOT

LOAN_CSV = os.path.join(ROOT, "data", "Loan_Default.csv")

# From one census (sf0.01, seed 1, local[4]): the queries whose build
# ran no Spark job, outside the streaming/sink tags, whose build plus
# execute took under 0.5 s (201 of 301): the first 8 of
# random.Random(0).sample(sorted(candidates), 16).
QUERY_MIX = (
    "negative_sampling_plan",
    "window_lag_lead",
    "pareto_customers",
    "benfords_law_digits",
    "governed_view_masking",
    "quantile_normalization",
    "q17_small_quantity_revenue",
    "open_backlog_aging",
)

# Build-heavy queries from the same census, one per mechanism the
# build layer owns: MinHash clustering that runs 21 eager jobs and
# pins intermediates, some of which outlive the release
# (neardup_clusters), a streaming replay with a dedup state store
# (streaming_dedup), and a Delta MERGE round trip that writes table
# files (delta_merge_upsert).
BUILD_HEAVY = (
    "neardup_clusters",
    "streaming_dedup",
    "delta_merge_upsert",
)


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]  # each pass runs every query once
    scoring: int  # single-row scoring requests per pass
    loan_replicas: int  # copies of the loan table the model is fit on
    timed_fits: int  # fits timed for fit_s, after one untimed cold fit
    warm_passes: int  # untimed passes between the check pass and the window


#: Why each workload exists is in BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("query_mix", QUERY_MIX, scoring=2, loan_replicas=1, timed_fits=2, warm_passes=1),
        Workload("build_heavy", BUILD_HEAVY, scoring=0, loan_replicas=100, timed_fits=1, warm_passes=0),
    )
}


def query_op(spark, name: str, sf_dir: str, probe) -> None:
    """Build one query, run it to the noop sink, release its pins."""
    with probe.phase("build"):
        df = REGISTRY[name].fn(spark, sf_dir)
    with probe.phase("execute"):
        df.write.format("noop").mode("overwrite").save()
    with probe.phase("release"):
        release_local_checkpoints(df)


def check_query(spark, name: str, sf_dir: str, con) -> str | None:
    """Compare one query's result with its DuckDB oracle; the mismatch text, or None."""
    from tests._oracle import compare

    spec = REGISTRY[name]
    if spec.oracle is None:
        raise ValueError(f"{name} has no oracle; the frozen lists hold only oracle-checked queries")
    df = spec.fn(spark, sf_dir)
    try:
        errs = compare(df, con.execute(spec.oracle).df())
    finally:
        release_local_checkpoints(df)
    return "; ".join(errs) or None


def write_loan_replica(spark, out_dir: str, replicas: int, seed: int) -> str:
    """The loan table ``replicas`` times over, loan_amount and income
    jittered by up to +-10% from a hash of (ID, copy, seed)."""
    jitter = (F.xxhash64("ID", "rep", F.lit(seed)) % 1000) / 10000.0
    (
        read_loan_csv(spark, LOAN_CSV)
        .crossJoin(spark.range(replicas).select(F.col("id").alias("rep")))
        .withColumn("loan_amount", (F.col("loan_amount") * (1 + jitter)).cast("int"))
        .withColumn("income", (F.col("income") * (1 + jitter)).cast("int"))
        .drop("rep")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return out_dir


def fit(spark, replica_dir: str, probe):
    with probe.phase("fit"):
        return fit_loan_model(spark.read.parquet(replica_dir))


def fit_signature(model) -> tuple:
    """What must repeat exactly when the same seed is fit again."""
    return (model.roc_auc, model.accuracy, tuple(model.objective_history))


def scoring_requests(seed: int):
    """Endless seeded single-row requests: complete rows of the loan
    table with loan_amount and income jittered by up to +-5%."""
    rows = pd.read_csv(LOAN_CSV, usecols=LOAN_FEATURES).dropna().to_numpy(dtype=float)
    rng = np.random.default_rng(seed)
    jitter_cols = [LOAN_FEATURES.index("loan_amount"), LOAN_FEATURES.index("income")]
    while True:
        x = rows[rng.integers(len(rows))].copy()
        x[jitter_cols] *= 1 + rng.uniform(-0.05, 0.05, 2)
        yield dict(zip(LOAN_FEATURES, x.tolist()))


class Scorer:
    """Single-row scoring against one fitted model, checked off the clock
    against the driver-local scorer on the same row."""

    def __init__(self, model) -> None:
        self.model = model
        self.params = extract_serving_params(model.pipeline_model, model.lr_model)

    def op(self, spark, features: dict, probe) -> dict:
        with probe.phase("serve"):
            return predict_single_row(spark, self.model.pipeline_model, self.model.lr_model, features)

    def check(self, features: dict, served: dict) -> str | None:
        want = predict_local(self.params, features)["final_prediction"]
        if served["final_prediction"] != want:
            return f"final_prediction {served['final_prediction']} != predict_local {want} for {features}"
        return None
