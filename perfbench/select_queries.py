"""Census that the benchmark's frozen query lists were chosen from.

Runs every registered query once on generated tables, splitting its
time into build (the body of ``REGISTRY[name].fn``, including any Spark
jobs it runs eagerly) and execute (the noop-sink write), counting the
Spark jobs of each phase by job group, and checking the result against
its DuckDB oracle. Prints one JSON object per query, then a summary of
the candidate lists. The lists in ``workloads.py`` are frozen by name
from one such census; this script is never run by the benchmark.

    python3 perfbench/select_queries.py --sf 0.01 --seed 1 > census.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--names", nargs="*")
    args = ap.parse_args()
    env.configure()

    import datagen
    from loan_default_prediction_app_big_data_spark.pinning import release_local_checkpoints
    from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY
    from loan_default_prediction_app_big_data_spark.session import get_spark
    from tests._oracle import compare, duckdb_connection

    sf_dir = datagen.write(os.path.join(env.SCRATCH, f"census_sf{args.sf}_seed{args.seed}"), args.sf, args.seed)
    spark = get_spark(app_name="perfbench-census", extra_conf=env.jvm_conf())
    sc = spark.sparkContext
    con = duckdb_connection(sf_dir)
    summary = {"build0": [], "build5": [], "stream_sink": []}
    for name in args.names or list(REGISTRY):
        spec = REGISTRY[name]
        rec = {"name": name, "tags": list(spec.tags)}
        try:
            sc.setJobGroup(f"build:{name}", name)
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            rec["build_s"] = round(time.perf_counter() - t0, 3)
            rec["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"build:{name}"))
            sc.setJobGroup(f"exec:{name}", name)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec["execute_s"] = round(time.perf_counter() - t0, 3)
            rec["execute_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"exec:{name}"))
            sc.setJobGroup("check", "check")
            errs = compare(df, con.execute(spec.oracle).df()) if spec.oracle else []
            rec["rows"] = df.count()
            rec["oracle_ok"] = not errs
            if errs:
                rec["error"] = errs[0][:300]
            release_local_checkpoints(df)
        except Exception as exc:  # keep the census going past one failure
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        print(json.dumps(rec), flush=True)
        if "error" in rec:
            continue
        streamy = {"streaming", "sink"} & set(spec.tags)
        if streamy:
            summary["stream_sink"].append(name)
        elif rec["build_jobs"] == 0:
            summary["build0"].append(name)
        elif rec["build_jobs"] >= 5:
            summary["build5"].append(name)
    print(json.dumps({k: [len(v), v] for k, v in summary.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
