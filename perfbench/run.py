"""spark-graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

A run generates its input tables from ``--seed`` (off the clock), sets
the session up several times, checks every query's output against its
DuckDB oracle once, fits the loan model, then runs passes of ops back
to back for ``--seconds``. Each op's latency is the median over its
repetitions, so a burst of interference on the host moves one sample,
not the figure. It prints each metric as ``name value unit`` and, as
its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run traces every other pass, so ``trace.overhead`` compares
the two halves of one run. The exit code is 1 if any op failed.

Runs write under ``<checkout>/.bench_tmp`` and ``<checkout>/.tmp_io``:
two runs must not share one checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402

#: Scale factor of the generated tables.
SF = 0.01
#: Sessions set up per run; setup_s is their median. The first
#: includes the JVM launch, so the median is a session restart.
SETUPS = 5
#: The op_s_tail percentile of the median pass. It is fixed rather than
#: "the highest with ten samples beyond it", which would rise as a
#: faster program fits more passes into a run and so read as a slower
#: tail.
TAIL_PCT = 90.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "fit_s": "s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.jvm_gc_s": "s",
    "sources.input_bytes": "B",
    "sources.input_records": "count",
    "sources.output_bytes": "B",
    "sources.output_records": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_s": "s",
    "plans.execute_s": "s",
    "plans.execute_jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.shuffle_read_bytes": "B",
    "plans.shuffle_write_bytes": "B",
    "plans.spill_bytes": "B",
    "plans.executor_run_s": "s",
    "plans.executor_cpu_s": "s",
    "pinning.pins_created": "count",
    "pinning.pins_outstanding": "count",
    "pinning.released": "count",
    "pinning.release_errors": "count",
    "pinning.release_s": "s",
    "pinning.released_per_pin": "ratio",
    "streaming.microbatches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.trigger_share": "ratio",
    "ml.fit_jobs": "count",
    "ml.fit_treeaggregate_jobs": "count",
    "ml.lbfgs_iterations": "count",
    "ml.serve_jobs_per_request": "count",
    "trace.overhead": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor (smoke test)")
    ap.add_argument("--inject-failure", type=int, default=0, metavar="N",
                    help="make the N-th timed op raise (failure-isolation self-test)")
    return ap.parse_args(argv)


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of the driver JVM and of this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return jvm_kb / 1024, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def steal_jiffies() -> int:
    """CPU time the hypervisor gave to other guests while this VM's
    CPUs wanted to run (``steal`` in /proc/stat), in clock ticks."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def shutdown(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit
    (it exits when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run_op(run, probe) -> tuple[float, str | None]:
    """Run one op in its own ``try``: its latency, not counting its
    off-the-clock output check, and its error text or None."""
    t0 = time.perf_counter()
    try:
        err = run(probe)
        dt = time.perf_counter() - t0
        if callable(err):
            err = err()
    except Exception as exc:  # isolate the op; the run goes on
        dt = time.perf_counter() - t0
        err = f"{type(exc).__name__}: {exc}"
        traceback.print_exc(file=sys.stderr)
    return dt, err


def injected_failure(probe):
    raise RuntimeError("injected failure")


class Run:
    def __init__(self, args, launch: dict) -> None:
        import workloads

        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.sf = args.sf or SF
        self.rng = random.Random(args.seed)
        self.dir = os.path.join(env.SCRATCH, f"run-{os.getpid()}")
        self.record: dict = {"workload": self.wl.name, "seed": args.seed, "sf": self.sf,
                             "seconds": args.seconds, "trace": args.trace, "launch": launch}
        self.spark = None
        self.tracer = None

    # -- set-up -------------------------------------------------------
    def setup(self) -> None:
        from loan_default_prediction_app_big_data_spark.session import get_spark

        conf = {**env.jvm_conf(), "spark.ui.showConsoleProgress": "false"}
        get_s, warm_s = [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
            t1 = time.perf_counter()
            self.warm_up()
            get_s.append(t1 - t0)
            warm_s.append(time.perf_counter() - t1)
        self.record["setup"] = {"get_spark_s": get_s, "warmup_s": warm_s}
        self.setup_s = statistics.median(g + w for g, w in zip(get_s, warm_s))

    def warm_up(self) -> None:
        """One small fixture query: JVM code paths, codegen, parquet footers.

        Python workers start lazily, per session, in the off-the-clock
        check pass; warming them here would make each of the SETUPS
        set-ups pay for them.
        """
        from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

        REGISTRY["count_rows"].fn(self.spark, self.data).write.format("noop").mode("overwrite").save()

    # -- off-the-clock checks and the model fit ------------------------
    def check_queries(self) -> dict[str, str]:
        """Each query once against its oracle (this pass also warms the session)."""
        import workloads
        from tests._oracle import duckdb_connection

        t0 = time.perf_counter()
        con = duckdb_connection(self.data)
        bad = {}
        for name in self.wl.queries:
            try:
                err = workloads.check_query(self.spark, name, self.data, con)
            except Exception as exc:  # one query's failure must not end the run
                err = f"{type(exc).__name__}: {exc}"
            if err:
                bad[name] = err[:500]
        con.close()
        self.record["check_s"] = time.perf_counter() - t0
        self.record["check_failures"] = bad
        return bad

    def fit_model(self):
        """One untimed cold fit (MLlib class loading and JIT), then the
        workload's timed fits of the same replica. fit_s is the median
        of the timed fits; every fit must give the same model."""
        import workloads
        from layers import NULL_PROBE

        replica = workloads.write_loan_replica(
            self.spark, os.path.join(self.dir, "loan_replica"), self.wl.loan_replicas, self.args.seed)
        times, models, fit_layers = [], [], {}
        for _ in range(1 + self.wl.timed_fits):
            probe = self.tracer.probe() if self.tracer else NULL_PROBE
            t0 = time.perf_counter()
            models.append(workloads.fit(self.spark, replica, probe))
            times.append(time.perf_counter() - t0)
            if self.tracer is not None:
                fit_layers = {
                    "ml.fit_jobs": len(probe.job_ids("fit")),
                    "ml.fit_treeaggregate_jobs": sum(
                        n.startswith("treeAggregate") for n in probe.job_names("fit")),
                    "ml.lbfgs_iterations": len(models[-1].objective_history),
                }
        sigs = {workloads.fit_signature(m) for m in models}
        self.fit_error = None if len(sigs) == 1 else f"{len(sigs)} different fits for one seed"
        m = models[0]
        self.record["fit"] = {"seconds": times, "roc_auc": m.roc_auc, "accuracy": m.accuracy,
                              "lbfgs_iterations": len(m.objective_history), "error": self.fit_error}
        self.fit_s = statistics.median(times[1:])
        self.fit_layers = fit_layers
        return m

    # -- the timed window ---------------------------------------------
    def passes(self):
        """Endless passes of (label, run(probe) -> check error or None).

        A pass runs every query of the workload once and its scoring
        requests, in a seeded order.
        """
        while True:
            ops = [(name, self._query_run(name)) for name in self.wl.queries]
            ops += [("score", self._score_run(next(self.requests))) for _ in range(self.wl.scoring)]
            self.rng.shuffle(ops)
            yield ops

    def start_scoring(self, model) -> None:
        """Fit the scorer and serve one checked request, off the clock:
        the first request in a session pays one-off costs."""
        import workloads
        from layers import NULL_PROBE

        self.scorer = workloads.Scorer(model)
        self.requests = workloads.scoring_requests(self.args.seed)
        features = next(self.requests)
        err = self.scorer.check(features, self.scorer.op(self.spark, features, NULL_PROBE))
        if err:
            self.bad["score"] = err

    def _score_run(self, features: dict):
        def run(probe):
            served = self.scorer.op(self.spark, features, probe)
            return lambda: self.fit_error or self.scorer.check(features, served)

        return run

    def _query_run(self, name: str):
        import workloads

        def run(probe):
            workloads.query_op(self.spark, name, self.data, probe)
            return self.bad.get(name)

        return run

    def warm(self, ops) -> None:
        """One untimed pass. After the check pass each op has run once,
        and the JIT is still compiling its hot paths: on query_mix the
        first timed pass was the slowest in 11 of 13 runs. On
        build_heavy the per-op median of three repetitions already
        absorbs it, and its runs have no time to spare."""
        from layers import NULL_PROBE

        for label, run in ops:
            _, err = run_op(run, NULL_PROBE)
            if err:  # recorded like a failed check
                self.bad.setdefault(label, err[:500])

    def pass_weights(self) -> dict[str, int]:
        """How often one pass runs each op label."""
        weights = dict.fromkeys(self.wl.queries, 1)
        if self.wl.scoring:
            weights["score"] = self.wl.scoring
        return weights

    def window(self, passes) -> None:
        """Passes back to back until ``--seconds`` have elapsed.

        An untraced run stops at the first op boundary
        past ``--seconds`` once every op has run. A traced run
        alternates untraced and traced passes and ends on a whole
        traced one, so both halves time every op.
        """
        from layers import NULL_PROBE

        lat, traced_lat = defaultdict(list), defaultdict(list)
        layer_recs, errors = [], []
        ops_log = self.record["ops"] = []
        labels = set(self.pass_weights())
        seen: set[str] = set()
        attempted = 0
        start = time.perf_counter()

        def over() -> bool:
            return time.perf_counter() - start >= self.args.seconds and seen == labels

        for n, ops in enumerate(passes, 1):
            traced = self.tracer is not None and n % 2 == 0
            for label, run in ops:
                attempted += 1
                seen.add(label)
                probe = self.tracer.probe() if traced else NULL_PROBE
                if attempted == self.args.inject_failure:
                    run = injected_failure
                st0 = steal_jiffies()
                dt, err = run_op(run, probe)
                ops_log.append([label, round(dt, 4), traced, steal_jiffies() - st0])
                if err:
                    errors.append(f"{label}: {err}"[:500])
                else:
                    (traced_lat if traced else lat)[label].append(dt)
                    if traced:
                        layer_recs.append(probe.layers())
                if self.tracer is None and over():
                    break
            if over() and (self.tracer is None or traced):
                break
        self.record["window_s"] = time.perf_counter() - start
        self.attempted, self.errors = attempted, errors
        self.lat, self.traced_lat, self.layer_recs = lat, traced_lat, layer_recs

    # -- results ------------------------------------------------------
    def median_pass(self, samples: dict[str, list[float]]) -> list[float]:
        """Op latencies of a median pass: each op's median over its
        repetitions, as often as one pass runs it. Ops that never
        succeeded are left out; they count in success_rate."""
        return [statistics.median(samples[label])
                for label, n in self.pass_weights().items() if samples.get(label)
                for _ in range(n)]

    def end_to_end(self) -> dict[str, float]:
        import numpy as np

        lat = np.array(self.median_pass(self.lat))
        failed = len(self.errors)
        self.record["samples_per_op"] = {k: len(v) for k, v in self.lat.items()}
        return {
            "setup_s": self.setup_s,
            "ops_per_s": len(lat) / lat.sum() if len(lat) else float("nan"),
            "op_s_p50": float(np.median(lat)) if len(lat) else float("nan"),
            "op_s_tail": float(np.percentile(lat, TAIL_PCT)) if len(lat) else float("nan"),
            "fit_s": self.fit_s,
            "success_rate": (self.attempted - failed) / self.attempted,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self) -> dict[str, float]:
        """Means over the traced ops that ran each layer; 0 where none did."""
        setup = self.record["setup"]
        recs = self.layer_recs
        out = {}
        for key in PER_LAYER_UNITS:
            vals = [r[key] for r in recs if key in r]
            out[key] = statistics.fmean(vals) if vals else 0.0
        out["session.get_spark_s"] = statistics.median(setup["get_spark_s"])
        out["session.warmup_s"] = statistics.median(setup["warmup_s"])
        created = sum(r.get("pinning.pins_created", 0) for r in recs)
        released = sum(r.get("pinning.released", 0) for r in recs)
        out["pinning.released_per_pin"] = released / created if created else 0.0
        out.update(self.fit_layers)
        both = {k: v for k, v in self.lat.items() if self.traced_lat.get(k)}
        untraced = sum(self.median_pass(both))
        traced = sum(self.median_pass({k: self.traced_lat[k] for k in both}))
        out["trace.overhead"] = untraced / traced if traced else float("nan")
        return out

    def execute(self) -> int:
        import datagen
        from layers import Tracer

        os.makedirs(self.dir, exist_ok=True)
        t0 = time.perf_counter()
        self.data = datagen.write(os.path.join(self.dir, "data"), self.sf, self.args.seed)
        self.record["datagen_s"] = time.perf_counter() - t0
        try:
            self.setup()
            self.bad = self.check_queries()
            if self.args.trace:
                self.tracer = Tracer(self.spark)
            model = self.fit_model()
            if self.wl.scoring:
                self.start_scoring(model)
            passes = self.passes()
            for _ in range(self.wl.warm_passes):
                self.warm(next(passes))
            self.window(passes)
            jvm_mb, py_mb = peak_rss_mb(self.spark)
            mem = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            self.record["peak_rss_mb"] = {
                "jvm": jvm_mb, "python": py_mb,
                "jvm_heap_committed": mem.getHeapMemoryUsage().getCommitted() / 2**20,
                "jvm_nonheap_committed": mem.getNonHeapMemoryUsage().getCommitted() / 2**20,
            }
            self.peak_rss_mb = jvm_mb + py_mb
            if self.tracer:
                self.tracer.close()
        finally:
            if self.spark is not None:
                shutdown(self.spark)
            shutil.rmtree(self.dir, ignore_errors=True)
        metrics, units = (
            (self.per_layer(), PER_LAYER_UNITS) if self.args.trace else (self.end_to_end(), END_TO_END_UNITS))
        failed = len(self.errors)
        self.record["attempted"], self.record["failed"] = self.attempted, failed
        self.record["error_rate"] = failed / self.attempted
        self.record["errors"] = self.errors
        for name, value in metrics.items():
            print(f"{name} {value:.6g} {units[name]}")
        print(f"error_rate {self.record['error_rate']:.6g} ratio ({failed} of {self.attempted} ops failed)")
        print("record " + json.dumps(self.record, default=float))
        correct = failed == 0 and not self.bad and not self.fit_error
        print(json.dumps({
            "correct": correct,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    launch = env.configure()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    return Run(args, launch).execute()


if __name__ == "__main__":
    sys.exit(main())
