"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It generates the workload's inputs from
``--seed`` under ``perfbench/.work/``, drives the program in one process
with one closed-loop client, checks the outputs, and prints one JSON
object as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
spans and the Spark event log and reports the per-layer metrics. Every
run also writes its raw samples, spans and counts to
``perfbench/.work/artifacts/<workload>-s<seed>-t<trace>.json``. The
first run in a checkout also builds the serving workload's stores
(minutes); later runs copy them.

    python3 -m pytest perfbench -q    # the benchmark's own tests
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "vector_search_go_spark"

# name -> unit, "better"; the same list BENCHMARK.json declares
END_TO_END = {
    "setup_s": "s",
    "total_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "ops_per_s": "1/s",
    "recall_mean": "ratio",
    "peak_rss_mb": "MB",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit.
    Metrics of a layer a workload does not exercise read 0."""
    import ann
    import serve
    from sparkstats import METRIC_UNITS

    out = {
        "session.start_s": "s",
        "calib.numpy_matmul_s.pre": "s",
        "calib.numpy_matmul_s.post": "s",
        "calib.spark_job_s.pre": "s",
        "calib.spark_job_s.post": "s",
        "calib.python_loop_s.pre": "s",
        "calib.python_loop_s.post": "s",
        "trace.total_s": "s",
        "queries.cold_pass_s": "s",
        "queries.build_s": "s",
        "queries.exec_s": "s",
        "queries.driver_gap_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
    }
    out.update({f"spark.{k}": u for k, u in METRIC_UNITS.items()})
    for m in ann.MODULES:
        out[f"{m}.s"] = "s"
        out[f"{m}.python_worker_s"] = "s"
    for name in ann.ENTRIES:
        out[f"entry.{name}.s"] = "s"
        for key in ("jobs", "stages", "tasks"):
            out[f"entry.{name}.{key}"] = "count"
    out.update(serve.LAYERS)
    return out


class Run:
    """State of one benchmark run: session, tracer, checks, metrics."""

    def __init__(self, args, work: str):
        from spans import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(self.traced)
        self.tracer_epoch_offset = time.time() - time.perf_counter()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, dict] = {}
        self.layers: dict[str, dict] = {}
        self.artifact: dict = {}
        self.post_event_log = None

    # ---- session -------------------------------------------------
    def _session(self) -> None:
        """A new SparkContext (and the JVM, the first time), warmed by
        one trivial job."""
        from vector_search_go_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()

    def start_session(self) -> None:
        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            self._session()
            self.layer("session.start_s", time.perf_counter() - t0, "s")

    def setup(self, prepare, reps: int = 3) -> None:
        """``setup_s``: median over ``reps`` of a SparkContext restart in
        the running JVM plus ``prepare(i)``, the workload's input
        preparation. The last repetition's session and inputs (i == 0)
        are the ones used."""
        from measure import median

        times = []
        for i in reversed(range(reps)):
            with self.tracer.span("setup"):
                t0 = time.perf_counter()
                self.spark.stop()
                self._session()
                prepare(i)
                times.append(time.perf_counter() - t0)
        self.metric("setup_s", median(times), "s")
        self.artifact["setup_samples_s"] = times
        self.calibrate("pre")

    def job_group(self, group_id: str, description: str):
        from sparkstats import job_group

        return job_group(self.spark.sparkContext, group_id, description)

    def group_counts(self, group_id: str) -> dict:
        from sparkstats import group_counts

        return group_counts(self.spark.sparkContext, group_id)

    def calibrate(self, tag: str) -> None:
        from measure import calibration

        c = calibration(self.spark)
        self.layer(f"calib.numpy_matmul_s.{tag}", c["numpy_matmul_s"], "s")
        self.layer(f"calib.spark_job_s.{tag}", c["spark_job_s"], "s")
        self.layer(f"calib.python_loop_s.{tag}", c["python_loop_s"], "s")

    # ---- outcomes ------------------------------------------------
    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"# check failed: {what}", file=sys.stderr)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = {"value": float(value), "unit": unit}

    def end_to_end(self, total_s: float, ops: list[float], ops_per_s: float,
                   recall_mean: float) -> None:
        from measure import median, peak_rss_mb, tail

        value, pct, n = tail(ops)
        self.metric("total_s", total_s, "s")
        self.metric("op_p50_ms", median(ops) * 1e3, "ms")
        self.metric("op_tail_ms", value * 1e3, "ms")
        self.metric("ops_per_s", ops_per_s, "1/s")
        self.metric("recall_mean", recall_mean, "ratio")
        self.metric("peak_rss_mb", peak_rss_mb(), "MB")
        self.artifact["op_tail"] = {"percentile": pct, "samples": n}
        self.artifact["op_samples_s"] = ops
        print(f"# op_tail_ms is p{pct:.1f} of {n} ops", file=sys.stderr)

    # ---- teardown ------------------------------------------------
    def stop(self) -> None:
        """Stop the SparkContext, then the JVM, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def _env(work: str, traced: bool) -> None:
    """Environment the program and its Spark workers see. Everything a
    run writes stays under ``work``."""
    for sub in ("spark-local", "models", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_MODEL_DIR"] = os.path.join(work, "models")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp either
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if traced else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    # Four Spark tasks already fill four cores; BLAS threads on top of
    # them (and in the lookup client) would only queue on the scheduler.
    # Set before numpy loads here and before the JVM forks its workers.
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    os.environ["OMP_NUM_THREADS"] = "1"
    sys.path[:0] = [ROOT, HERE]
    import ann
    import serve

    workloads = {ann.WORKLOAD: ann, serve.WORKLOAD: serve}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads)}", file=sys.stderr)
        return 2

    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"run-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, bool(args.trace))
    run = Run(args, work)
    try:
        run.start_session()
        # the first run in a checkout, of either workload, builds the
        # serving stores
        serve.ensure_stores(run)
        workloads[args.workload].main(run)
        run.calibrate("post")
    except Exception:
        traceback.print_exc()
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    run.stop()

    if run.traced:
        from spans import self_time_by_name
        from sparkstats import parse_event_log

        per_desc = parse_event_log(os.path.join(work, "eventlog"))
        if run.post_event_log is not None:
            run.post_event_log(per_desc)
        run.layer("trace.total_s", run.metrics["total_s"]["value"], "s")
        untraced = os.path.join(base, "artifacts", f"{args.workload}-s{args.seed}-t0.json")
        if os.path.isfile(untraced):
            with open(untraced) as fh:
                plain = json.load(fh)["metrics"]["total_s"]["value"]
            run.artifact["trace_overhead_s"] = run.metrics["total_s"]["value"] - plain
            print(f"# tracing overhead: traced - untraced total_s = "
                  f"{run.artifact['trace_overhead_s']:.4f} s", file=sys.stderr)
        run.artifact["spans"] = run.tracer.dump()
        run.artifact["self_time_s"] = self_time_by_name(run.artifact["spans"])
        run.artifact["spark_by_description"] = per_desc
        names = per_layer_names()
        out = {n: run.layers.get(n, {"value": 0.0, "unit": u}) for n, u in names.items()}
    else:
        out = {n: run.metrics[n] for n in END_TO_END}
    run.artifact.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, cpus=run.cpus, metrics=run.metrics, layers=run.layers,
        failures=run.failures, attempted=run.attempted, failed=run.failed,
    )
    art_dir = os.path.join(base, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    with open(os.path.join(art_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(run.artifact, fh, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for name, m in out.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
