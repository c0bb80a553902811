"""Close-first benchmark for the monthly-close engine.

Run from the repository root:

    python3 perfbench/run.py --workload close_csv --seed 1 --seconds 1 --trace 0

Workloads (see perfbench/README.md):

* ``close_csv``: a clean month's five CSV extracts closed by
  ``run_month``, the first close in a fresh session.
* ``registry_headline``: the headline registry queries the engine
  answers correctly (12 of 13; see ``config.KNOWN_WRONG``), the first
  pass in a fresh session.

Each run measures one operation, the first after set-up, which is what
a fresh ``cli run`` pays; the operation outlasts any ``--seconds`` the
benchmark declares.  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of a run that repeats the work warm
with Spark's event log.  The last line of standard
output is one JSON object; the exit code is 1 when any output check
fails or any operation raises.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
sys.path.insert(0, str(ROOT))

from perfbench import checks, config  # noqa: E402
from perfbench.sparkproc import stop_spark  # noqa: E402
from perfbench.trace import CLOSE_STAGES, SPARK_METRICS, Tracer, event_log_conf, find_event_log, parse_event_log  # noqa: E402


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=config.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="shortest measured time; one operation always takes longer")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """State of one benchmark process: the session, the scratch
    directory, the operations attempted and the checks that failed."""

    def __init__(self, args, run_dir: Path, inputs: dict[str, Path]):
        self.args = args
        self.run_dir = run_dir
        self.inputs = inputs
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.get_spark_s = 0.0
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.base_conf = {"spark.ui.showConsoleProgress": "false"}

    def start_session(self, extra: dict | None = None) -> float:
        from finance_etl_pipeline_monthly_close_dataset_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(extra_conf={**self.base_conf, **(extra or {})})
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def record(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        self.failures += [f"{label}: {p}" for p in problems]

    def guarded(self, label: str, fn, op: dict | None = None):
        """Check the output of ``op``.  An operation that raised, or a
        check that raises, counts as failed."""
        if op is not None and "error" in op:
            self.record(label, [op["error"]])
            return
        try:
            self.record(label, fn())
        except Exception as exc:  # noqa: BLE001 - every failure is reported, none stops the run
            traceback.print_exc(file=sys.stderr)
            self.record(label, [f"{type(exc).__name__}: {exc}"])

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        total_kb = 0
        for pid in (os.getpid(), SparkContext._gateway.proc.pid):
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return total_kb / 1024

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        stop_spark(self.spark)
        self.spark = None

    def attempt(self, label: str, fn) -> float:
        """Time ``fn()``; an exception counts as a failed operation."""
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 - reported as a failed operation
            traceback.print_exc(file=sys.stderr)
            self.record(label, [f"{type(exc).__name__}: {exc}"])
        return time.perf_counter() - t0

    def setup_samples(self, n: int) -> list[float]:
        """``n`` more set-ups, each in a fresh interpreter and JVM."""
        conf = json.dumps(self.base_conf)
        return [
            float(subprocess.run([sys.executable, str(HERE / "setup_sample.py"), conf], check=True,
                                 capture_output=True, text=True, timeout=170).stdout.split()[-1])
            for _ in range(n)
        ]


# --- inputs ------------------------------------------------------------------


def generate(kind: str, seed: int, size: int) -> Path:
    """One cached input, built by ``perfbench.gen`` in a child process."""
    out = subprocess.run(
        [sys.executable, "-m", "perfbench.gen", kind, "--cache", str(WORK / "inputs"),
         "--seed", str(seed), "--size", str(size)],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True, timeout=600,
    )
    return Path(out.stdout.split()[-1])


def build_inputs(args) -> dict[str, Path]:
    """Every input the run reads, built before set-up starts, so that
    neither set-up time nor this process's peak RSS holds the generator."""
    if args.workload == "registry_headline":
        return {"registry": generate("registry", args.seed, config.REGISTRY_ORDERS)}
    inputs = {"clean": generate("clean", args.seed, config.MONTH_ROWS),
              "canary": generate("canary", config.CANARY_SEED, 0)}
    if args.trace:
        inputs["dirty"] = generate("dirty", args.seed, config.MONTH_ROWS)
    return inputs


# --- close_csv ---------------------------------------------------------------


def close(run: Run, month: Path, out: Path, tracer: Tracer | None = None, scope: str = "pipeline") -> dict:
    """``run_month`` over one month's CSV extracts, timed."""
    from finance_etl_pipeline_monthly_close_dataset_spark.config import Settings
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import DataQualityGateError, run_month

    run.spark.catalog.clearCache()
    if tracer:
        tracer.scope = scope
        tracer.mark(f"{scope}.dq_sweep")
    res = {"curated": out, "raised": False, "stages": {}}
    t0 = time.perf_counter()
    try:
        res["stages"] = run_month(run.spark, Settings(), config.MONTH, month / "raw", out, month / "ref")["stage_seconds"]
    except DataQualityGateError:
        res["raised"] = True
    except Exception as exc:  # noqa: BLE001 - reported as a failed operation by its check
        traceback.print_exc(file=sys.stderr)
        res["error"] = f"{type(exc).__name__}: {exc}"
    res["seconds"] = time.perf_counter() - t0
    if tracer:
        tracer.clear()
    return res


def close_csv(run: Run) -> dict:
    clean, canary = run.inputs["clean"], run.inputs["canary"]
    if run.args.trace:
        t = traced_close(run, clean, canary)
    else:
        first = close(run, clean, run.run_dir / "first")
    run.stop()

    con = checks.connect()
    run.guarded("canary oracle", lambda: checks.check_canary_oracle(con, canary / "raw", canary / "ref"))
    expected = checks.expected_close(con, clean / "raw", clean / "ref", config.MONTH)
    if not run.args.trace:
        run.guarded("close", lambda: checks.check_close(con, expected, first["curated"]), first)
        return {"op_s": first["seconds"]}
    expected_canary = checks.expected_close(con, canary / "raw", canary / "ref", config.MONTH)
    run.guarded("canary close", lambda: checks.check_close(con, expected_canary, t["canary"]["curated"]), t["canary"])
    run.guarded("close", lambda: checks.check_close(con, expected, t["close"]["curated"]), t["close"])
    run.guarded("publish", lambda: checks.check_publish(con, t["close"]["curated"], t["bi"], t["star"]))
    run.guarded("gate-fail close", lambda: checks.check_gate_fail(
        con, checks.injected_counts(run.inputs["dirty"]), t["gate"]["curated"], t["gate"]["raised"]), t["gate"])
    run.record("trace attribution", [f"{t['log']['unattributed_jobs']} unattributed Spark jobs"]
               if t["log"]["unattributed_jobs"] else [])
    return {"layers": close_layers(run, t, clean, con)}


def traced_close(run: Run, clean: Path, canary: Path) -> dict:
    """The per-layer run.  The seed-42 reference month is closed first,
    without the event log, to warm the JVM up: the clean month's cold
    close is what the untraced run measures, and repeating it here would
    bring the traced run close to its time limit.  With the log on, a
    warm close of the clean month gives the stage times and the Spark
    metrics; then follow the layers the measured operation does not
    reach: publishing, a month that fails the gate, the typed CSV parse
    on its own, and the raw-lake ingest and scan.  An untraced warm close
    of the clean month, to measure the tracing overhead against, would
    take the run near its time limit too; the registry run measures it."""
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.exports import export_bi_datasets
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.star import export_star_schema
    from finance_etl_pipeline_monthly_close_dataset_spark.schemas import RAW_SCHEMAS
    from finance_etl_pipeline_monthly_close_dataset_spark.sources.raw_lake import (
        RAW_LAKE_DATASETS, ingest_raw_to_lake, read_raw_lake,
    )
    from finance_etl_pipeline_monthly_close_dataset_spark.sources.readers import read_csv_typed

    dirty = run.inputs["dirty"]
    log_dir, lake, d = run.run_dir / "eventlog", run.run_dir / "lake", run.run_dir / "traced"
    out = {"canary": close(run, canary, d / "canary")}
    log_dir.mkdir()
    run.stop_session()
    run.start_session(event_log_conf(log_dir))
    tracer = Tracer(run.spark)

    def timed(label: str, fn) -> float:
        tracer.mark(label)
        seconds = run.attempt(label, fn)
        tracer.clear()
        return seconds

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    with tracer.patch():
        out["close"] = close(run, clean, d / "curated", tracer)
        out["peak_rss_mb"] = run.peak_rss_mb()
        out["export_bi_s"] = timed("publish.export_bi", lambda: export_bi_datasets(run.spark, d / "curated", config.MONTH, d / "bi"))
        out["export_star_s"] = timed("publish.export_star", lambda: export_star_schema(run.spark, d / "curated", config.MONTH, d / "star"))
        out["gate"] = close(run, dirty, d / "gate", tracer, "gate")
        out["writes"] = {k: list(v) for k, v in tracer.calls.items()}
        out["csv_parse_s"] = timed("probe.readers", lambda: [
            noop(read_csv_typed(run.spark, str(clean / "raw" / f"{n}.csv"), RAW_SCHEMAS[n], with_row_id=True))
            for n in RAW_LAKE_DATASETS])
        out["ingest_s"] = timed("probe.ingest", lambda: ingest_raw_to_lake(run.spark, config.MONTH, clean / "raw", lake))
        out["scan_s"] = timed("probe.raw_lake", lambda: [
            noop(read_raw_lake(run.spark, lake, n, config.MONTH)) for n in RAW_LAKE_DATASETS])
    run.stop_session()
    out.update(bi=d / "bi", star=d / "star", tracer=tracer, lake_bytes=checks.dir_bytes(lake / "raw"),
               log=parse_event_log(find_event_log(log_dir)))
    return out


def _group_metrics(log: dict, label: str) -> dict:
    """One label's Spark metrics, summed over its job groups."""
    out = dict.fromkeys(SPARK_METRICS, 0.0)
    for g, vals in log["groups"].items():
        if g == label:
            for m in SPARK_METRICS:
                out[m] = max(out[m], vals[m]) if m == "peak_execution_memory_bytes" else out[m] + vals[m]
    return out


def _mark_walls(tracer: Tracer) -> dict[str, float]:
    """Wall seconds per label, from consecutive marks (summed)."""
    walls: dict[str, float] = {}
    for (label, t), (_, t_next) in zip(tracer.marks, tracer.marks[1:]):
        walls[label] = walls.get(label, 0.0) + t_next - t
    return walls


def close_layers(run: Run, traced: dict, clean: Path, con) -> dict:
    log, tracer = traced["log"], traced["tracer"]
    walls = _mark_walls(tracer)
    layers = {name: 0.0 for name in config.PER_LAYER}

    def busy(executor_run_s: float, wall: float) -> float:
        return executor_run_s / (wall * run.cores) if wall else 0.0

    layers["session.get_spark_s"] = run.get_spark_s
    layers["memory.peak_rss_mb"] = traced["peak_rss_mb"]
    layers["readers.csv_parse_s"] = traced["csv_parse_s"]
    layers["readers.csv_rows"] = _group_metrics(log, "probe.readers")["input_records"]
    layers["raw_lake.ingest_s"] = traced["ingest_s"]
    layers["raw_lake.scan_s"] = traced["scan_s"]
    layers["raw_lake.bytes"] = traced["lake_bytes"]
    layers["pipeline.warm_close_s"] = traced["close"]["seconds"]
    for stage in CLOSE_STAGES:
        layers[f"pipeline.{stage}_s"] = traced["close"]["stages"].get(stage, 0.0)
        spark_m = _group_metrics(log, f"pipeline.{stage}")
        spark_m["core_busy_ratio"] = busy(spark_m["executor_run_s"], traced["close"]["stages"].get(stage, 0.0))
        for m in SPARK_METRICS:
            layers[f"pipeline.{stage}.{m}"] = spark_m[m]
    writes = traced["writes"]
    layers["writers.csv_single_file_s"] = sum(writes.get("csv_single_file", []))
    layers["writers.csv_single_file_calls"] = len(writes.get("csv_single_file", []))
    layers["writers.parquet_s"] = sum(writes.get("parquet", []))
    layers["writers.parquet_calls"] = len(writes.get("parquet", []))
    layers["writers.curated_bytes_per_input_byte"] = (
        checks.dir_bytes(traced["close"]["curated"]) / checks.dir_bytes(clean / "raw")
    )
    layers["exports.export_bi_s"] = traced["export_bi_s"]
    layers["star.export_star_s"] = traced["export_star_s"]
    pub = [_group_metrics(log, f"publish.{p}") for p in ("export_bi", "export_star")]
    layers["publish.jobs"] = pub[0]["jobs"] + pub[1]["jobs"]
    layers["publish.executor_run_s"] = pub[0]["executor_run_s"] + pub[1]["executor_run_s"]
    layers["publish.core_busy_ratio"] = busy(
        layers["publish.executor_run_s"], traced["export_bi_s"] + traced["export_star_s"])
    gate_audit = _group_metrics(log, "gate.dq_audit_write")
    layers["quality.gate_fail_s"] = traced["gate"]["seconds"]
    layers["quality.gate_fail.dq_sweep_s"] = walls.get("gate.dq_sweep", 0.0)
    layers["quality.gate_fail.dq_audit_write_s"] = walls.get("gate.dq_audit_write", 0.0)
    layers["quality.gate_fail.dq_audit_write.executor_run_s"] = gate_audit["executor_run_s"]
    layers["quality.gate_fail.dq_audit_write.core_busy_ratio"] = busy(
        gate_audit["executor_run_s"], walls.get("gate.dq_audit_write", 0.0))
    layers["quality.gate_fail.exception_rows"] = con.sql(
        f"SELECT count(*) FROM read_csv('{traced['gate']['curated'] / 'dq_exceptions.csv'}', header=true, all_varchar=true)"
    ).fetchone()[0]
    layers["trace.unattributed_jobs"] = log["unattributed_jobs"]
    layers["trace.jobs"] = log["jobs"]
    return layers


# --- registry_headline ---------------------------------------------------------


def registry_pass(run: Run, data_dir: str, tracer: Tracer | None = None) -> dict:
    from finance_etl_pipeline_monthly_close_dataset_spark import contract

    per_query, results = {}, {}
    for q in config.TIMED_QUERIES:
        run.spark.catalog.clearCache()
        if tracer:
            tracer.mark(f"contract.{q}")
        t0 = time.perf_counter()
        try:
            df = contract.QUERIES[q](run.spark, data_dir)
            results[q] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001 - reported as a failed operation by its check
            traceback.print_exc(file=sys.stderr)
            results[q] = {"error": f"{type(exc).__name__}: {exc}"}
        per_query[q] = time.perf_counter() - t0
    if tracer:
        tracer.clear()
    return {"per_query": per_query, "op_s": sum(per_query.values()), "results": results}


def registry_headline(run: Run) -> dict:
    from finance_etl_pipeline_monthly_close_dataset_spark import contract

    data_dir = str(run.inputs["registry"])
    first = registry_pass(run, data_dir)
    result = {"op_s": first["op_s"]}
    first_rss_mb = run.peak_rss_mb()
    passes = [first]
    if run.args.trace:
        # a warm pass without the event log, then one with it: the
        # tracing overhead
        warm = registry_pass(run, data_dir)
        log_dir = run.run_dir / "eventlog"
        log_dir.mkdir()
        run.stop_session()
        run.start_session(event_log_conf(log_dir))
        traced = registry_pass(run, data_dir, Tracer(run.spark))
        run.stop_session()
        log = parse_event_log(find_event_log(log_dir))
        passes += [warm, traced]
    run.stop()

    con = checks.registry_connect(Path(data_dir))
    for i, p in enumerate(passes):
        for q in config.TIMED_QUERIES:
            res = p["results"][q]
            run.guarded(f"pass {i} {q}", lambda: checks.check_registry_result(con, contract.ORACLES[q], *res),
                        res if isinstance(res, dict) else None)
    if run.args.trace:
        run.record("trace attribution", [f"{log['unattributed_jobs']} unattributed Spark jobs"] if log["unattributed_jobs"] else [])
        layers = {name: 0.0 for name in config.PER_LAYER}
        layers["session.get_spark_s"] = run.get_spark_s
        layers["memory.peak_rss_mb"] = first_rss_mb
        for q in config.TIMED_QUERIES:
            layers[f"contract.{q}_s"] = first["per_query"][q]
        layers["contract.queries_s"] = first["op_s"]
        layers["trace.overhead_ratio"] = traced["op_s"] / warm["op_s"]
        layers["trace.unattributed_jobs"] = log["unattributed_jobs"]
        layers["trace.jobs"] = log["jobs"]
        result["layers"] = layers
    return result


# --- main ------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    for sub in ("tmp", "spark-local", "inputs"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    # keep every file the run writes inside the checkout, the JVMs' too
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"]))
    if importlib.util.find_spec("finance_etl_pipeline_monthly_close_dataset_spark") is None:
        print(f"perfbench: the engine package is not importable from {ROOT}", file=sys.stderr)
        return 2

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    run = Run(args, run_dir, build_inputs(args))
    try:
        # set-up: the engine's imports and its session, as in setup_sample.py
        t_setup = time.perf_counter()
        run.get_spark_s = run.start_session()
        setup_s = time.perf_counter() - t_setup
        result = {"close_csv": close_csv, "registry_headline": registry_headline}[args.workload](run)
        if not args.trace:
            setup_s = statistics.median([setup_s] + run.setup_samples(config.EXTRA_SETUPS))
    finally:
        run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": result["layers"][k], "unit": u} for k, u in config.PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, **result}
        metrics = {k: {"value": values[k], "unit": u} for k, u in config.END_TO_END.items()}
    for f in run.failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len({f.split(":", 1)[0] for f in run.failures}),
        "metrics": metrics,
    }))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
