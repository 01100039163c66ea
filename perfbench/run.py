"""fraudmart benchmark: the daily batch and a slice of the query registry.

    python3 perfbench/run.py --workload daily_backfill --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

- ``daily_backfill``: ``plans.pipeline.run_day`` over three reference-scale
  generated days in one session, like the CLI's ``--loop``;
- ``daily_bulk``: the same over three fact-heavy days (not in
  BENCHMARK.json: it does not fit the gating time budget; run it by hand);
- ``registry_core``: a fixed key list of ``queries.all_queries()`` on the
  bundled sf0.01 tables, a cold pass in a fresh session and one warm pass.

Each run is a closed loop: one caller, days or keys strictly in sequence.
The number of units is fixed, so a faster program measures the same work:
the cold phase is one unit (the first day, or the first pass over the
keys) and the warm phase is days 2..D (reported as their median) or one
more pass. ``--seconds`` is accepted and not used; the warm phase takes
longer than the 5 s of BENCHMARK.json. Every unit's output is checked; a
mismatch or an exception is a failed operation.

Standard output ends with one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end set of BENCHMARK.json; with ``--trace 1`` the run is traced
(perfbench/tracing.py) and the metrics are the per-layer set.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import hashlib
import io
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF_DIR = os.path.join(HERE, "data", "sf0.01")

# registry_core: memo builds and eager checkpoints (knn_*, dedup_*),
# construction-heavy graph peeling (kcore_peel, bfs_distance) and the
# fraud-shaped relational gates; the order is fixed (cold pass = this order)
REGISTRY_KEYS = (
    "kcore_peel",
    "bfs_distance",
    "knn_ivf",
    "knn_ivf_pq",
    "knn_ivf_pq_rerank",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_cluster_sizes",
    "fraud_flag_events",
    "window_lag_seq",
    "scd2_snapshot_diff",
    "tpch_q18_large_orders",
)

DAILY_SIZES = {"daily_backfill": "backfill", "daily_bulk": "bulk"}
WORKLOADS = (*DAILY_SIZES, "registry_core")
E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}


class Run:
    """One benchmark invocation: Spark session lifecycle, op accounting and
    the metrics it reports."""

    def __init__(self, args: argparse.Namespace, tracer):
        self.args = args
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.info: dict[str, tuple[float, str]] = {}  # per-workload names, printed
        self.spark = None

    # -- session -------------------------------------------------------------

    def start_session(self):
        """``get_spark`` through the first trivial action; returns seconds."""
        from etl_process_for_detecting_fraudulent_transactions_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # JVM temp files inside the checkout; no /tmp/hsperfdata counters
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData",
            **self.tracer.spark_conf(),
        }
        t0 = time.perf_counter()
        spark = get_spark(app_name="fraudmart-bench", master=f"local[{_nproc()}]",
                          extra_conf=conf)
        spark.range(1).count()
        secs = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return secs

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def stop_session(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on stdin EOF
            gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- accounting ----------------------------------------------------------

    def op(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ------------------------------------------------------------------- daily


def _day_problems(state, day: dict) -> list[str]:
    """The day's REP_FRAUD rows by event type and its quarantined rows
    against the generator's counts."""
    from pyspark.sql import functions as F

    from etl_process_for_detecting_fraudulent_transactions_spark.plans.pipeline import REPORT
    from etl_process_for_detecting_fraudulent_transactions_spark.schemas import REP_FRAUD

    mart = state.store.read(REPORT, REP_FRAUD)
    got = {r["event_type"]: r["count"] for r in
           mart.filter(F.col("report_date") == day["iso"]).groupBy("event_type").count().collect()}
    want = {k: v for k, v in day["expected"].items() if v}
    out = [] if got == want else [f"rep_fraud {got} != expected {want}"]
    corrupt = state.extra["corrupt_transactions"].count()
    if corrupt != day["corrupt_rows"]:
        out.append(f"corrupt rows {corrupt} != {day['corrupt_rows']}")
    return out


def _mart_scan(state, days: list[dict]) -> list[str]:
    """The analyst reads over the accumulated mart: the CLI's ordered show,
    counts by report_date x event_type, one partition-pruned day."""
    from pyspark.sql import functions as F

    from etl_process_for_detecting_fraudulent_transactions_spark.plans.pipeline import REPORT
    from etl_process_for_detecting_fraudulent_transactions_spark.schemas import REP_FRAUD

    mart = state.store.read(REPORT, REP_FRAUD)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mart.orderBy("report_dt", "passport", "event_dt").show(20, truncate=False)
    counts = {(str(r["report_date"]), r["event_type"]): r["count"]
              for r in mart.groupBy("report_date", "event_type").count().collect()}
    mid = days[len(days) // 2]
    one_day = state.store.read(REPORT, REP_FRAUD).filter(F.col("report_date") == mid["iso"]).count()

    out = []
    shown = [ln for ln in buf.getvalue().splitlines() if ln.startswith("|")]
    if len(shown) != 21:  # header + 20 rows
        out.append(f"show printed {len(shown) - 1} rows")
    want = {(d["iso"], k): v for d in days for k, v in d["expected"].items() if v}
    if counts != want:
        out.append("mart counts by report_date x event_type differ from expected")
    if one_day != sum(mid["expected"].values()):
        out.append(f"pruned-day count {one_day} != {sum(mid['expected'].values())}")
    return out


def run_daily(run: Run) -> None:
    from etl_process_for_detecting_fraudulent_transactions_spark.plans.pipeline import (
        PipelineState,
        run_day,
    )
    from etl_process_for_detecting_fraudulent_transactions_spark.storage import ParquetStore

    import corpus

    args = run.args
    size = DAILY_SIZES[args.workload]
    src = os.path.join(WORK, "corpus", f"{size}-{args.seed}")
    manifest = corpus.build(src, args.seed, size)  # cached, not timed
    work = _fresh_dir("run", f"{args.workload}-{os.getpid()}")
    landing = os.path.join(work, "landing")
    shutil.copytree(os.path.join(src, "landing"), landing)  # run_day archives its inputs

    setup = run.start_session()
    spark = run.spark
    state = PipelineState(store=ParquetStore(spark, os.path.join(work, "store")),
                          seed_dump_path=os.path.join(src, "ddl_dml.sql"))
    tracer = run.tracer
    tracer.attach(spark)

    secs: list[float] = []
    for unit, day in enumerate(manifest["days"]):
        run_ts = dt.datetime.combine(dt.date.fromisoformat(day["iso"]), dt.time(12))
        t0 = time.perf_counter()
        try:
            with tracer.day(day, unit):
                run_day(spark, state, landing, run_date=day["date"], run_ts=run_ts)
            secs.append(time.perf_counter() - t0)
            problems = _day_problems(state, day)
        except Exception as exc:  # noqa: BLE001 — a failed day is a failed op
            secs.append(time.perf_counter() - t0)
            problems = [f"{type(exc).__name__}: {exc}"]
        run.op(f"day {day['date']}", problems)
        if not problems:
            tracer.after_day(state, day, landing)
    done = manifest["days"]

    scans = []
    for _ in range(3):
        t0 = time.perf_counter()
        try:
            problems = _mart_scan(state, done)
        except Exception as exc:  # noqa: BLE001
            problems = [f"{type(exc).__name__}: {exc}"]
        scans.append(time.perf_counter() - t0)
        run.op("mart scan", problems)

    tx = sum(d["tx_rows"] + d["corrupt_rows"] for d in done)
    run.e2e.update(setup_s=setup, cold_s=secs[0], warm_s=statistics.median(secs[1:]))
    run.info.update(
        setup_s=(setup, "s"),
        first_day_s=(secs[0], "s"),
        day_p50_s=(statistics.median(secs[1:]), "s"),
        days=(len(secs), "count"),
        tx_rows_per_s=(tx / sum(secs), "rows/s"),
        mart_scan_s=(statistics.median(scans), "s"),
        jvm_peak_rss_mb=(run.jvm_peak_rss_mb(), "MB"),
    )
    tracer.finish_daily(state, run)
    run.stop_session()
    shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- registry


def _norm(v):
    """One result value as the oracle parity test compares it (dates as ISO
    strings, decimals as floats), with floats cut to 8 significant digits so
    summation order cannot change the digest."""
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.8g}") + 0.0
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def rows_digest(rows, cols: list[str]) -> str:
    """Order-insensitive digest of a result: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(json.dumps([_norm(r[i]) for i in order]) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _registry_pass(run: Run, queries: dict, oracle: dict, unit: int) -> float:
    """One pass over REGISTRY_KEYS: construction plus a noop-sink write per
    key, rows counted by an observation on the sink. After the timed write
    each key's rows are collected and their digest compared with the
    oracle's. Returns summed seconds."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    total = 0.0
    for key in REGISTRY_KEYS:
        obs = Observation(f"rows_{key}")
        t0 = time.perf_counter()
        try:
            with run.tracer.key(key, unit) as steps:
                df = steps.build(lambda: queries[key](run.spark, SF_DIR))
                steps.execute(df.observe(obs, F.count(F.lit(1)).alias("n")),
                              lambda d: d.write.format("noop").mode("overwrite").save())
            total += time.perf_counter() - t0
            rows, want = obs.get["n"], oracle[key]
            problems = [] if rows == want["rows"] else [f"{rows} rows != oracle {want['rows']}"]
            if not problems and rows_digest(df.collect(), df.columns) != want["digest"]:
                problems.append("row values differ from the oracle's")
        except Exception as exc:  # noqa: BLE001 — a failed key is a failed op
            total += time.perf_counter() - t0
            problems = [f"{type(exc).__name__}: {exc}"]
        run.op(f"pass {unit} {key}", problems)
    return total


def run_registry(run: Run) -> None:
    from etl_process_for_detecting_fraudulent_transactions_spark.queries import all_queries

    with open(os.path.join(HERE, "oracle.json"), encoding="utf-8") as f:
        oracle = json.load(f)["keys"]
    queries = all_queries()
    setup = run.start_session()
    run.tracer.attach(run.spark)

    cold = _registry_pass(run, queries, oracle, 0)
    warm = _registry_pass(run, queries, oracle, 1)

    run.e2e.update(setup_s=setup, cold_s=cold, warm_s=warm)
    run.info.update(
        setup_s=(setup, "s"),
        registry_cold_s=(cold, "s"),
        registry_warm_s=(warm, "s"),
        jvm_peak_rss_mb=(run.jvm_peak_rss_mb(), "MB"),
    )
    run.tracer.finish_registry(run)
    run.stop_session()


# -------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="fraudmart benchmark")
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0, help="accepted, not used: the units are fixed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # Spark, the JVM and Python temp files stay inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    sys.path[:0] = [HERE, ROOT]
    try:
        import etl_process_for_detecting_fraudulent_transactions_spark  # noqa: F401
    except ImportError as exc:
        print(f"fraudmart package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import tracing

    tracer = tracing.Tracer(WORK) if args.trace else tracing.NullTracer()
    run = Run(args, tracer)
    try:
        (run_registry if args.workload == "registry_core" else run_daily)(run)
    finally:
        if run.spark is not None:
            run.stop_session()

    if args.trace:
        metrics = tracer.metrics(run)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in run.e2e.items()}
    for line in run.problems:
        print(f"# FAILED {line}")
    run.info["failed_op_share"] = (run.failed / max(run.attempted, 1), "ratio")
    for name, (value, unit) in run.info.items():
        print(f"# {args.workload} {name} = {value:.4f} {unit}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
