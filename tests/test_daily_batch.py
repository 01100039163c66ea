"""End-to-end replay of the daily batch on the generated ``tiny`` corpus.

Needs no reference data: perfbench/corpus.py plants the REP_FRAUD rows of
every day (reference-compat rule modes) and a few ragged CSV rows, and
records the expected counts in its manifest. The days run through
``run_day`` and through the CLI's ``--loop``.
"""

import datetime as dt
import os
import shutil

from pyspark.sql import functions as F

from etl_process_for_detecting_fraudulent_transactions_spark.__main__ import main
from etl_process_for_detecting_fraudulent_transactions_spark.plans.pipeline import (
    REPORT,
    PipelineState,
    run_day,
)
from etl_process_for_detecting_fraudulent_transactions_spark.schemas import REP_FRAUD
from etl_process_for_detecting_fraudulent_transactions_spark.storage import ParquetStore

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_process_for_detecting_fraudulent_transactions_spark",
)


def _landing(corpus_dir, tmp_path):
    landing = tmp_path / "landing"
    shutil.copytree(os.path.join(corpus_dir, "landing"), landing)
    return str(landing)


def _expected(day):
    return {k: v for k, v in day["expected"].items() if v}


def _counts(frame):
    return {r["event_type"]: r["count"] for r in frame.groupBy("event_type").count().collect()}


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_run_day_replays_planted_counts(spark, tiny_corpus, tmp_path):
    corpus_dir, manifest = tiny_corpus
    landing = _landing(corpus_dir, tmp_path)
    state = PipelineState(store=ParquetStore(spark, str(tmp_path / "store")),
                          seed_dump_path=os.path.join(corpus_dir, "ddl_dml.sql"))
    cached_before = _persisted(spark)
    for day in manifest["days"]:
        run_ts = dt.datetime.combine(dt.date.fromisoformat(day["iso"]), dt.time(12))
        rep = run_day(spark, state, landing, run_date=day["date"], run_ts=run_ts)
        assert _counts(rep) == _expected(day), day["date"]
        assert state.extra["corrupt_transactions"].count() == day["corrupt_rows"]
        # the previous day's cached transactions are dropped, the current
        # day's stay readable after its file was archived
        assert len(_persisted(spark) - cached_before) <= 1
    assert os.listdir(landing) == []
    mart = state.store.read(REPORT, REP_FRAUD)
    assert mart.count() == sum(sum(d["expected"].values()) for d in manifest["days"])


def test_cli_loop_replays_planted_counts(spark, tiny_corpus, tmp_path):
    corpus_dir, manifest = tiny_corpus
    landing = _landing(corpus_dir, tmp_path)
    store = tmp_path / "store"
    rc = main(["--data-dir", landing, "--store-dir", str(store),
               "--seed-dump", os.path.join(corpus_dir, "ddl_dml.sql"),
               "--loop", "--show", "0"])
    assert rc == 0
    assert os.listdir(landing) == []
    # the CLI stamps wall-clock report_dt: one distinct value per day, in order
    mart = spark.read.parquet(str(store / "rep_fraud"))
    stamps = sorted(r["report_dt"] for r in mart.select("report_dt").distinct().collect())
    assert len(stamps) == len(manifest["days"])
    for ts, day in zip(stamps, manifest["days"]):
        assert _counts(mart.filter(F.col("report_dt") == F.lit(ts))) == _expected(day), day["date"]


def test_package_builds_driver_rows_only_through_local_frame():
    """``createDataFrame`` over Python rows yields a LogicalRDD scanned by
    Python workers and never broadcast; the package routes driver-side rows
    through ``frames.local_frame`` instead."""
    offenders = []
    for root, _dirs, files in os.walk(PACKAGE):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(PACKAGE, "frames.py"):
                continue
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    if "createDataFrame(" in line:
                        offenders.append(f"{os.path.relpath(path, PACKAGE)}:{lineno}")
    assert offenders == []
