"""Self-test of the benchmark: corpus determinism, the xlsx writer against the
package's reader, the planted counts through ``run_day`` and the op checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import corpus
import run as bench
import tracing

from etl_process_for_detecting_fraudulent_transactions_spark.sources.xlsx_source import read_xlsx


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_same_seed_gives_identical_corpus(tmp_path):
    a = corpus.build(str(tmp_path / "a"), 7, "tiny")
    b = corpus.build(str(tmp_path / "b"), 7, "tiny")
    c = corpus.build(str(tmp_path / "c"), 8, "tiny")
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))


def test_corpus_is_cached_by_seed_and_size(tmp_path):
    out = str(tmp_path / "c")
    corpus.build(out, 3, "tiny")
    marker = os.path.join(out, "landing", "marker")
    open(marker, "w").close()
    corpus.build(out, 3, "tiny")
    assert os.path.exists(marker)  # reused, not regenerated


def test_xlsx_round_trips_through_package_reader(tmp_path):
    path = str(tmp_path / "t.xlsx")
    rows = [["date", "passport"], [dt.date(2021, 3, 4), "9933 106914"],
            [dt.date(2021, 2, 28), "A & <b>"]]
    corpus.write_xlsx(path, rows, blank_rows=3)
    got = read_xlsx(path)
    assert got[:3] == [["date", "passport"],
                       [dt.datetime(2021, 3, 4), "9933 106914"],
                       [dt.datetime(2021, 2, 28), "A & <b>"]]
    assert got[3:] == [[None, None]] * 3


def test_generated_files_parse(tmp_path):
    man = corpus.build(str(tmp_path / "c"), 5, "tiny")
    landing = tmp_path / "c" / "landing"
    for day in man["days"]:
        terms = read_xlsx(str(landing / f"terminals_{day['date']}.xlsx"))
        assert terms[0] == ["terminal_id", "terminal_type", "terminal_city", "terminal_address"]
        with open(landing / f"transactions_{day['date']}.txt", encoding="utf-8") as f:
            lines = f.read().splitlines()
        ragged = [ln for ln in lines if ln.count(";") != 6]
        assert len(ragged) == day["corrupt_rows"]
        assert len(lines) == 1 + day["tx_rows"] + day["corrupt_rows"]


def test_oracle_covers_the_key_list():
    with open(os.path.join(bench.HERE, "oracle.json"), encoding="utf-8") as f:
        keys = json.load(f)["keys"]
    assert set(keys) == set(bench.REGISTRY_KEYS)
    assert all(set(v) == {"rows", "digest"} for v in keys.values())


def test_rows_digest_sees_values_not_order():
    cols = ["b", "a"]
    rows = [(1.0, dt.date(2021, 3, 1)), (2.5, None), (float("nan"), dt.date(2021, 3, 2))]
    base = bench.rows_digest(rows, cols)
    # row order, column order and float noise below 8 digits do not matter
    assert bench.rows_digest(rows[::-1], cols) == base
    assert bench.rows_digest([(r[1], r[0]) for r in rows], ["a", "b"]) == base
    assert bench.rows_digest([(1.0 + 1e-12, rows[0][1]), *rows[1:]], cols) == base
    # a changed value, a missing row or a duplicated row does
    assert bench.rows_digest([(1.5, rows[0][1]), *rows[1:]], cols) != base
    assert bench.rows_digest(rows[1:], cols) != base
    assert bench.rows_digest([*rows, rows[0]], cols) != base


def test_fails_without_the_package(tmp_path):
    root = tmp_path / "bare"
    shutil.copytree(bench.HERE, root / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__", "data"))
    shutil.copy(os.path.join(bench.ROOT, "BENCHMARK.json"), root)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "registry_core", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _tiny_run(tmp_path, monkeypatch, seed: int, tamper=None) -> bench.Run:
    monkeypatch.setattr(bench, "WORK", str(tmp_path))
    monkeypatch.setitem(bench.DAILY_SIZES, "daily_tiny", "tiny")
    man_dir = tmp_path / "corpus" / f"tiny-{seed}"
    corpus.build(str(man_dir), seed, "tiny")
    if tamper:
        with open(man_dir / "manifest.json", encoding="utf-8") as f:
            man = json.load(f)
        tamper(man)
        with open(man_dir / "manifest.json", "w", encoding="utf-8") as f:
            json.dump(man, f)
    args = argparse.Namespace(workload="daily_tiny", seed=seed, seconds=1000.0, trace=0)
    run = bench.Run(args, tracing.NullTracer())
    try:
        bench.run_daily(run)
    finally:
        if run.spark is not None:
            run.stop_session()
    return run


def test_run_day_reproduces_planted_counts(tmp_path, monkeypatch):
    run = _tiny_run(tmp_path, monkeypatch, seed=2)
    assert run.problems == []
    assert run.attempted == 3 + 3  # three days, three mart scans
    assert run.info["days"][0] == 3


def test_wrong_expectation_counts_as_failed_op(tmp_path, monkeypatch):
    def tamper(man):
        man["days"][1]["expected"]["city_fraud"] += 1

    run = _tiny_run(tmp_path, monkeypatch, seed=2, tamper=tamper)
    assert run.failed > 0
    assert run.failed / run.attempted > 0
