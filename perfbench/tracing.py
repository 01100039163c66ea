"""Traced-run mode: per-layer spans and counts, recorded from outside the
package.

``Tracer.attach`` monkeypatches the public calls of each layer at the place
the caller looks them up:

- the functions ``plans.pipeline`` imports (sources, plans.ingest,
  operators.scd2, plans.rules, plans.report);
- ``ParquetStore.read`` / ``overwrite_swap`` / ``append`` (storage);
- ``session_cache_lazy`` at its import sites in ``queries.dedup`` and
  ``queries.similarity`` (the memo layer, ``queries._io``).

Each span records name, layer, start, end, parent and run id in memory and
sets a Spark job group ``span-<id>``, so the event log of the traced session
attributes every job, stage and task to the innermost span that launched
it. Shuffle bytes and spill per group come from ``tools/shuffle_audit.py``'s
``parse_event_log`` (imported); job, stage and task counts and task times
come from one more pass over the same log. A layer's self time is its
spans' durations minus the time their child spans cover. Spans are written
to ``.work/trace/<run id>/spans.json`` when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

RULES = {
    "passport_fraud": "passport",
    "account_fraud": "account",
    "city_fraud": "city",
    "guessing_amount_fraud": "guessing",
}
LAYERS = ("plans.pipeline", "sources", "plans.ingest", "operators.scd2", "storage",
          "plans.rules", "plans.report", "queries", "queries._io", "catalyst", "execution")
# functions plans.pipeline imports, by layer
_PIPELINE_CALLS = {
    "sources": ("read_seed_dims", "read_transactions_csv", "split_corrupt", "read_xlsx_df",
                "discover_run_date", "archive_file"),
    "plans.ingest": ("typed_transactions", "typed_blacklist"),
    "operators.scd2": ("scd2_apply_snapshot",),
    "plans.rules": tuple(RULES),
    "plans.report": ("stamp", "union_rules"),
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run: str


class _Direct:
    """Untraced registry step: build and execute with nothing around them."""

    @staticmethod
    def build(fn):
        return fn()

    @staticmethod
    def execute(df, sink):
        return sink(df)


class NullTracer:
    """The untraced run: every hook is a no-op."""

    def spark_conf(self) -> dict[str, str]:
        return {}

    def attach(self, spark) -> None:
        pass

    @contextlib.contextmanager
    def day(self, day: dict, unit: int):
        yield

    def after_day(self, state, day: dict, landing: str) -> None:
        pass

    def finish_daily(self, state, run) -> None:
        pass

    @contextlib.contextmanager
    def key(self, key: str, unit: int):
        yield _Direct

    def finish_registry(self, run) -> None:
        pass


class _KeySteps:
    """Traced registry step: construction, Catalyst planning and execution
    as three spans (planning runs once more inside the sink's write)."""

    def __init__(self, tracer: Tracer, key: str):
        self.tracer = tracer
        self.key = key

    def build(self, fn):
        with self.tracer.span(f"build {self.key}", "queries"):
            return fn()

    def execute(self, df, sink):
        with self.tracer.span(f"plan {self.key}", "catalyst"):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span(f"exec {self.key}", "execution"):
            return sink(df)


class Tracer:
    def __init__(self, work: str):
        self.run_id = f"{os.getpid()}-{time.time_ns()}"
        self.dir = os.path.join(work, "trace", self.run_id)
        shutil.rmtree(self.dir, ignore_errors=True)
        self.event_dir = os.path.join(self.dir, "events")
        os.makedirs(self.event_dir)
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.sc = None
        self.patched: list[tuple[object, str, object]] = []
        self.self_cost = 0.0  # seconds spent in the tracer's own bookkeeping
        self.rule_args: dict[str, tuple] = {}
        self.memo = {"builds": 0, "hits": 0}
        self.days: list[dict] = []  # per day: ids and counts
        # (unit, root span id): unit 0 is the cold day or pass, 1.. are warm
        self.units: list[tuple[int, int]] = []
        self.end: dict[str, float] = {}

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{self.event_dir}",
            "spark.eventLog.compress": "false",  # plain JSON lines
        }

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t = time.perf_counter()
        sp = Span(len(self.spans), name, layer, 0.0, 0.0,
                  self.stack[-1] if self.stack else None, self.run_id)
        self.spans.append(sp)
        self.stack.append(sp.id)
        self.sc.setJobGroup(f"span-{sp.id}", name)
        sp.start = time.perf_counter()
        self.self_cost += sp.start - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            self.sc.setJobGroup(f"span-{self.stack[-1]}" if self.stack else "untraced", "")
            self.self_cost += time.perf_counter() - sp.end

    def _wrap(self, fn, name: str, layer: str, capture: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if capture:
                self.rule_args[fn.__name__] = (fn, args, kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, layer: str, capture: bool = False):
        orig = getattr(owner, attr)
        self.patched.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(orig, attr, layer, capture))

    def attach(self, spark) -> None:
        from etl_process_for_detecting_fraudulent_transactions_spark.plans import pipeline
        from etl_process_for_detecting_fraudulent_transactions_spark.queries import dedup, similarity
        from etl_process_for_detecting_fraudulent_transactions_spark.storage import ParquetStore

        self.sc = spark.sparkContext
        for layer, names in _PIPELINE_CALLS.items():
            for n in names:
                self._patch(pipeline, n, layer, capture=layer == "plans.rules")
        for n in ("read", "overwrite_swap", "append"):
            self._patch(ParquetStore, n, "storage")
        for mod in (dedup, similarity):
            orig = mod.session_cache_lazy
            self.patched.append((mod, "session_cache_lazy", orig))
            mod.session_cache_lazy = self._memo_wrapper(orig)

    def _memo_wrapper(self, orig):
        @functools.wraps(orig)
        def traced(tag, sf_dir, builder, session):
            built = []

            def counted_builder():
                built.append(True)
                return builder()

            with self.span(f"memo {tag}", "queries._io"):
                out = orig(tag, sf_dir, counted_builder, session)
            self.memo["builds" if built else "hits"] += 1
            return out

        return traced

    def detach(self) -> None:
        for owner, attr, orig in reversed(self.patched):
            setattr(owner, attr, orig)
        self.patched.clear()

    # -- daily hooks ---------------------------------------------------------

    @contextlib.contextmanager
    def day(self, day: dict, unit: int):
        self.rule_args.clear()
        with self.span(f"run_day {day['date']}", "plans.pipeline") as sp:
            yield
        self.units.append((unit, sp.id))

    def after_day(self, state, day: dict, landing: str) -> None:
        """Outside the timed day: each rule alone to a noop sink on the day's
        inputs, plus the day's counts."""
        from pyspark.sql import functions as F

        from etl_process_for_detecting_fraudulent_transactions_spark.plans.pipeline import REPORT
        from etl_process_for_detecting_fraudulent_transactions_spark.schemas import REP_FRAUD

        rec = {"rules": {}}
        for name, (fn, args, kwargs) in list(self.rule_args.items()):
            with self.span(f"isolated {name}", "plans.rules") as sp:
                fn(*args, **kwargs).write.format("noop").mode("overwrite").save()
            rec["rules"][RULES[name]] = sp.id
        mart = state.store.read(REPORT, REP_FRAUD).filter(F.col("report_date") == day["iso"])
        rec["hits"] = {r["event_type"]: r["count"] for r in mart.groupBy("event_type").count().collect()}
        rec["corrupt"] = state.extra["corrupt_transactions"].count()
        archived = os.path.join(landing, os.pardir, "archive", f"transactions_{day['date']}.txt.backup")
        rec["tx_bytes"] = os.path.getsize(archived) if os.path.exists(archived) else 0
        self.days.append(rec)

    def finish_daily(self, state, run) -> None:
        from etl_process_for_detecting_fraudulent_transactions_spark.plans.pipeline import HIST, REPORT

        self.end["hist_rows"] = state.store.read(HIST).count()
        files = sizes = 0
        for root, _dirs, names in os.walk(state.store.path(REPORT)):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    sizes += os.path.getsize(os.path.join(root, n))
        self.end["mart_files"], self.end["mart_bytes"] = files, sizes
        self._finish_common(run)

    # -- registry hooks ------------------------------------------------------

    @contextlib.contextmanager
    def key(self, key: str, unit: int):
        with self.span(f"key {key}", "queries") as sp:
            yield _KeySteps(self, key)
        self.units.append((unit, sp.id))

    def finish_registry(self, run) -> None:
        self._finish_common(run)

    def _finish_common(self, run) -> None:
        self.end["persisted_rdds"] = len(run.spark.sparkContext._jsc.getPersistentRDDs())
        self.end["jvm_peak_rss_mb"] = run.jvm_peak_rss_mb()
        self.detach()

    # -- report --------------------------------------------------------------

    def _children(self) -> dict[int, list[int]]:
        kids = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                kids[sp.parent].append(sp.id)
        return kids

    def _subtree(self, root: int, kids) -> list[int]:
        out, todo = [], [root]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(kids[i])
        return out

    def metrics(self, run) -> dict:
        """Every per-layer metric (0 where the workload leaves a layer idle).
        The counts the corpus fixes (rule hits, quarantined rows, hist rows)
        are correctness values, not layer costs: they go to ``run.info``,
        which is printed, not reported.

        Times of a day's calls are medians over warm days; Spark execution
        counts are medians over warm units (days, or passes over the keys);
        per key, construction is reported cold and warm, planning and
        execution warm."""
        with open(os.path.join(self.dir, "spans.json"), "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)
        spark_by_span = _event_log_metrics(self.event_dir)
        shutil.rmtree(self.event_dir, ignore_errors=True)
        kids = self._children()
        dur = {s.id: s.end - s.start for s in self.spans}
        by_id = {s.id: s for s in self.spans}
        roots = defaultdict(list)  # unit -> root span ids
        for unit, i in self.units:
            roots[unit].append(i)
        subtree = {u: [i for r in rs for i in self._subtree(r, kids)] for u, rs in roots.items()}
        warm = sorted(u for u in roots if u > 0)

        def warm_median(values) -> float:
            vals = [values(u) for u in warm]
            return statistics.median(vals) if vals else 0.0

        def span_time(prefixes: tuple[str, ...]):
            return lambda u: sum(dur[i] for i in subtree[u] if by_id[i].name.startswith(prefixes))

        def spark(field: str, ids) -> float:
            return sum(spark_by_span.get(i, {}).get(field, 0) for i in ids)

        m: dict[str, tuple[float, str]] = {}
        m["seed_parse_s"] = (warm_median(span_time(("read_seed_dims",))), "s")
        m["xlsx_parse_s"] = (warm_median(span_time(("read_xlsx_df",))), "s")
        m["csv_build_s"] = (warm_median(span_time(("read_transactions_csv", "split_corrupt"))), "s")
        m["tx_input_bytes"] = (sum(d["tx_bytes"] for d in self.days), "bytes")
        m["scd2_build_s"] = (warm_median(span_time(("scd2_apply_snapshot",))), "s")
        m["hist_write_s"] = (warm_median(span_time(("overwrite_swap",))), "s")
        m["mart_append_s"] = (warm_median(span_time(("append",))), "s")
        m["mart_files"] = (self.end.get("mart_files", 0), "count")
        m["mart_bytes"] = (self.end.get("mart_bytes", 0), "bytes")
        warm_days = self.days[1:]
        for rule, short in RULES.items():
            times = [dur[d["rules"][short]] for d in warm_days if short in d["rules"]]
            m[f"rule_{short}_s"] = (statistics.median(times) if times else 0.0, "s")

        for field, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                            ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                            ("spill_bytes", "bytes"), ("executor_run_s", "s"), ("jvm_gc_s", "s")):
            m[field] = (warm_median(lambda u, f=field: spark(f, subtree[u])), unit)
        q34 = [t for d in warm_days for short in ("city", "guessing") if short in d["rules"]
               for i in self._subtree(d["rules"][short], kids)
               for t in spark_by_span.get(i, {}).get("task_s", [])]
        m["q34_task_max_s"] = (max(q34) if q34 else 0.0, "s")
        m["q34_task_p50_s"] = (statistics.median(q34) if q34 else 0.0, "s")

        from run import REGISTRY_KEYS

        def key_ids(unit: int, key: str) -> list[int]:
            return [i for r in roots.get(unit, []) if by_id[r].name == f"key {key}"
                    for i in self._subtree(r, kids)]

        tot = defaultdict(float)
        for key in REGISTRY_KEYS:
            cold = key_ids(0, key)
            vals = {
                "build_s": sum(dur[i] for i in cold if by_id[i].name.startswith("build ")),
                "build_warm_s": warm_median(lambda u: sum(dur[i] for i in key_ids(u, key)
                                                          if by_id[i].name.startswith("build "))),
                "eager_jobs": spark("jobs", [i for i in cold
                                             if by_id[i].layer in ("queries", "queries._io")]),
                "plan_s": warm_median(lambda u: sum(dur[i] for i in key_ids(u, key)
                                                    if by_id[i].name.startswith("plan "))),
                "exec_s": warm_median(lambda u: sum(dur[i] for i in key_ids(u, key)
                                                    if by_id[i].name.startswith("exec "))),
            }
            for name, v in vals.items():
                m[f"{key}.{name}"] = (v, "count" if name == "eager_jobs" else "s")
                tot[name] += v
        m["registry_build_s"] = (tot["build_s"], "s")
        m["registry_build_warm_s"] = (tot["build_warm_s"], "s")
        m["registry_eager_jobs"] = (tot["eager_jobs"], "count")
        m["registry_plan_s"] = (tot["plan_s"], "s")
        m["registry_exec_s"] = (tot["exec_s"], "s")
        n_memo = self.memo["builds"] + self.memo["hits"]
        m["memo_builds"] = (self.memo["builds"], "count")
        m["memo_hits"] = (self.memo["hits"], "count")
        m["memo_hit_ratio"] = (self.memo["hits"] / n_memo if n_memo else 0.0, "ratio")
        m["persisted_rdds_end"] = (self.end.get("persisted_rdds", 0), "count")
        m["jvm_peak_rss_mb"] = (self.end.get("jvm_peak_rss_mb", 0.0), "MB")

        # self time per layer over every timed unit; the root spans' own self
        # time is what no wrapped call covers
        per_layer = defaultdict(float)
        for ids in subtree.values():
            for i in ids:
                per_layer[by_id[i].layer] += dur[i] - sum(dur[k] for k in kids[i])
        total = sum(dur[r] for rs in roots.values() for r in rs)
        root_self = sum(dur[r] - sum(dur[k] for k in kids[r]) for rs in roots.values() for r in rs)
        if self.days:
            for rule, short in RULES.items():
                run.info[f"hits_{short}"] = (sum(d["hits"].get(rule, 0) for d in self.days), "count")
            run.info["corrupt_rows"] = (sum(d["corrupt"] for d in self.days), "count")
            run.info["hist_rows"] = (self.end["hist_rows"], "count")
        for layer in LAYERS:
            m[f"self_s.{layer}"] = (per_layer.get(layer, 0.0), "s")
        m["layer_accounted_share"] = (1 - root_self / total if total else 0.0, "ratio")
        m["traced_cold_s"] = (run.e2e.get("cold_s", 0.0), "s")
        m["traced_warm_s"] = (run.e2e.get("warm_s", 0.0), "s")
        m["tracer_self_s"] = (self.self_cost, "s")
        m["failed_op_share"] = (run.failed / run.attempted if run.attempted else 0.0, "ratio")
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def _event_log_metrics(event_dir: str) -> dict[int, dict]:
    """span id -> jobs, stages, tasks, executor and GC seconds, task times
    and (via shuffle_audit.parse_event_log) shuffle and spill bytes."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from shuffle_audit import parse_event_log

    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))

    def sid(group: str | None) -> int | None:
        return int(group[5:]) if group and group.startswith("span-") else None

    for group, agg in parse_event_log(event_dir).items():
        i = sid(group)
        if i is not None:
            out[i]["shuffle_write_bytes"] += agg["write"]
            out[i]["shuffle_read_bytes"] += agg["read"]
            out[i]["spill_bytes"] += agg["spill_disk"]
    stage_span: dict[int, int] = {}
    for root, _dirs, files in os.walk(event_dir):
        for name in sorted(files):
            if name.startswith(".") or "appstatus" in name:
                continue
            with open(os.path.join(root, name), errors="replace") as fh:
                for line in fh:
                    if '"Event":"SparkListenerJob' not in line and '"Event":"SparkListenerTaskEnd"' not in line \
                            and '"Event":"SparkListenerStageCompleted"' not in line:
                        continue
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        i = sid((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                        if i is None:
                            continue
                        out[i]["jobs"] += 1
                        for st in ev.get("Stage Infos", []):
                            stage_span[st["Stage ID"]] = i
                    elif kind == "SparkListenerStageCompleted":
                        i = stage_span.get(ev["Stage Info"]["Stage ID"])
                        if i is not None:
                            out[i]["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        i = stage_span.get(ev.get("Stage ID"))
                        tm = ev.get("Task Metrics")
                        if i is None or not tm:
                            continue
                        info = ev.get("Task Info") or {}
                        out[i]["tasks"] += 1
                        out[i]["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                        out[i]["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                        task_s = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                        out[i].setdefault("task_s", []).append(task_s)
    return out
