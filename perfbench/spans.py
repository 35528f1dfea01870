"""Spans around the calls into each layer, and Spark's own per-job record.

Tracing is installed only around a traced operation. It replaces a fixed
list of package entry points (and PySpark's actions) with wrappers that
record a span per call; ``uninstall`` puts the originals back. Wrappers
carry the original's ``__module__``/``__qualname__`` and are stored under
the same module attribute, so a function pickled by reference for a Python
worker still resolves to the unwrapped original there.

Per operation the tracer reads the jobs and stages Spark ran from its status
store. Jobs are picked by job id above the operation's starting watermark
(the loop is single-client, so nothing else submits jobs meanwhile) and are
labelled with the job group the benchmark sets; stages are picked by the
stage ids of those jobs, so the store's retention cap
(``spark.ui.retainedStages``) cannot shift the attribution.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "defi_etl_platform_sqlglot_implementation__spark"

# Layer names follow the package's modules; ``spark`` is time inside Spark
# jobs, ``catalyst`` is time inside DataFrame actions outside any job
# (analysis, optimization, planning, result transfer), ``driver`` is the
# rest of the operation: time no entry-point span covers.
LAYERS = ("sources", "functions", "operators", "pipeline", "plans", "registry",
          "serving", "catalyst", "spark", "driver")

# (module, attribute, layer); a class attribute is written "Class.method".
ENTRY_POINTS = (
    ("sources.bronze", "parse_raw_events", "sources"),
    ("functions.hex", "eip55_checksum", "functions"),
    ("functions.hex", "hex_to_double", "functions"),
    ("functions.hex", "hex_to_long", "functions"),
    ("functions.hex", "topic_address", "functions"),
    ("functions.hex", "fn_selector", "functions"),
    ("functions.maps", "token_standards_col", "functions"),
    ("operators.transfers", "decode_transfers", "operators"),
    ("operators.swaps", "parse_swaps", "operators"),
    ("operators.tx_features", "engineer_transactions", "operators"),
    ("operators.tx_features", "aggregate_by_block", "operators"),
    ("operators.mev", "mev_scores", "operators"),
    ("operators.risk", "il_scan", "operators"),
    ("operators.risk", "rolling_var_cvar", "operators"),
    ("operators.risk", "var_cvar", "operators"),
    ("operators.risk", "stress_test", "operators"),
    ("operators.dedup", "minhash_lsh_pairs", "operators"),
    ("operators.materialize", "scoped_persist", "operators"),
    ("operators.materialize", "scoped_persist_all", "operators"),
    ("operators.materialize", "track", "operators"),
    ("operators.materialize", "release_scoped", "operators"),
    ("pipeline", "run_batch", "pipeline"),
    ("pipeline", "lift_transactions", "pipeline"),
    ("plans.dialects", "transfer_volume_sql", "plans"),
    ("plans.dialects", "swap_price_impact_sql", "plans"),
    ("serving.data_service", "DataService.get_var_data", "serving"),
    ("serving.data_service", "DataService.get_il_data", "serving"),
    ("serving.data_service", "DataService.get_mev_data", "serving"),
    ("serving.data_service", "DataService.get_transfer_data", "serving"),
)
SPARK_ACTIONS = (
    ("pyspark.sql.classic.dataframe", "DataFrame.collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame.count"),
    ("pyspark.sql.classic.dataframe", "DataFrame.take"),
    ("pyspark.sql.classic.dataframe", "DataFrame.localCheckpoint"),
    ("pyspark.sql.classic.dataframe", "DataFrame.checkpoint"),
    ("pyspark.sql.pandas.conversion", "PandasConversionMixin.toPandas"),
    ("pyspark.sql.readwriter", "DataFrameWriter.save"),
    ("pyspark.sql.session", "SparkSession.createDataFrame"),
)
BOUNDARY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                  "FlatMapGroupsInPandas")


@dataclass
class Span:
    op: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)
    rdds: int = 0


class Tracer:
    """Records spans in memory; one root span per operation."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.op = 0
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._items: list[tuple[dict, str, object]] = []

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else None
        idx = len(self.spans)
        self.spans.append(Span(self.op, name, layer, time.time(), parent=parent))
        if parent is not None:
            self.spans[parent].children.append(idx)
        stack.append(idx)
        return idx

    def end(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.time()
        span.rdds = self.persisted_rdds()
        self._stack().pop()
        return span

    def dump(self, path) -> None:
        """Write the spans out, one JSON object per line."""
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "op": s.op, "name": s.name, "layer": s.layer,
                                     "start": s.start, "end": s.end, "parent": s.parent}) + "\n")

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    # -- wrappers -----------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = self.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return wrapper

    def install(self, queries: dict) -> None:
        """Wrap every entry point, including names other package modules
        imported with ``from ... import``, and the ``registry`` functions in
        ``queries`` (a workload's copy of ``__spark_entry__.queries()``)."""
        for name, fn in queries.items():
            self._items.append((queries, name, fn))
            queries[name] = self._wrap(fn, f"registry.{name}", "registry")
        replace: dict[int, object] = {}
        for mod_name, attr, layer in ENTRY_POINTS:
            self._patch(f"{PKG}.{mod_name}", attr, layer, replace)
        for mod_name, attr in SPARK_ACTIONS:
            self._patch(mod_name, attr, "spark", replace)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name.startswith(PKG) or mod_name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in replace and callable(val):
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, replace[id(val)])

    def _patch(self, mod_name: str, attr: str, layer: str, replace: dict) -> None:
        owner = importlib.import_module(mod_name)
        *cls, name = attr.split(".")
        if cls:
            owner = getattr(owner, cls[0])
        original = vars(owner)[name]
        wrapper = self._wrap(original, f"{mod_name.rsplit('.', 1)[-1]}.{attr}", layer)
        replace[id(original)] = wrapper
        self._patched.append((owner, name, original))
        setattr(owner, name, wrapper)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patched):
            setattr(owner, name, original)
        for mapping, name, original in self._items:
            mapping[name] = original
        self._patched.clear()
        self._items.clear()

    # -- per-operation attribution -----------------------------------------

    def layer_self_times(self, op: int, jobs: list[dict]) -> dict[str, float]:
        """Self time per layer for one operation. Within each span, the part
        of its self time covered by a Spark job goes to ``spark``; the rest
        stays with the span's layer (``catalyst`` for actions, ``driver`` for
        the operation's root). The values sum to the operation's wall time."""
        intervals = interval_union([(j["start"], j["end"]) for j in jobs])
        out = dict.fromkeys(LAYERS, 0.0)
        for span in self.spans:
            if span.op != op:
                continue
            kids = [self.spans[c] for c in span.children]
            wall = span.end - span.start - sum(k.end - k.start for k in kids)
            in_jobs = (interval_overlap(span.start, span.end, intervals)
                       - sum(interval_overlap(k.start, k.end, intervals) for k in kids))
            layer = "catalyst" if span.layer == "spark" else span.layer
            out["spark"] += in_jobs
            out[layer] += wall - in_jobs
        return out


def interval_union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def interval_overlap(a: float, b: float, intervals: list[tuple[float, float]]) -> float:
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in intervals)


class StatusStore:
    """Jobs and stages from Spark's status store, as plain dicts."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala.__getattr__("MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has applied every event to the store."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self.drain()
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        return max((j["jobId"] for j in jobs), default=-1)

    def jobs_after(self, watermark: int) -> list[dict]:
        """Jobs with id above ``watermark``, times in epoch seconds."""
        self.drain()
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        out = []
        for j in jobs:
            if j["jobId"] <= watermark:
                continue
            end = j.get("completionTime") or time.time() * 1000
            out.append({"id": j["jobId"], "group": j.get("jobGroup"),
                        "stages": j["stageIds"], "start": j["submissionTime"] / 1000,
                        "end": end / 1000})
        return out

    def stages(self, stage_ids: set[int]) -> list[dict]:
        jvm = self._sc._jvm
        raw = self._store.stageList(jvm.java.util.ArrayList(), False, False,
                                    self._no_quantiles, jvm.java.util.ArrayList())
        return [s for s in json.loads(self._mapper.writeValueAsString(raw))
                if s["stageId"] in stage_ids]


def stage_totals(stages: list[dict]) -> dict[str, float]:
    ran = [s for s in stages if s["status"] != "SKIPPED"]
    return {
        "spark.stages": len(ran),
        "spark.tasks": sum(s["numCompleteTasks"] for s in ran),
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "spark.executor_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
        "spark.gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
        "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran),
    }


def plan_counts(df) -> dict[str, int]:
    """Exchange and Python-boundary node counts of a frame's physical plan,
    read from ``plans.introspect.formatted_plan``."""
    from defi_etl_platform_sqlglot_implementation__spark.plans.introspect import formatted_plan

    text = formatted_plan(df)

    def count(node: str) -> int:
        return len(set(re.findall(rf"\((\d+)\) {node}\b", text)))

    return {"plan.exchanges": count("Exchange"),
            "plan.arrow_boundary_nodes": sum(count(n) for n in BOUNDARY_NODES)}
