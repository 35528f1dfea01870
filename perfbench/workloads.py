"""The benchmark's workloads: what one operation is, how its output is
checked, and its staged form for the traced run.

Each workload has four forms of an operation:

- ``run``: the timed form, exactly what a user of the entry point does;
- ``verify``: a check on what ``run`` returned, made after its timer stops
  (only requests return something worth checking);
- ``check``: the untimed check pass, which runs every operation once with
  its output collected and compared against the expected values;
- ``staged``: the operation split into its layers, each timed on its own,
  returning the operation's layer metrics (traced runs only).
"""

from __future__ import annotations

import hashlib
import json
import math
import time
from dataclasses import dataclass
from pathlib import Path

import gen

ETL_OUTPUTS = ("transfers", "swaps", "transactions", "block_agg",
               "transfer_volume", "swap_price_impact")
EXPECTED = Path(__file__).resolve().parent / "expected.json"


@dataclass(frozen=True)
class Op:
    kind: str   # "etl" | "route" | "query"
    name: str   # "batch", route path or registry query name


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def warm_probe(spark, cpus: int) -> None:
    """The warm-up bench.py uses: one JVM job and one full-width Arrow UDF
    stage, so every Python worker exists before the first operation."""
    from pyspark.sql import functions as F

    from defi_etl_platform_sqlglot_implementation__spark.functions.hex import hex_to_double

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    noop(spark.range(cpus * 1000).repartition(cpus)
         .select(hex_to_double(F.format_string("%x", "id"))))


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: columns sorted by name, values
    rendered canonically (floats to 9 significant digits), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v) -> str:
        if v is None:
            return "\\N"
        if isinstance(v, float):
            return "nan" if math.isnan(v) else format(v, ".9g")
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    lines = sorted("\t".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\t".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


class EtlBatch:
    def __init__(self, spark, sizes: dict, seed: int, cpus: int, workdir: Path):
        self.spark = spark
        self.batch = gen.etl_batch(seed, sizes["batch_messages"])
        # the shape of a Kafka source: one string ``value`` column, read
        # from a JSON-lines file and held in memory
        path = workdir / "messages.jsonl"
        path.write_text("\n".join(self.batch.messages) + "\n")
        self.raw = spark.read.text(str(path)).repartition(cpus).persist()
        self.raw.count()
        warm_probe(spark, cpus)

    def ops(self) -> list[Op]:
        return [Op("etl", "batch")]

    def messages(self, op: Op) -> int:
        return len(self.batch.messages)

    def run(self, op: Op):
        self._execute()

    def _execute(self, count: bool = False) -> dict[str, int]:
        """The timed operation; with ``count``, it then also counts each
        output's rows, mostly from the still-persisted silver tables."""
        from pyspark.sql import functions as F

        from defi_etl_platform_sqlglot_implementation__spark import pipeline
        from defi_etl_platform_sqlglot_implementation__spark.sources import bronze

        events = bronze.parse_raw_events(self.raw).persist()
        results = pipeline.run_batch(self.spark, events)
        silver = [results[k].persist() for k in ("transfers", "swaps", "transactions")]
        try:
            for key in ETL_OUTPUTS:
                noop(results[key])
            if not count:
                return {}
            got = {k: results[k].count() for k in ETL_OUTPUTS}
            got["malformed"] = events.filter(F.col("event_type").isNull()).count()
            return got
        finally:
            for df in silver + [events]:
                df.unpersist()

    def _errors(self, got: dict[str, int]) -> list[str]:
        truth = self.batch.truth
        return [f"{k} rows {got[k]} != {truth[k]}" for k in got if got[k] != truth[k]]

    def verify(self, op: Op, result) -> list[str]:
        return []

    def check(self, op: Op) -> list[str]:
        return self._errors(self._execute(count=True))

    def staged(self, op: Op, store) -> tuple[dict, list[str]]:
        """Each ETL stage timed as self time: its input persisted, its output
        persisted and forced through the noop sink; then the two canonical
        queries over the persisted silver tables, and their emission in
        every dialect of ``plans.dialects``."""
        from pyspark.sql import functions as F

        from defi_etl_platform_sqlglot_implementation__spark.operators import (
            swaps,
            transfers,
            tx_features,
        )
        from defi_etl_platform_sqlglot_implementation__spark import pipeline
        from defi_etl_platform_sqlglot_implementation__spark.plans import dialects
        from defi_etl_platform_sqlglot_implementation__spark.sources import bronze
        from spans import plan_counts

        m: dict[str, float] = {}
        held = []

        def stage(key: str, build):
            t0 = time.perf_counter()
            df = build().persist()
            held.append(df)
            noop(df)
            m[key + "_s"] = time.perf_counter() - t0
            return df

        try:
            events = stage("sources.parse", lambda: bronze.parse_raw_events(self.raw))
            tr = stage("operators.decode_transfers", lambda: transfers.decode_transfers(events))
            sw = stage("operators.parse_swaps", lambda: swaps.parse_swaps(events))
            tx = stage("operators.engineer_transactions", lambda: tx_features.engineer_transactions(
                pipeline.lift_transactions(events)))
            agg = stage("operators.aggregate_by_block", lambda: tx_features.aggregate_by_block(tx))
            t0 = time.perf_counter()
            results = pipeline.run_batch(self.spark, events)
            m["pipeline.run_batch_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            noop(results["transfer_volume"])
            noop(results["swap_price_impact"])
            m["plans.canonical_sql_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            for d in dialects.all_dialects():
                dialects.transfer_volume_sql(d)
                dialects.swap_price_impact_sql(d)
            m["plans.transpile_s"] = time.perf_counter() - t0
            frames = [results[k] for k in ETL_OUTPUTS]
            t0 = time.perf_counter()
            for df in frames:
                df._jdf.queryExecution().executedPlan()
            m["catalyst.plan_s"] = time.perf_counter() - t0
            for df in frames:
                for k, v in plan_counts(df).items():
                    m[k] = m.get(k, 0) + v
            got = {"malformed": events.filter(F.col("event_type").isNull()).count(),
                   "transfers": tr.count(), "swaps": sw.count(),
                   "transactions": tx.count(), "block_agg": agg.count()}
        finally:
            for df in held:
                df.unpersist()
        m["sources.malformed_rows"] = got["malformed"]
        for k in ("transfers", "swaps", "transactions", "block_agg"):
            m[f"operators.{k}_rows"] = got[k]
        return m, self._errors(got)

    def close(self) -> None:
        self.raw.unpersist()


class InteractiveMix:
    def __init__(self, spark, sizes: dict, seed: int, cpus: int, workdir: Path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__
        from defi_etl_platform_sqlglot_implementation__spark.serving.server import wsgi_app

        self.spark = spark
        self.routes, self.query_names = sizes["routes"], sizes["queries"]
        self.table_dir = workdir / "tables"
        self.table_dir.mkdir(parents=True, exist_ok=True)
        docs = gen.documents(sizes["documents"])
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())])
        pq.write_table(pa.table(docs, schema=schema), self.table_dir / "documents.parquet")
        self.queries = __spark_entry__.queries()
        self.app = wsgi_app(spark)
        warm_probe(spark, cpus)

    def ops(self) -> list[Op]:
        return ([Op("route", r) for r in self.routes]
                + [Op("query", q) for q in self.query_names])

    def messages(self, op: Op) -> int:
        return 1

    def _request(self, path: str) -> tuple[str, bytes]:
        status = []
        body = b"".join(self.app({"PATH_INFO": path, "REQUEST_METHOD": "GET"},
                                 lambda s, headers: status.append(s)))
        return status[0], body

    def run(self, op: Op):
        if op.kind == "route":
            return self._request(op.name)
        noop(self.queries[op.name](self.spark, str(self.table_dir)))
        return None

    def verify(self, op: Op, result) -> list[str]:
        if op.kind != "route":
            return []
        status, body = result
        if not status.startswith("200"):
            return [f"{op.name}: status {status}"]
        page = json.loads(body)
        ok = {
            "/api/transfers": lambda: page["summary"]["total_transfers"] == 200,
            "/api/il": lambda: len(page["labels"]) == 99 and len(page["il_pct"]) == 99,
            "/api/mev": lambda: 0 < page["summary"]["blocks_analyzed"] <= 48,
            "/api/var": lambda: len(page["labels"]) == 90 and len(page["var_series"]) == 90,
        }[op.name]()
        return [] if ok else [f"{op.name}: invariant failed"]

    def check(self, op: Op) -> list[str]:
        if op.kind == "route":
            return self.verify(op, self._request(op.name))
        df = self.queries[op.name](self.spark, str(self.table_dir))
        rows = [tuple(r) for r in df.collect()]
        want = json.loads(EXPECTED.read_text())["queries"][op.name]
        got = {"rows": len(rows), "digest": digest(df.columns, rows)}
        return [f"{op.name}: {k} {got[k]} != {want[k]}" for k in got if got[k] != want[k]]

    def staged(self, op: Op, store) -> tuple[dict, list[str]]:
        """A request as it is; a registry query split into construction
        (the driver-side work of the ``queries()`` entry), explicit
        planning, and execution through the noop sink."""
        from spans import plan_counts

        if op.kind == "route":
            result = self._request(op.name)
            return ({"serving.response_bytes": len(result[1])}, self.verify(op, result))
        m: dict[str, float] = {}
        watermark = store.last_job_id()
        t0 = time.perf_counter()
        df = self.queries[op.name](self.spark, str(self.table_dir))
        m["registry.construct_s"] = time.perf_counter() - t0
        m["registry.construct_jobs"] = store.last_job_id() - watermark
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        m["catalyst.plan_s"] = time.perf_counter() - t0
        m.update(plan_counts(df))
        t0 = time.perf_counter()
        noop(df)
        m["registry.exec_s"] = time.perf_counter() - t0
        return m, []

    def close(self) -> None:
        pass


WORKLOADS = {"etl_batch": EtlBatch, "interactive_mix": InteractiveMix}
