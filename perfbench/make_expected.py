#!/usr/bin/env python3
"""Write expected.json: the row count and digest of each registry query the
benchmark runs, over the benchmark's own documents table.

    python3 perfbench/make_expected.py

Each digest is computed from Spark's result and, where ``oracle_sql()`` has
a twin for the query, from DuckDB's result over the same parquet file; the
file records whether the two agreed. Run it again only when the generator in
gen.py or the query set in workloads.json changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

import run

HERE = Path(__file__).resolve().parent


def main() -> int:
    sys.path.insert(0, str(run.ROOT))
    os.environ["PYTHONPATH"] = str(run.ROOT)
    import __spark_entry__
    import gen
    from workloads import EXPECTED, InteractiveMix, digest

    sizes = json.loads((HERE / "workloads.json").read_text())["interactive_mix"]["sizes"]
    host = run.host_info()
    workdir = run.ROOT / ".perfbench_work" / f"expected-{os.getpid()}"
    workdir.mkdir(parents=True)
    spark = run.start_session(host, workdir)
    out = {}
    try:
        wl = InteractiveMix(spark, sizes, 0, host["cpus"], workdir)
        oracles = __spark_entry__.oracle_sql()
        for name in sizes["queries"]:
            df = wl.queries[name](spark, str(wl.table_dir))
            rows = [tuple(r) for r in df.collect()]
            rec = {"rows": len(rows), "digest": digest(df.columns, rows)}
            if name in oracles:
                import duckdb

                con = duckdb.connect()
                con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                            f"'{wl.table_dir}/documents.parquet'")
                cur = con.execute(oracles[name])
                cols = [d[0] for d in cur.description]
                orows = cur.fetchall()
                rec["oracle"] = ("match" if digest(cols, orows) == rec["digest"]
                                 and len(orows) == len(rows) else
                                 f"mismatch: {len(orows)} rows, {digest(cols, orows)}")
            else:
                rec["oracle"] = "none"
            out[name] = rec
            print(name, rec)
    finally:
        run.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    EXPECTED.write_text(json.dumps({
        "documents": {"seed": gen.DOCS_SEED, "rows": sizes["documents"]},
        "queries": out}, indent=2) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
