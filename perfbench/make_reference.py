"""Rebuild ``reference.json``: the digest of every ``detector_suite`` query's
output on the tables ``data.py`` generates.

For a query with an ``oracle_sql()`` twin, the digest is written only if the
engine's output and DuckDB's output of the twin have the same digest, so the
reference is the oracle's answer, not merely the engine's. Queries without a
twin are recorded from the engine and marked ``"oracle": null``. Exits 1
without writing if any query disagrees with its oracle.

    python3 perfbench/make_reference.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import data  # noqa: E402
from run import ROOT, pin_environment, stop_spark  # noqa: E402
from suite import QUERIES, REFERENCE, load_canon  # noqa: E402


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", "make_reference")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    sys.path.insert(0, ROOT)

    import duckdb

    import __spark_entry__ as E
    from alibi_detect_spark.session import get_spark

    data_dir = os.path.join(work, "data")
    counts = data.write_tables(data_dir)
    canon = load_canon(ROOT)
    spark = get_spark("perfbench-reference", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    })
    con = duckdb.connect()
    for t in data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    qs, oracle = E.queries(), E.oracle_sql()
    out, bad = {}, []
    try:
        for name in QUERIES:
            rows, cols, digest = canon(qs[name](spark, data_dir).toPandas())
            entry = {"rows": rows, "cols": cols, "digest": digest, "oracle": None}
            if name in oracle:
                o_rows, o_cols, o_digest = canon(con.execute(oracle[name]).fetchdf())
                if (o_rows, o_cols, o_digest) != (rows, cols, digest):
                    bad.append(name)
                entry["oracle"] = "duckdb"
            print(f"{name:28s} rows={rows:6d} {digest} oracle={entry['oracle']}", flush=True)
            out[name] = entry
    finally:
        stop_spark(spark)
    if bad:
        print(f"engine disagrees with oracle_sql() on: {bad}", file=sys.stderr)
        return 1
    with open(REFERENCE, "w") as fh:
        json.dump({"data_seed": data.DATA_SEED, "tables": counts, "queries": out}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
