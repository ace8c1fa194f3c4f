"""Compute the DuckDB side of the batch_queries correctness check once
and store it in perfbench/oracle.json.

The batch tables are a fixed function of ``data_seed`` in config.json,
so each query's ``oracle_sql()`` twin has one answer; it is stored as
the row count, the column names and a SHA-256 of the result
canonicalised as tools/check_oracle.py does. Re-run after changing the
generator, the scale or the query list:

    python3 perfbench/make_oracle.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def canon_digest(df) -> dict:
    """Row count, sorted column names and the SHA-256 of the canonical
    CSV form of a result frame."""
    import hashlib

    from check_oracle import canon

    return {
        "rows": int(len(df)),
        "columns": sorted(df.columns),
        "sha256": hashlib.sha256(canon(df).to_csv(index=False).encode()).hexdigest(),
    }


def main() -> None:
    import duckdb

    import __spark_entry__ as entry
    from gen import batch_tables, write_tables

    cfg = json.load(open(os.path.join(HERE, "config.json")))["batch_queries"]
    data = os.path.join(ROOT, ".perfbench_work", "oracle_tables")
    shutil.rmtree(data, ignore_errors=True)
    write_tables(batch_tables(cfg["data_seed"], cfg["scale"]), data)
    con = duckdb.connect()
    con.execute("SET threads=4")
    for name in cfg["scale"].keys() | {"region", "nation"}:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data}/{name}.parquet')")
    sql = entry.oracle_sql()
    out = {q: canon_digest(con.execute(sql[q]).fetchdf()) for q in sorted(cfg["queries"])}
    shutil.rmtree(data, ignore_errors=True)
    with open(os.path.join(HERE, "oracle.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} oracle digests")


if __name__ == "__main__":
    main()
