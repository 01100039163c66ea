"""Write perfbench/oracle.json: for every registry_core key, the row count
and the row digest (``run.rows_digest``) of its DuckDB oracle on the
bundled sf0.01 tables.

    python3 perfbench/make_oracle.py

Run it again only when the key list, an oracle or the tables change; the
benchmark reads the stored values and never runs DuckDB itself.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from etl_process_for_detecting_fraudulent_transactions_spark.queries import all_oracles  # noqa: E402
from run import REGISTRY_KEYS, SF_DIR, rows_digest  # noqa: E402


def main() -> int:
    con = duckdb.connect()
    for f in sorted(os.listdir(SF_DIR)):
        table = f.removesuffix(".parquet")
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{SF_DIR}/{f}')")
    oracles = all_oracles()
    keys = {}
    for k in REGISTRY_KEYS:
        rel = con.sql(oracles[k])
        rows = rel.fetchall()
        keys[k] = {"rows": len(rows), "digest": rows_digest(rows, [d[0] for d in rel.description])}
    out = {"tables": "perfbench/data/sf0.01", "keys": keys}
    with open(os.path.join(HERE, "oracle.json"), "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps({k: v["rows"] for k, v in keys.items()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
