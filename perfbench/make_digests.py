"""Regenerate ``oracle_digests.json``: the DuckDB oracle's answer for
every query the benchmark runs, as a digest on value and emitted order.

The benchmark compares each query's ordered result against these digests
instead of running the oracles live: a live oracle would add its DuckDB
time to every run's set-up.  Rerun after a query's oracle changes:

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

os.environ["TZ"] = "UTC"
time.tzset()

import duckdb  # noqa: E402

from eager_queries import DIGESTS, QUERIES, arrow_digest  # noqa: E402
from run import data_dir  # noqa: E402


def main() -> None:
    from data_lakehouse_platform_spark.catalog import TABLES
    from data_lakehouse_platform_spark.queries import all_queries

    sf_dir = data_dir()
    oracles = {n: q.oracle for n, q in all_queries().items()}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    digests = {}
    for name in QUERIES:
        digests[name] = arrow_digest(con.execute(oracles[name]).arrow())
        print(name, digests[name], flush=True)
    with open(DIGESTS, "w") as fh:
        json.dump({"sf_dir": os.path.basename(sf_dir.rstrip("/")), "digests": digests},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
