"""Tri-scale oracle verification for named qids (optimization-round
safety harness): runs each qid on Spark and its DuckDB oracle twin at
sf0.001 / sf0.01 / sf0.1 and compares count + schema + canonical values
with tests/conftest.compare_query, the oracle mirror's comparer. Usage:

    python scripts/verify_qids.py qid1 qid2 ...
    python scripts/verify_qids.py --sf 0.01 qid1   # single scale
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sfs = ["0.001", "0.01", "0.1"]
    if args and args[0] == "--sf":
        sfs = [args[1]]
        args = args[2:]
    qids = args

    import duckdb

    from aprsdb_spark.registry import ORACLE, QUERIES, load_all
    from aprsdb_spark.session import get_spark
    from tests.conftest import TABLES, compare_query

    load_all()
    unknown = [q for q in qids if q not in QUERIES]
    if unknown:
        print(f"unknown qids: {unknown}", file=sys.stderr)
        sys.exit(2)

    spark = get_spark("verify-qids", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        duck = duckdb.connect()
        for t in TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for qid in qids:
            try:
                n = compare_query(spark, duck, QUERIES[qid], ORACLE[qid], sf_dir=sf_dir)
                print(f"sf{sf} {qid}: OK ({n} rows)")
            except Exception as e:
                failures += 1
                print(f"sf{sf} {qid}: FAIL {e}")
            finally:
                spark.catalog.clearCache()
        duck.close()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
