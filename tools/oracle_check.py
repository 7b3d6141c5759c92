"""Targeted oracle equivalence check: run named queries() entries
against their DuckDB oracles at one or more scale factors — the
per-change proof step of the optimization rounds (the full driver-sim
gate stays the pre-commit bar; this is the fast inner loop). The
comparison is tests/oracle_util.assert_matches_oracle, the same
comparator the test suite and perfbench use.

Usage: python tools/oracle_check.py <sf[,sf...]> <name> [<name> ...]
e.g.   python tools/oracle_check.py 0.001,0.01,0.1 q73_waiting_suppliers
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from airflow_project_flight_price_analysis_spark.plans import (
        all_oracle_sql,
        all_queries,
    )
    from airflow_project_flight_price_analysis_spark.session import get_spark
    from tests.oracle_util import assert_matches_oracle

    sfs = sys.argv[1].split(",")
    names = sys.argv[2:]
    spark = get_spark(app_name="fpa-oracle-check")
    qs, os_ = all_queries(), all_oracle_sql()
    bad = []
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        for name in names:
            try:
                assert_matches_oracle(qs[name](spark, sf_dir), os_[name],
                                      sf_dir, name)
                verdict = "MATCH"
            except AssertionError as e:
                verdict = f"MISMATCH ({e})"
                bad.append((sf, name))
            print(f"sf{sf} {name}: {verdict}", flush=True)
    print("FAILED:", bad) if bad else print("ALL MATCH")
    spark.stop()
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
