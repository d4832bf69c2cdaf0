"""Bank the operator-suite digests from the DuckDB oracle.

Runs ``__spark_entry__.oracle_sql()[q]`` for every headline query on DuckDB
over ``data/sf0.01`` and writes each result's canonical digest to
``digests.json``. With ``--verify`` it also runs each query on Spark and
refuses to bank if any digest differs. Run from the repository root:

    python3 perfbench/bank_digests.py --verify
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import suite  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main() -> None:
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{suite.DATA}/{t}.parquet'")
    sqls = E.oracle_sql()
    banked = {q: suite.frame_digest(con.execute(sqls[q]).df()) for q in suite.HEADLINE}
    if "--verify" in sys.argv[1:]:
        import harness

        harness.prepare_environment()
        spark = harness.start_spark(ui=False)
        qs = E.queries()
        bad = []
        for q in suite.HEADLINE:
            got = suite.frame_digest(suite.run_query(spark, qs[q], suite.DATA)[1])
            if got != banked[q]:
                bad.append(q)
            print(f"{q:32s} {'ok' if got == banked[q] else 'MISMATCH'} {got['rows']} rows")
        harness.stop_spark(spark)
        if bad:
            sys.exit(f"Spark differs from the oracle on {bad}; nothing banked")
    with open(suite.DIGESTS, "w") as f:
        json.dump(banked, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
