"""Record the result digests the ``queries`` workload checks against.

    python3 -m perfbench.record_digests

Runs each benchmarked query on the generated sf0.01 tables, drains it and
stores the order-insensitive digest in ``perfbench/digests.json``. For every
query with an ``oracle_sql()`` twin, DuckDB's result on the same tables must
give the identical digest, or nothing is written. Re-record only when the
generator or the query list changes, never to make a failing check pass.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

from perfbench import checks, datagen, workloads
from perfbench.run import STATE
from wurzel_spark.tables import TABLE_NAMES


def main() -> int:
    import __spark_entry__

    from wurzel_spark.session import get_spark

    sf_dir = datagen.ensure(os.path.join(STATE, "data"), workloads.SF)
    spark = get_spark("perfbench-record", extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    registry, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    digests, bad = {}, []
    for name in workloads.CURATION + workloads.CONTROL:
        digests[name] = checks.result_digest(registry[name](spark, sf_dir).toPandas())
        if name in oracles:
            want = checks.result_digest(con.execute(oracles[name]).fetchdf())
            if want != digests[name]:
                bad.append(name)
        print(name, digests[name][:12], "oracle" if name in oracles else "rows-only")
    spark.stop()
    if bad:
        print(f"digest differs from DuckDB's: {bad}", file=sys.stderr)
        return 1
    with open(checks.DIGESTS, "w") as f:
        json.dump(digests, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
