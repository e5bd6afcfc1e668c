"""Record ``pins.json``: each registry-workload query's row count and
order-insensitive hash on ``data/``, written only when the Spark result
equals the query's DuckDB oracle (``__spark_entry__.oracle_sql``).

    python3 perfbench/pin_registry.py

Run from the root of a checkout, after a change that legitimately moves
a query's output. Scratch files go under ``.perfbench_tmp/``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def oracle_rows(sql: str, data_dir: str):
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            name = f.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{f}')"
            )
        tbl = con.execute(sql).fetch_arrow_table()
    finally:
        con.close()
    cols = tbl.column_names
    rows = list(zip(*[tbl.column(i).to_pylist() for i in range(tbl.num_columns)]))
    return cols, rows


def main() -> int:
    import run

    work = os.path.join(ROOT, ".perfbench_tmp", f"pin-{os.getpid()}")
    run.isolate(work)
    sys.path.insert(0, ROOT)
    import registry
    from tests.oracle_harness import compare, spark_result

    spark, _ = run.start_session()
    try:
        import __spark_entry__ as entry

        oracles = {**entry.oracle_sql(), **entry.extra_oracle_sql()}
        pins, failed = {}, []
        for q, fn in registry.query_fns().items():
            df = fn(spark, registry.DATA_DIR)
            s_cols, s_rows, _ = spark_result(df)
            o_cols, o_rows = oracle_rows(oracles[q], registry.DATA_DIR)
            rep = compare(q, s_cols, s_rows, o_cols, o_rows)
            print(json.dumps(rep), flush=True)
            if rep["status"] != "ok":
                failed.append(q)
                continue
            pins[q] = registry.result_pin(df)
    finally:
        run.stop_session(spark)
        run.cleanup(work)
    if failed:
        print(f"not pinned, oracle mismatch: {failed}", file=sys.stderr)
        return 1
    with open(registry.PINS, "w") as fh:
        json.dump(pins, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(f"wrote {registry.PINS}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
