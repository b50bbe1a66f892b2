"""Input generation and oracle digests, run in a child process so that
DuckDB's memory never counts toward the Spark driver process's resident memory.

    python3 perfbench/prepare.py <data_dir> <scale> <keys,comma,separated> <threads> <out.json>

Writes the catalog tables under ``data_dir`` and a JSON file mapping every
key to its expected digest.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    data_dir, scale, keys, threads, out = argv
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.path.dirname(HERE))
    import gen
    import oracle
    from airflow_etl_elt_spark.queries import ORACLE_SQL

    t0 = time.perf_counter()
    gen.write_tables(data_dir, float(scale))
    t1 = time.perf_counter()
    digests = oracle.expected_digests(data_dir, keys.split(","), ORACLE_SQL, int(threads))
    t2 = time.perf_counter()
    with open(out, "w") as fh:
        json.dump({"digests": digests, "gen_s": t1 - t0, "oracle_s": t2 - t1}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
