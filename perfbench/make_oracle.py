"""Compute the dedup pool's oracle pairs and store them in
``oracle_pairs.json`` (run from the repository root):

    python3 perfbench/make_oracle.py

For each dedup query it runs the DuckDB ``oracle_sql()`` text over the
whole pool, then runs the Spark query from ``queries()`` over the same
pool at ``local[2]`` and refuses to write the file unless both agree.
The minhash and ngram oracles take minutes here, so the benchmark reads
them from the file; it checks simhash against a live oracle run.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import docs_pool  # noqa: E402
from workloads import DEDUP_QUERIES, _PAIR_VALUE, ORACLE_FILE  # noqa: E402


def main() -> int:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__
    from run import start_spark, stop_spark

    pool = docs_pool.pool_rows()
    table = [{"doc_id": i, "text": r["text"], "lang": r["lang"],
              "source": r["source"], "n_chars": len(r["text"])}
             for i, r in enumerate(pool)]
    work = os.path.join(HERE, ".work", "oracle")
    os.makedirs(work, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(table),
                   os.path.join(work, "documents.parquet"))

    oracle = {}
    con = duckdb.connect()
    con.register("documents", pa.Table.from_pylist(table))
    for q in DEDUP_QUERIES:
        t = time.perf_counter()
        rows = con.execute(__spark_entry__.oracle_sql()[q]).fetchall()
        oracle[q] = [[int(a), int(b), v] for a, b, v in rows]
        print(f"{q}: {len(rows)} oracle pairs in "
              f"{time.perf_counter() - t:.1f} s", flush=True)
    con.close()

    spark = start_spark(work, trace=False)
    try:
        queries = __spark_entry__.queries()
        for q in DEDUP_QUERIES:
            got = sorted((int(r["id_a"]), int(r["id_b"]),
                          round(float(r[_PAIR_VALUE[q]]), 4))
                         for r in queries[q](spark, work).collect())
            want = sorted((a, b, round(float(v), 4)) for a, b, v in oracle[q])
            if got != want:
                print(f"{q}: Spark gives {len(got)} pairs, oracle "
                      f"{len(want)}; not writing {ORACLE_FILE}",
                      file=sys.stderr)
                return 1
            spark.catalog.clearCache()
    finally:
        stop_spark(spark)

    with open(ORACLE_FILE, "w") as fh:
        json.dump({"command": "python3 perfbench/make_oracle.py",
                   "pool_seed": docs_pool.POOL_SEED,
                   "pool_size": docs_pool.POOL_SIZE,
                   "pool_sha256": docs_pool.pool_digest(pool),
                   "queries": oracle}, fh, separators=(",", ":"))
        fh.write("\n")
    print(f"wrote {ORACLE_FILE}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
