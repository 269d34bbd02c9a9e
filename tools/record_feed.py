"""Record a fixture table as a changefeed JSONL feed for the replay source.

Bridges the batch fixtures to the streaming path: each row becomes a CRDB
core-changefeed wire tuple ``[table, "[<pk>]", {"after": {...}}]``
(README.md:29-38 shape), with a resolved marker every `--resolved-every`
rows. The output replays through
``spark.readStream.format("crdb_changefeed").option("replay", ...)``
exactly like a recorded production feed.

Rows are emitted in primary-key order so recordings are deterministic
(byte-identical across runs), which keeps replay-based tests and benches
reproducible.

Usage:
  python tools/record_feed.py --table orders --sf-dir /root/testdata/sf0.01 \
      --out /tmp/orders_feed.jsonl [--limit 10000] [--resolved-every 1000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# primary-key column per fixture table (TESTDATA.md schemas)
PK = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",  # composite in TPC-H; first component here
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, choices=sorted(PK))
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--limit", type=int, default=None)
    ap.add_argument("--resolved-every", type=int, default=1000)
    args = ap.parse_args()

    # duckdb, not Spark: recording is a driver-local, one-pass export — no
    # reason to pay a JVM for it
    import duckdb

    pk = PK[args.table]
    limit = f"LIMIT {args.limit}" if args.limit else ""
    rel = duckdb.sql(
        f"SELECT * FROM read_parquet('{args.sf_dir}/{args.table}.parquet') "
        f"ORDER BY {pk} {limit}"
    )
    cols = rel.columns
    n = 0
    with open(args.out, "w", encoding="utf-8") as f:
        for row in rel.fetchall():
            after = {c: v for c, v in zip(cols, row)}
            key = after[pk]
            f.write(
                json.dumps(
                    [args.table, f"[{key}]", json.dumps({"after": after}, default=str)],
                    default=str,
                )
                + "\n"
            )
            n += 1
            if n % args.resolved_every == 0:
                f.write(
                    json.dumps([None, None, json.dumps({"resolved": f"{n}.0000000000,0"})])
                    + "\n"
                )
    print(f"wrote {n} change rows (+{n // args.resolved_every} resolved) to {args.out}")


if __name__ == "__main__":
    main()
