#!/usr/bin/env python3
"""Materialize an N×-replicated copy of an sf directory (round-16
verdict item 4 / round-17 item 5: the suite-level ×1/×10 scale
artifact needs BOTH engines reading the SAME bigger inputs).

    python3 tools/make_scaled_sf.py <sfDir> <outDir> <factor>

Each table is unioned `factor` times with per-replica KEY OFFSETS so
keys stay unique and foreign keys stay consistent within a replica
(orders.o_custkey moves with customer.c_custkey, lineitem.l_orderkey
with orders.o_orderkey, events.user_id moves so sessions/windows stay
per-replica, embeddings vec_id likewise). `documents.text` gets a
per-replica token suffix on every token (replica 0 keeps its text):
shingle/signature spaces stay disjoint across replicas, so dedup
workloads scale as N independent copies of the 1× problem instead of
N² cross-replica duplicate pairs. nation/region are dimension
constants and are copied 1×. Embeddings are plain `vec_id`-offset
copies, so every copy shares the ×1 vectors.

`graft.probes.ScaleTrendSuite` times registry queries over an sf
directory and its replica; docs/PROBES.md gives the commands.

Output is one parquet FILE per table (`<t>.parquet`), the layout
Tables.scala and tools/duckdb_baseline.py both read.
"""
import sys
from pathlib import Path

import duckdb

# per-table key columns to offset by replica * OFFSET
OFFSETS = {
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}
COPY_ONCE = ["nation", "region"]
OFFSET = 10_000_000


def main(sf_dir: str, out_dir: str, factor: int):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    for t in COPY_ONCE:
        src = Path(sf_dir) / f"{t}.parquet"
        if src.exists():
            con.sql(f"COPY (SELECT * FROM '{src}') TO "
                    f"'{out / (t + '.parquet')}' (FORMAT parquet)")
    for t, keys in OFFSETS.items():
        src = Path(sf_dir) / f"{t}.parquet"
        if not src.exists():
            continue
        cols = [r[0] for r in con.sql(
            f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
        parts = []
        for k in range(factor):
            sel = []
            for c in cols:
                if c in keys:
                    sel.append(f"{c} + {k * OFFSET} AS {c}")
                elif t == "documents" and c == "text":
                    # disjoint shingle space per replica: suffix every
                    # token (replica 0 keeps the original text so the
                    # 1x workload is a strict subset)
                    sel.append(
                        f"CASE WHEN {k} = 0 THEN text ELSE "
                        f"regexp_replace(text, '(\\S+)', '\\1z{k}', 'g')"
                        f" END AS text")
                else:
                    sel.append(c)
            parts.append(f"SELECT {', '.join(sel)} FROM '{src}'")
        q = " UNION ALL ".join(parts)
        con.sql(f"COPY ({q}) TO '{out / (t + '.parquet')}' "
                f"(FORMAT parquet)")
        n = con.sql(f"SELECT count(*) FROM '{out / (t + '.parquet')}'") \
            .fetchone()[0]
        print(f"{t}: x{factor} -> {n} rows")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], int(sys.argv[3]))
