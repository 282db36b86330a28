#!/usr/bin/env python3
"""Deterministic local scale-up of a testdata sf dir: N key-shifted
shards (default 10: sf0.1 -> "sf1") written to a scratch dir.

The r10 verdict's measurement gap: the scan-audit sweep's 100 TB
benefit was argued from plan scan counts but never measured at a size
where the corpus passes dominate (at sf0.1 the bench measures
scheduler/codegen floor — 8-core total ≈ 32-core total). The driver's
own testdata generator is not in this repo (TESTDATA.md:
driver-generated, read-only), so this tool derives a larger dataset
from sf0.1 itself with DETERMINISTIC rules (no RNG — reruns reproduce
bit-for-bit):

- Every table becomes N shards; shard i shifts each key family by
  i * (max key + 1) of the source table, so FK integrity holds within
  each shard and per-key distributions are exactly N independent
  copies of the source (no artificial hot keys, no cross-shard
  joins).
- documents.text in shard i > 0 has every [a-z0-9]+ token run
  suffixed with "q{i}" — still one token to the engine's tokenizer,
  so per-document token counts, lengths and the WITHIN-shard duplicate
  structure are preserved exactly, while shards never share a token/
  shingle (scaling the corpus does not manufacture cross-shard
  near-duplicates). n_chars is recomputed.
- embeddings in shard i > 0 get a per-(shard, dim) deterministic
  offset (linear-congruential mix, ±0.1) so clones do not collapse
  into exact cross-shard near-dup pairs; dates/timestamps are left
  unchanged so |days|-bounded relations stay bounded.

Oracle checking still works on the result: tools/oracle_check.py
replays the DuckDB SQL against the same parquet files, whatever their
provenance.

Usage: python tools/scale_gen.py [src_sf_dir] [dst_dir] [n_shards]
       (defaults /root/testdata/sf0.1 /tmp/sf1 10)
"""

from __future__ import annotations

import os
import sys

import duckdb

# key columns to shift, per table: {col: table_whose_max_defines_stride}
SHIFTS: dict[str, dict[str, str]] = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": "customer.c_custkey"},
    "supplier": {"s_suppkey": "supplier.s_suppkey"},
    "part": {"p_partkey": "part.p_partkey"},
    "orders": {"o_orderkey": "orders.o_orderkey", "o_custkey": "customer.c_custkey"},
    "lineitem": {
        "l_orderkey": "orders.o_orderkey",
        "l_partkey": "part.p_partkey",
        "l_suppkey": "supplier.s_suppkey",
    },
    "events": {"event_id": "events.event_id", "user_id": "events.user_id"},
    "documents": {"doc_id": "documents.doc_id"},
    "embeddings": {"vec_id": "embeddings.vec_id"},
}
# dimension tables copied once, NOT sharded (queries treat them as
# bounded vocabularies; nation is 25 rows at any TPC-H scale)
COPY_ONLY = {"region", "nation"}


def build(src: str, dst: str, n: int) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    strides: dict[str, int] = {}
    for table, shifts in SHIFTS.items():
        for ref in shifts.values():
            t, c = ref.split(".")
            if ref not in strides:
                strides[ref] = int(
                    con.sql(f"SELECT MAX({c}) + 1 FROM '{src}/{t}.parquet'").fetchone()[0]
                )
    for table, shifts in SHIFTS.items():
        s_path = f"{src}/{table}.parquet"
        d_path = f"{dst}/{table}.parquet"
        if table in COPY_ONLY:
            con.execute(f"COPY (SELECT * FROM '{s_path}') TO '{d_path}' (FORMAT PARQUET)")
            continue
        selects = []
        for i in range(n):
            repl = []
            for col, ref in shifts.items():
                repl.append(f"{col} + {i * strides[ref]} AS {col}")
            if table == "documents" and i > 0:
                repl.append(
                    f"regexp_replace(text, '([a-z0-9]+)', '\\1q{i}', 'g') AS text"
                )
                repl.append(
                    f"CAST(length(regexp_replace(text, '([a-z0-9]+)', '\\1q{i}', 'g')) AS BIGINT) AS n_chars"
                )
            if table == "embeddings" and i > 0:
                # j is list_transform's 1-based element index: the
                # offset mixes (shard, dim), so a clone's direction moves
                repl.append(
                    "CAST(list_transform(embedding, (x, j) -> x + CAST("
                    f"(((({i} * 7919 + j) * 2654435761 + 13) % 1000) / 1000.0 - 0.5) * 0.2"
                    " AS FLOAT)) AS FLOAT[]) AS embedding"
                )
            replace = f"* REPLACE ({', '.join(repl)})" if repl else "*"
            selects.append(f"SELECT {replace} FROM '{s_path}'")
        # small row groups so Spark CAN split the file: a single
        # snappy parquet of a few MB with default 122k-row groups
        # gives the scan one task regardless of cores, which poisons
        # any scaling measurement (pair with
        # SPARK_GRAFT_MAX_PARTITION_BYTES in session.py)
        n_rows = con.sql(f"SELECT COUNT(*) FROM '{s_path}'").fetchone()[0] * n
        rg = max(2048, min(122880, n_rows // 64))
        con.execute(
            f"COPY ({' UNION ALL '.join(selects)}) TO '{d_path}' "
            f"(FORMAT PARQUET, COMPRESSION SNAPPY, ROW_GROUP_SIZE {rg})"
        )
    for table in SHIFTS:
        cnt = con.sql(f"SELECT COUNT(*) FROM '{dst}/{table}.parquet'").fetchone()[0]
        print(f"{table}: {cnt} rows")


if __name__ == "__main__":
    argv = sys.argv[1:]
    src = argv[0] if argv else "/root/testdata/sf0.1"
    dst = argv[1] if len(argv) > 1 else "/tmp/sf1"
    n = int(argv[2]) if len(argv) > 2 else 10
    build(src, dst, n)
    print(f"wrote {dst}")
