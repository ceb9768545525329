#!/usr/bin/env python
"""Materialize an sf1-shaped dataset from the driver's sf0.1 tables.

/root/testdata is read-only and ships no sf1, so the scale-proof bench
replicates sf0.1 tenfold with disjoint key ranges per copy: every
foreign key is shifted by the same per-table stride as its parent's
primary key, so join fan-outs and group cardinalities scale the way a
real 10x data growth would (10x orders per customer region, 10x users,
10x documents). Fixed-size dimensions (region, nation) stay fixed,
exactly like TPC-H at higher scale factors.

Text/doc copies get a per-copy suffix token so the dedup workload sees
realistic near-duplicates (high-similarity 10-groups) instead of
degenerate exact 10-cliques.

Output: .data/sf1/*.parquet (gitignored). Usage:
    python tools/make_sf1.py [--out .data/sf1] [--copies 10]
                             [--split-mb 4] [--no-split]

``--split-mb`` (default 4) writes every table bigger than ~2 files'
worth as a DIRECTORY of ~split-mb parquet files (Spark reads
``name.parquet/`` directories transparently). The driver's sf0.1 files
are each a single row group, so every scan is one unsplittable task and
the 8-vs-32-core bench cannot show scan parallelism (r13 verdict item
3); real deployments have many splits per table. ``--no-split`` keeps
the old single-file layout.
"""

from __future__ import annotations

import argparse
import os
import shutil

import duckdb

SRC = "/root/testdata/sf0.1"

# table -> (primary key to stride by, {fk_col: parent_table})
KEYED = {
    "customer": ("c_custkey", {}),
    "supplier": ("s_suppkey", {}),
    "part": ("p_partkey", {}),
    "orders": ("o_orderkey", {"o_custkey": "customer"}),
    "lineitem": ("l_orderkey", {"l_orderkey": "orders",
                                "l_partkey": "part",
                                "l_suppkey": "supplier"}),
    "events": ("event_id", {"user_id": None}),   # user_id strides by own max
    "documents": ("doc_id", {}),
    "embeddings": ("vec_id", {}),
}
COPY_AS_IS = ["region", "nation"]


def stride_of(con, table: str, col: str) -> int:
    return con.sql(f"SELECT MAX({col}) + 1 FROM "
                   f"'{SRC}/{table}.parquet'").fetchone()[0]


def clear(path: str) -> str:
    """Remove what an earlier run left at ``path`` (a split table is a
    directory of parts, an unsplit one a file) before COPY writes it."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=".data/sf1")
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--split-mb", type=float, default=4.0)
    ap.add_argument("--no-split", action="store_true")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    con = duckdb.connect()

    def copy_opts(src_bytes: int) -> str:
        """FILE_SIZE_BYTES splitting for tables worth parallelizing."""
        split = int(args.split_mb * 1024 * 1024)
        if args.no_split or src_bytes * args.copies < 2 * split:
            return "(FORMAT PARQUET)"
        # small row groups too: DuckDB only rotates output files at row
        # group boundaries, and 50k wide rows fit one default group
        return (f"(FORMAT PARQUET, FILE_SIZE_BYTES {split}, "
                f"ROW_GROUP_SIZE 8192)")

    def count_rows(path: str) -> int:
        glob = f"{path}/*.parquet" if os.path.isdir(path) else path
        return con.sql(f"SELECT count(*) FROM '{glob}'").fetchone()[0]

    for t in COPY_AS_IS:
        con.sql(f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO "
                f"'{clear(f'{args.out}/{t}.parquet')}' (FORMAT PARQUET)")
        print(f"{t}: copied as-is")

    strides = {t: stride_of(con, t, pk) for t, (pk, _) in KEYED.items()}
    user_stride = stride_of(con, "events", "user_id")

    for t, (pk, fks) in KEYED.items():
        cols = [r[0] for r in con.sql(
            f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'").fetchall()]
        exprs = []
        for c in cols:
            if c == pk or (c in fks and fks[c] == t):
                exprs.append(f"{c} + r.i * {strides[t]} AS {c}")
            elif c in fks and fks[c] is None:
                exprs.append(f"{c} + r.i * {user_stride} AS {c}")
            elif c in fks:
                exprs.append(f"{c} + r.i * {strides[fks[c]]} AS {c}")
            elif t == "documents" and c == "text":
                # near-dup (not exact-dup) copies for the dedup workload
                exprs.append("CASE WHEN r.i = 0 THEN text "
                             "ELSE text || ' v' || r.i END AS text")
            else:
                exprs.append(c)
        opts = copy_opts(os.path.getsize(f"{SRC}/{t}.parquet"))
        out_path = clear(f"{args.out}/{t}.parquet")
        con.sql(f"""
            COPY (SELECT {', '.join(exprs)}
                  FROM '{SRC}/{t}.parquet', range({args.copies}) r(i))
            TO '{out_path}' {opts}""")
        n = count_rows(out_path)
        n_files = (len(os.listdir(out_path))
                   if os.path.isdir(out_path) else 1)
        print(f"{t}: {n} rows, {n_files} file(s)")


if __name__ == "__main__":
    main()
