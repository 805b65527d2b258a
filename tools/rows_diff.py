#!/usr/bin/env python3
"""Row-level diff of two Verify output dirs.

Usage: python3 tools/rows_diff.py <parentOut> <changeOut>
  (each dir is written by `sbt "runMain graft.Verify <sfDir> <outDir>"`)

A query's output is `<q>/` holding part files, or `<q>.parquet` (a file
or a part-file dir). Each is hashed in DuckDB as md5 over its rows,
rendered as structs and sorted by all columns, so partitioning and row
order do not matter. Prints `<q> identical` or `<q> DIFFERS` for every
query on both sides, names the queries present on only one side, and
ends with a count line. Exit 1 on any difference.
"""
import glob
import os
import sys

import duckdb


def outputs(out_dir: str) -> dict:
    """query name -> list of its parquet files"""
    found = {}
    for entry in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, entry)
        name = entry[: -len(".parquet")] if entry.endswith(".parquet") else entry
        if os.path.isdir(path):
            files = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if files:
                found[name] = files
        elif entry.endswith(".parquet"):
            found[name] = [path]
    return found


def rows_md5(con, files: list) -> tuple:
    """(row count, md5 of the rows sorted by all columns)"""
    src = "read_parquet([" + ", ".join(
        "'" + f.replace("'", "''") + "'" for f in files) + "])"
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    order = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    return con.execute(
        f"SELECT count(*), md5(coalesce(string_agg(CAST(t AS VARCHAR), "
        f"chr(10) ORDER BY {order}), '')) FROM {src} t").fetchone()


def main(parent_dir: str, change_dir: str) -> int:
    con = duckdb.connect()
    parent, change = outputs(parent_dir), outputs(change_dir)
    same = differ = 0
    for name in sorted(parent.keys() & change.keys()):
        if rows_md5(con, parent[name]) == rows_md5(con, change[name]):
            same += 1
            print(f"{name} identical")
        else:
            differ += 1
            print(f"{name} DIFFERS")
    only_parent = sorted(parent.keys() - change.keys())
    only_change = sorted(change.keys() - parent.keys())
    for name in only_parent:
        print(f"{name} only in {parent_dir}")
    for name in only_change:
        print(f"{name} only in {change_dir}")
    print(f"{same} identical, {differ} differ, {len(only_parent)} only in "
          f"parent, {len(only_change)} only in change")
    return 1 if differ or only_parent or only_change else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: rows_diff.py <parentOut> <changeOut>")
    sys.exit(main(sys.argv[1], sys.argv[2]))
