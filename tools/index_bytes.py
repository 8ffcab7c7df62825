"""Compressed bytes of an index, per table and per column, from the
parquet footers of the live segments at the index's head manifest — no
Spark, no data read.

    python tools/index_bytes.py <index root> [--json]

Prints one line per (table, column) with the column's compressed bytes
summed over every row group of every live file, then each table's total
and its on-disk file bytes (footers included).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pyarrow.parquet as pq


def head_record(root: str) -> dict:
    """The head manifest record: ``<root>/_index/v<highest>.json``."""
    d = os.path.join(root, "_index")
    versions = [
        int(n[1:-5]) for n in os.listdir(d) if n.startswith("v") and n.endswith(".json")
    ]
    if not versions:
        raise SystemExit(f"{root}: no manifest version under {d}")
    with open(os.path.join(d, f"v{max(versions)}.json")) as f:
        return json.load(f)


def index_bytes(root: str) -> dict:
    """{table: {"columns": {column: bytes}, "total": bytes, "file_bytes":
    bytes}} over the head's live segments."""
    out: dict = {}
    for table, segs in sorted(head_record(root)["tables"].items()):
        cols: dict[str, int] = {}
        file_bytes = 0
        for seg in segs:
            path = seg if os.path.isabs(seg) else os.path.join(root, seg)
            for name in sorted(os.listdir(path)):
                if not name.endswith(".parquet"):
                    continue
                f = os.path.join(path, name)
                file_bytes += os.path.getsize(f)
                meta = pq.ParquetFile(f).metadata
                for g in range(meta.num_row_groups):
                    rg = meta.row_group(g)
                    for c in range(rg.num_columns):
                        cc = rg.column(c)
                        cols[cc.path_in_schema] = (
                            cols.get(cc.path_in_schema, 0) + cc.total_compressed_size
                        )
        out[table] = {
            "columns": cols,
            "total": sum(cols.values()),
            "file_bytes": file_bytes,
        }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", help="index root directory")
    ap.add_argument("--json", action="store_true", help="print one JSON object")
    args = ap.parse_args(argv)
    got = index_bytes(args.root)
    if args.json:
        print(json.dumps(got, sort_keys=True))
        return 0
    print(f"{'table':<12} {'column':<16} {'bytes':>12}")
    for table, t in got.items():
        for col, n in sorted(t["columns"].items(), key=lambda kv: -kv[1]):
            print(f"{table:<12} {col:<16} {n:>12,}")
        print(f"{table:<12} {'(total)':<16} {t['total']:>12,}")
        print(f"{table:<12} {'(files)':<16} {t['file_bytes']:>12,}")
    total = sum(t["file_bytes"] for t in got.values())
    print(f"{'all':<12} {'(files)':<16} {total:>12,}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
