"""Where the bytes of a table store go.

    python3 tools/store_footprint.py <store root>

Prints one JSON object: per table (a directory holding ``MANIFEST.json``)
the bytes and file counts of its parquet data files, its ``MANIFEST.json``,
its ``_history/<ms>.json`` snapshots and every other file (lock sidecars,
checksums, side files), plus the parquet footer bytes inside the data
files. Files outside any table (cursors, the migration record, logs) are
counted under ``"(outside tables)"``. ``total`` sums every file under the
root, so its ``bytes`` equals a ``du --apparent-size --bytes`` of it.
"""

from __future__ import annotations

import json
import os
import sys

KINDS = ("data", "manifest", "history", "other")
OUTSIDE = "(outside tables)"


def _kind(rel: list[str]) -> str:
    """The kind of a file by its path parts below its table directory."""
    if rel == ["MANIFEST.json"]:
        return "manifest"
    if len(rel) == 2 and rel[0] == "_history" and rel[1].endswith(".json"):
        return "history"
    if rel[0].startswith("v") and rel[-1].endswith(".parquet"):
        return "data"
    return "other"


def footprint(root: str) -> dict:
    import pyarrow.parquet as pq

    tables: dict[str, dict] = {}
    total = {"files": 0, "bytes": 0}

    def entry(name: str) -> dict:
        return tables.setdefault(
            name,
            {**{k: {"files": 0, "bytes": 0} for k in KINDS}, "parquet_footer_bytes": 0},
        )

    for dirpath, _dirs, files in os.walk(root):
        rel_dir = os.path.relpath(dirpath, root).split(os.sep)
        table = rel_dir[0] if rel_dir != ["."] else None
        is_table = table is not None and os.path.exists(os.path.join(root, table, "MANIFEST.json"))
        for name in files:
            path = os.path.join(dirpath, name)
            try:
                size = os.path.getsize(path)
            except FileNotFoundError:
                continue
            total["files"] += 1
            total["bytes"] += size
            if not is_table:
                e, kind = entry(OUTSIDE), "other"
            else:
                e, kind = entry(table), _kind(rel_dir[1:] + [name])
            e[kind]["files"] += 1
            e[kind]["bytes"] += size
            if kind == "data":
                e["parquet_footer_bytes"] += pq.ParquetFile(path).metadata.serialized_size
    for e in tables.values():
        e["bytes"] = sum(e[k]["bytes"] for k in KINDS)
    return {"root": root, "tables": dict(sorted(tables.items())), "total": total}


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    print(json.dumps(footprint(argv[0]), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
