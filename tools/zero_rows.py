#!/usr/bin/env python3
"""Write a schema-preserving zero-row copy of every table in a
scale-factor directory (dev tooling, like verify_local.py).

Usage: python3 tools/zero_rows.py <sfDir> <outDir>

Each `<sfDir>/<table>.parquet` becomes `<outDir>/<table>.parquet` with
the same Arrow schema (field types, nullability, the TIMESTAMP(NANOS)
of `events.ts`, and the schema metadata) and no rows, so every query
and its oracle SQL read an empty table of the shape they expect. This
is the empty case of the degenerate-input directories: run
`graft.Verify <outDir> <verifyOut>` and
`tools/verify_local.py <outDir> <verifyOut>` on it.
"""
import os
import sys

import pyarrow.parquet as pq


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: zero_rows.py <sfDir> <outDir>")
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    tables = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    if not tables:
        sys.exit(f"no *.parquet tables under {sf_dir}")
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        src = pq.ParquetFile(os.path.join(sf_dir, name))
        schema = src.schema_arrow
        # the source's format version keeps each column's physical
        # type (a TIMESTAMP(NANOS) column stays nanos)
        pq.write_table(schema.empty_table(), os.path.join(out_dir, name),
                       version=src.metadata.format_version)
        print(f"{name}: 0 rows, {len(schema)} columns")


if __name__ == "__main__":
    main()
