#!/usr/bin/env python3
"""Per-column footer summary of Parquet output, read with DuckDB's
parquet_metadata().

Usage: python3 tools/pqmeta.py <file-or-dir> [<file-or-dir> ...]

A directory stands for every *.parquet file under it (a Spark output
directory: its part files). For each path, one line per column, summed
over every row group of every file: the codec(s), the union of the
encodings, the compressed and uncompressed bytes of its column chunks,
and compressed bytes per row. A last line totals the columns; the
files' own bytes add the footers on top of that.
"""
import glob
import os
import sys

import duckdb


def files(path):
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return [path]


def columns(paths):
    """(rows, [(column, codecs, encodings, compressed, uncompressed)]),
    columns in schema order."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT CAST(sum(num_rows) AS BIGINT) FROM parquet_file_metadata(?)",
        [paths]).fetchone()[0] or 0
    chunks = con.execute(
        "SELECT path_in_schema, column_id, compression, encodings, "
        "total_compressed_size, total_uncompressed_size "
        "FROM parquet_metadata(?)", [paths]).fetchall()
    cols = {}
    for name, cid, codec, encodings, comp, uncomp in chunks:
        c = cols.setdefault(name, [cid, set(), set(), 0, 0])
        c[0] = min(c[0], cid)
        c[1].add(codec)
        c[2].update(e.strip() for e in encodings.split(","))
        c[3] += comp
        c[4] += uncomp
    return rows, [(name, ",".join(sorted(c[1])), ",".join(sorted(c[2])), c[3], c[4])
                  for name, c in sorted(cols.items(), key=lambda kv: kv[1][0])]


def table(path):
    fs = files(path)
    if not fs:
        return [f"{path}: no parquet files"]
    rows, cols = columns(fs)
    comp = sum(c[3] for c in cols)
    uncomp = sum(c[4] for c in cols)
    body = [(name, codec, enc, str(cb), str(ub), f"{cb / rows:.2f}" if rows else "-")
            for name, codec, enc, cb, ub in cols]
    body.append(("total", "", "", str(comp), str(uncomp), f"{comp / rows:.2f}" if rows else "-"))
    head = ("column", "codec", "encodings", "compressed", "uncompressed", "B/row")
    w = [max(len(r[i]) for r in [head] + body) for i in range(len(head))]
    fmt = lambda r: "  ".join(v.ljust(w[i]) if i < 3 else v.rjust(w[i])
                              for i, v in enumerate(r)).rstrip()
    return ([f"{path}: {rows} rows, {len(fs)} files, {sum(os.path.getsize(f) for f in fs)} bytes"] +
            [fmt(head)] + [fmt(r) for r in body])


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__.strip())
    for path in sys.argv[1:]:
        print("\n".join(table(path)))


if __name__ == "__main__":
    main()
