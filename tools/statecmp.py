#!/usr/bin/env python3
"""Compare two canon state roots relation by relation.

A root is what `Dedup.ensureCanonState` publishes
(`graft_canon_<basename>_<md5-8>_p<pid>` under java.io.tmpdir): one
Parquet directory per stored relation. For each relation the script
checks that both roots have the same column names and types and the
same rows as a multiset (DuckDB `EXCEPT ALL` in both directions). It
prints one line per relation and exits 1 on any difference.

Usage: python3 tools/statecmp.py <rootA> <rootB> [relation ...]
       (default: the eight relations of the canon root)
"""
import os
import sys

import duckdb

RELATIONS = ("meta", "labels", "bands", "gsizes", "vocab", "vmeta", "gramsid", "gprefix")


def scan(root, rel):
    return f"read_parquet('{os.path.join(root, rel, '*.parquet')}')"


def compare(con, a, b, rel):
    """Returns (ok, message) for one relation."""
    for root in (a, b):
        if not os.path.isdir(os.path.join(root, rel)):
            return False, f"missing in {root}"
    sa = con.execute(f"DESCRIBE SELECT * FROM {scan(a, rel)}").fetchall()
    sb = con.execute(f"DESCRIBE SELECT * FROM {scan(b, rel)}").fetchall()
    if [c[:2] for c in sa] != [c[:2] for c in sb]:
        return False, f"schemas differ: {[c[:2] for c in sa]} vs {[c[:2] for c in sb]}"
    n = con.execute(f"SELECT count(*) FROM {scan(a, rel)}").fetchone()[0]
    only = [con.execute(f"SELECT count(*) FROM (SELECT * FROM {scan(x, rel)} "
                        f"EXCEPT ALL SELECT * FROM {scan(y, rel)})").fetchone()[0]
            for x, y in ((a, b), (b, a))]
    return only == [0, 0], f"{n} rows, only in A {only[0]}, only in B {only[1]}"


def main():
    if len(sys.argv) < 3:
        sys.stderr.write(__doc__)
        sys.exit(2)
    a, b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    bad = 0
    for rel in sys.argv[3:] or RELATIONS:
        ok, msg = compare(con, a, b, rel)
        bad += not ok
        print(f"{'SAME' if ok else 'DIFF'} {rel}: {msg}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
