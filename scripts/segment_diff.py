#!/usr/bin/env python3
"""Segment identity check: do two builds hold the same rows?

Compares the segment at <dirA> with the segment at <dirB> (a segment is a
directory holding `manifest.json`). When <dirA> is not itself a segment,
every segment below it is compared with the segment at the same relative
path below <dirB>.

Per segment it runs DuckDB `EXCEPT ALL` both ways over each table present
on either side: `docs`, `postings` (every column, packed bytes included),
`terms`, `rterms`, `bloom`, and `tvec` exploded to (docId, term, freq) rows,
so the order of a doc's terms does not count. Row order and file layout
never count. The manifests are compared field by field without
`segmentId`, `dir` and `buildWallSec`, which differ between any two builds.

Exits non-zero on any difference, or when no segment was found.

Usage: scripts/segment_diff.py <dirA> <dirB>
(Driver-side tooling only: python/duckdb are not dependencies of the
library itself.)
"""
import json
import os
import sys

import duckdb

TABLES = ("docs", "postings", "terms", "rterms", "bloom", "tvec")
VOLATILE = ("segmentId", "dir", "buildWallSec")


def segments(root):
    """Relative paths of the segments at or below `root`."""
    if os.path.exists(os.path.join(root, "manifest.json")):
        return ["."]
    found = []
    for d, subdirs, files in os.walk(root):
        if "manifest.json" in files:
            found.append(os.path.relpath(d, root))
            subdirs[:] = []
    return sorted(found)


def relation(con, seg, table):
    """A DuckDB relation over one table of a segment, or None if absent."""
    files = os.path.join(seg, table, "*.parquet")
    if not os.path.isdir(os.path.join(seg, table)):
        return None
    if table == "tvec":
        return (f"SELECT docId, unnest(terms) AS term, unnest(freqs) AS freq "
                f"FROM read_parquet('{files}')")
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{files}')").fetchall()]
    return "SELECT " + ", ".join(f'"{c}"' for c in sorted(cols)) + f" FROM read_parquet('{files}')"


def diff_segment(con, a, b):
    """Differences between segments `a` and `b`, as text lines."""
    out = []
    ma, mb = (json.load(open(os.path.join(s, "manifest.json"))) for s in (a, b))
    for k in sorted(set(ma) | set(mb)):
        if k not in VOLATILE and ma.get(k) != mb.get(k):
            out.append(f"manifest {k}: {ma.get(k)!r} != {mb.get(k)!r}")
    for t in TABLES:
        ra, rb = relation(con, a, t), relation(con, b, t)
        if ra is None and rb is None:
            continue
        if ra is None or rb is None:
            out.append(f"{t}: only in {'B' if ra is None else 'A'}")
            continue
        try:
            only_a = con.execute(f"SELECT count(*) FROM ({ra} EXCEPT ALL {rb})").fetchone()[0]
            only_b = con.execute(f"SELECT count(*) FROM ({rb} EXCEPT ALL {ra})").fetchone()[0]
        except duckdb.Error as e:  # e.g. the two sides' columns differ
            out.append(f"{t}: cannot compare: {e}")
            continue
        n = con.execute(f"SELECT count(*) FROM ({ra})").fetchone()[0]
        if only_a or only_b:
            out.append(f"{t}: {only_a} rows only in A, {only_b} rows only in B (of {n})")
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: scripts/segment_diff.py <dirA> <dirB>")
    root_a, root_b = sys.argv[1], sys.argv[2]
    sa, sb = segments(root_a), segments(root_b)
    con = duckdb.connect()
    bad = 0
    if not sa and not sb:
        print("no segment found")
        return 1
    for rel in sorted(set(sa) | set(sb)):
        if rel not in sa or rel not in sb:
            print(f"{rel}: only in {'A' if rel in sa else 'B'}")
            bad += 1
            continue
        lines = diff_segment(con, os.path.join(root_a, rel), os.path.join(root_b, rel))
        print(f"{rel}: " + ("identical" if not lines else "DIFFERS"))
        for ln in lines:
            print("  " + ln)
        bad += bool(lines)
    total = len(set(sa) | set(sb))
    print(f"{total - bad} of {total} segments identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
