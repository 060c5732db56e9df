#!/usr/bin/env python3
"""Compare two `graft.Verify <sf> <out> --oracle-only` dumps entry by entry.

    python3 tools/oracle_diff.py <before_out> <after_out> <sf_dir>

Reads `oracle_sql.json`, `oracle_sql_staged.json` and `stage_sql.json`
from both output directories. Absolute paths into each dump's own
checkout (the fixture files under `<root>/target/graft-fixtures/`) are
replaced by one placeholder first, so two checkouts of the same source
compare equal. Every entry is then classified as

  identical        the same text
  whitespace-only  the same tokens (quoted literals, words, single
                   punctuation characters) laid out differently
  changed          anything else
  added / removed  present on one side only

For each changed entry both SQL texts run in DuckDB over the
`*.parquet` tables of `<sf_dir>` (one view per file, named after it),
each against its own checkout's paths. The two results must have the
same column names and types and be equal as multisets: `EXCEPT ALL`
both ways returns no row.

Exit status 1 if any entry was added or removed, or if any changed
entry's results differ or cannot be run (the staged templates read
relations that only `tools/stage_oracle.py` materializes, so a changed
staged entry fails here); 0 otherwise.
"""
import glob
import json
import os
import re
import sys

import duckdb

DUMPS = ["oracle_sql.json", "oracle_sql_staged.json", "stage_sql.json"]
ROOT = "<CHECKOUT>"
FIXTURES = re.compile(r"(/[^\s'\"]*?)/target/graft-fixtures/")


def checkout_root(texts):
    """The checkout directory a dump's fixture paths point into, or None."""
    roots = {m.group(1) for t in texts for m in FIXTURES.finditer(t)}
    if len(roots) > 1:
        sys.exit(f"fixture paths point into more than one checkout: {sorted(roots)}")
    return roots.pop() if roots else None


def load(out_dir):
    dumps = {}
    for name in DUMPS:
        path = os.path.join(out_dir, name)
        if not os.path.exists(path):
            sys.exit(f"missing {path}")
        with open(path) as f:
            dumps[name] = json.load(f)
    root = checkout_root(t for d in dumps.values() for t in d.values())
    return dumps, root


def normalized(sql, root):
    return sql.replace(root + "/", ROOT + "/") if root else sql


TOKEN = re.compile(r"'(?:[^']|'')*'|\w+|[^\w\s]")


def tokens(sql):
    return TOKEN.findall(sql)


def classify(before, after):
    if before is None:
        return "added"
    if after is None:
        return "removed"
    if before == after:
        return "identical"
    if tokens(before) == tokens(after):
        return "whitespace-only"
    return "changed"


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    tables = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    if not tables:
        sys.exit(f"no *.parquet tables in {sf_dir}")
    for path in tables:
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def same_results(con, before, after):
    """(equal, detail): equal when both queries return the same typed multiset of rows."""
    try:
        schema_b = [c[:2] for c in con.execute(f"DESCRIBE ({before})").fetchall()]
        schema_a = [c[:2] for c in con.execute(f"DESCRIBE ({after})").fetchall()]
        if schema_b != schema_a:
            return False, f"columns {schema_b} -> {schema_a}"
        rows = con.execute(f"SELECT count(*) FROM ({before})").fetchone()[0]
        only_b = con.execute(
            f"SELECT count(*) FROM (({before}) EXCEPT ALL ({after}))").fetchone()[0]
        only_a = con.execute(
            f"SELECT count(*) FROM (({after}) EXCEPT ALL ({before}))").fetchone()[0]
    except duckdb.Error as e:
        return False, f"not runnable: {str(e).splitlines()[0][:160]}"
    if only_b or only_a:
        return False, f"{only_b} rows only before, {only_a} rows only after"
    return True, f"{rows} rows equal"


def main(argv):
    if len(argv) != 4:
        sys.exit(__doc__)
    before_dir, after_dir, sf_dir = argv[1:]
    before, root_b = load(before_dir)
    after, root_a = load(after_dir)
    con = None
    failed = False
    for dump in DUMPS:
        b, a = before[dump], after[dump]
        counts = {}
        for key in sorted(set(b) | set(a)):
            sb = normalized(b[key], root_b) if key in b else None
            sa = normalized(a[key], root_a) if key in a else None
            kind = classify(sb, sa)
            counts[kind] = counts.get(kind, 0) + 1
            if kind in ("identical", "whitespace-only"):
                continue
            if kind in ("added", "removed"):
                failed = True
                print(f"{dump} {key}: {kind}")
                continue
            con = con or connect(sf_dir)
            ok, detail = same_results(con, b[key], a[key])
            failed |= not ok
            print(f"{dump} {key}: changed, results {'equal' if ok else 'DIFFER'} ({detail})")
        summary = ", ".join(f"{n} {k}" for k, n in sorted(counts.items()))
        print(f"{dump}: {summary}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
