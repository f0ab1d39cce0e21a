#!/usr/bin/env python3
"""Compare two `oracle_sql.json` files query by query, ignoring layout.

Usage: python3 tools/oracle_diff.py <a/oracle_sql.json> <b/oracle_sql.json>

`graft.Verify --oracle-only <outDir>` writes `<outDir>/oracle_sql.json`
(no Spark session). Each query's SQL is normalized before the compare:
text inside '...' (with '' escapes) and "..." is kept exactly; outside
quotes, `--` and `/* */` comments are dropped, every whitespace run
becomes one space, and whitespace next to `(`, `)` and `,` is dropped.

Exits 1 when the two files name different queries, or when any query's
normalized SQL differs; prints the missing/extra keys or the first
differing query and where the texts part. Standard library only.
"""
import json
import sys

TIGHT = "(),"


def normalize(sql):
    """The SQL with layout and comments gone and quoted text kept exactly."""
    out = []  # tokens: quoted literals verbatim, everything else as chars
    i, n = 0, len(sql)
    space = False
    while i < n:
        c = sql[i]
        if c in "'\"":
            j = i + 1
            while j < n:
                if sql[j] == c:
                    if c == "'" and j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            tok, i = sql[i:j + 1], j + 1
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j < 0 else j
            space = True
            continue
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
            space = True
            continue
        elif c.isspace():
            space = True
            i += 1
            continue
        else:
            tok, i = c, i + 1
        if space and out and out[-1] not in TIGHT and tok not in TIGHT:
            out.append(" ")
        space = False
        out.append(tok)
    return "".join(out)


def first_difference(a, b):
    """Index of the first differing character of two strings."""
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return i
    return min(len(a), len(b))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        a = json.load(f)
    with open(argv[2]) as f:
        b = json.load(f)
    if a.keys() != b.keys():
        for k in sorted(a.keys() - b.keys()):
            print("only in %s: %s" % (argv[1], k))
        for k in sorted(b.keys() - a.keys()):
            print("only in %s: %s" % (argv[2], k))
        return 1
    for k in sorted(a):
        na, nb = normalize(a[k]), normalize(b[k])
        if na != nb:
            i = first_difference(na, nb)
            lo = max(0, i - 60)
            print("%s differs at normalized offset %d:" % (k, i))
            print("  a: ...%s" % na[lo:i + 60])
            print("  b: ...%s" % nb[lo:i + 60])
            return 1
    print("%d queries, normalized SQL identical" % len(a))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
