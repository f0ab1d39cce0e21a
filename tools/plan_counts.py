#!/usr/bin/env python3
"""Operator counts of two sets of `graft.Inspect` plan files, side by side.

Usage: python3 tools/plan_counts.py <planDir> <suffixA> <suffixB>

`graft.Inspect <planDir> <suffix> <query...>` writes each query's formatted
plan to `<planDir>/<query>_<suffix>.txt`. For every query that has a file
under both suffixes this prints, per operator, `countA → countB`:

  exchange  shuffle Exchanges — detail sections named `Exchange` whose
            `Arguments:` line is a partitioning (hash, range, single,
            round-robin); BroadcastExchange and ReusedExchange never count
  hashagg   HashAggregate
  window    Window
  cartesian CartesianProduct
  broadcast BroadcastExchange — under adaptive execution each one is its
            own job, as each shuffle Exchange is; ReusedExchange never
            counts

Counts come from the numbered detail sections (`(N) Name ...`), so each
operator counts once however the tree draws it. Exits 1 when a query
gained an operator of any column. Standard library only.
"""
import os
import re
import sys

HEADER = re.compile(r"^\((\d+)\) (\S+)")
PARTITIONING = re.compile(
    r"^Arguments: (hashpartitioning|rangepartitioning|SinglePartition|"
    r"RoundRobinPartitioning)")
COLUMNS = [("exchange", "Exchange"), ("hashagg", "HashAggregate"),
           ("window", "Window"), ("cartesian", "CartesianProduct"),
           ("broadcast", "BroadcastExchange")]


def counts(path):
    """{column: count} for one formatted plan file."""
    out = {c: 0 for c, _ in COLUMNS}
    node = None
    with open(path) as f:
        for line in f:
            m = HEADER.match(line)
            if m:
                node = m.group(2)
                for c, name in COLUMNS:
                    if name == node and c != "exchange":
                        out[c] += 1
            elif node == "Exchange" and PARTITIONING.match(line):
                out["exchange"] += 1
                node = None
    return out


def queries(plan_dir, suffix):
    tail = "_%s.txt" % suffix
    return {f[:-len(tail)] for f in os.listdir(plan_dir) if f.endswith(tail)}


def main(argv):
    if len(argv) != 4:
        sys.exit(__doc__.strip().splitlines()[2])
    plan_dir, a, b = argv[1:]
    both = sorted(queries(plan_dir, a) & queries(plan_dir, b))
    if not both:
        sys.exit("no query has plans under both suffixes %r and %r" % (a, b))
    width = max(len(q) for q in both)
    print("%-*s  %s" % (width, "query  (%s → %s)" % (a, b),
                        "  ".join("%-9s" % c for c, _ in COLUMNS)))
    gained = []
    for q in both:
        ca = counts(os.path.join(plan_dir, "%s_%s.txt" % (q, a)))
        cb = counts(os.path.join(plan_dir, "%s_%s.txt" % (q, b)))
        cells = ["%-9s" % ("%d → %d" % (ca[c], cb[c])) for c, _ in COLUMNS]
        print("%-*s  %s" % (width, q, "  ".join(cells)))
        if any(cb[c] > ca[c] for c, _ in COLUMNS):
            gained.append(q)
    if gained:
        print("gained operators: %s" % " ".join(gained))
    return 1 if gained else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
