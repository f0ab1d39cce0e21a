#!/usr/bin/env python3
"""Job counts of two `graft.Inspect` logs, side by side.

Usage: python3 tools/job_counts.py <logA> <logB>

`graft.Inspect` prints one `[inspect] <query> jobs=<n> construct=<m> ...`
line per query: all jobs of the query's first execution, and those started
before its sink (construction jobs). For every query in both logs whose
counts differ this prints `jobs a → b` and `construct a → b`, then the
totals over the queries in both logs, and names the queries found in only
one log. Exits 1 when a query gained a job or a construction job.
Standard library only.
"""
import re
import sys

LINE = re.compile(r"\[inspect\] (\S+)\s+jobs=(\d+) construct=(\d+)")


def counts(path):
    """{query: (jobs, construct)} of one Inspect log."""
    out = {}
    with open(path, errors="replace") as f:
        for line in f:
            m = LINE.search(line)
            if m:
                out[m.group(1)] = (int(m.group(2)), int(m.group(3)))
    return out


def compare(a, b):
    """(report lines, gained queries) for two {query: (jobs, construct)}."""
    both = sorted(set(a) & set(b))
    lines, gained = [], []
    width = max((len(q) for q in both), default=0)
    for q in both:
        (ja, ca), (jb, cb) = a[q], b[q]
        if (ja, ca) != (jb, cb):
            lines.append("%-*s  jobs %d → %d  construct %d → %d"
                         % (width, q, ja, jb, ca, cb))
        if jb > ja or cb > ca:
            gained.append(q)
    lines.append("total over %d queries: jobs %d → %d, construct %d → %d"
                 % (len(both), sum(a[q][0] for q in both),
                    sum(b[q][0] for q in both),
                    sum(a[q][1] for q in both),
                    sum(b[q][1] for q in both)))
    for name, only in (("A", set(a) - set(b)), ("B", set(b) - set(a))):
        if only:
            lines.append("only in %s: %s" % (name, " ".join(sorted(only))))
    if gained:
        lines.append("gained jobs: %s" % " ".join(gained))
    return lines, gained


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    a, b = counts(argv[1]), counts(argv[2])
    if not set(a) & set(b):
        sys.exit("no query has an [inspect] line in both logs")
    lines, gained = compare(a, b)
    print("\n".join(lines))
    return 1 if gained else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
