#!/usr/bin/env python3
"""Summarize or compare `sbt runMain graft.Explain` dumps.

Table mode: per query, count joins by strategy, count exchanges
(shuffle Exchange, not BroadcastExchange), and flag notable shapes
(TakeOrderedAndProject, Window, InMemoryTableScan) — the PLANS.md
summary table.

Diff mode (`--diff A B`): compare two dumps query by query. Each dump is
first masked of what differs between two runs of the same code:
expression ids (`#123`), exchange ids (`[plan_id=N]`), the suffixes of
lambda variables (`lambda x_42`, a JVM-global counter), JVM object
identities (`$$Lambda$.../0x...@hash`), RDD ids (`MapPartitionsRDD[202]`),
the source line of an RDD's call site (`Dedup.scala:1072`) and the
checkout directory (read from sbt's "(in build file:...)" line); sbt's
own `[info]`/`[success]` lines are dropped. Per query it reports
whether the operator tree is identical (same operators, in the same
places, including join strategies, exchanges and in-memory scans; an
adaptive plan's initial plan stands for it, see `tree_shape`), the
join/exchange/in-memory-scan counts on both sides when it is not, the
column names that appear on one side only, and then prints the masked
text diff. Exit status is 0 either way; read the report.

Usage: sbt -batch "runMain graft.Explain <sfDir>" > /tmp/plans.txt
       python3 tools/plan_table.py /tmp/plans.txt
       python3 tools/plan_table.py --diff /tmp/plans_a.txt /tmp/plans_b.txt
"""
import difflib
import re
import sys
from collections import Counter

TREE_NODE = re.compile(r"^([ :|+\-]*)(\S.*?) \(\d+\)(\W.*)?$")


def sections(path):
    """(checkout root or None, {query name: [lines]}) of one dump."""
    current = None
    root = None
    plans = {}
    for line in open(path):
        m = re.match(r"===== (\S+) =====", line.strip())
        if m and m.group(1) != "Subqueries":
            current = m.group(1)
            plans[current] = []
        elif m:
            # Spark's formatted explain emits an "===== Subqueries ====="
            # divider INSIDE a query's dump — its operators belong to the
            # current query, not a new one
            plans[current].append(line)
        elif current and not re.match(r"\[(info|warn|error|success)\] ", line):
            plans[current].append(line)
        else:
            r = re.search(r"\(in build file:(/\S*?)/?\)", line)
            if r:
                root = r.group(1)
    return root, plans


def tree_lines(lines):
    """The plan tree(s) of a query: the lines from each "== Physical
    Plan ==" or "Subquery:" header to the next blank line."""
    out, inside = [], False
    for line in lines:
        s = line.rstrip("\n")
        if s.startswith("== Physical Plan ==") or s.startswith("Subquery:"):
            inside = True
        elif inside and not s.strip():
            inside = False
        elif inside:
            out.append(s)
    return out


def tree_shape(lines, initial_only=False):
    """(depth, operator) per tree node, operator ids dropped.

    An adaptive plan that had already run a stage when the dump was
    taken (a cache that plan construction materialized) prints its
    "== Final Plan ==" and then its "== Initial Plan ==". With
    `initial_only` (diff mode) only the initial plan is kept, so the
    shape does not depend on whether construction happened to run a
    job; the table counts both, as it always has.
    """
    shape, final_at = [], None
    for s in tree_lines(lines):
        marker = re.match(r"^([ :|+\-]*)== (Final|Initial) Plan ==", s)
        if initial_only and marker:
            if marker.group(2) == "Final":
                final_at = len(marker.group(1))
            elif len(marker.group(1)) == final_at:
                final_at = None
            continue
        m = TREE_NODE.match(s)
        if m and final_at is None:
            shape.append((len(m.group(1)), m.group(2).strip()))
    return shape


def counts(lines, initial_only=False):
    ops = [op for _, op in tree_shape(lines, initial_only)]
    joins = Counter(op.split()[0][:-4] for op in ops
                    if op.split()[0].endswith("Join"))
    exchanges = sum(1 for op in ops if op == "Exchange")
    imr = sum(1 for op in ops if op == "InMemoryTableScan")
    return joins, exchanges, imr


def mask(line, root):
    if root:
        line = line.replace(root, "<checkout>")
    line = re.sub(r"\[plan_id=\d+\]", "[plan_id=N]", line)
    line = re.sub(r"#\d+", "#N", line)
    line = re.sub(r"(lambda [A-Za-z]\w*?)_\d+\b", r"\1_N", line)
    line = re.sub(r"\$\$Lambda[^\s,)\]]*", "$$Lambda", line)
    line = re.sub(r"RDD\[\d+\]", "RDD[N]", line)
    line = re.sub(r"(\w\.scala):\d+", r"\1:N", line)
    return line


def fmt_joins(j):
    return " ".join(f"{k}×{v}" for k, v in sorted(j.items())) or "—"


def table(path):
    _, plans = sections(path)
    print("| query | joins | exchanges | shape |")
    print("|---|---|---|---|")
    for name in sorted(plans):
        joins, exchanges, n_imr = counts(plans[name])
        ops = [op for _, op in tree_shape(plans[name])]
        shapes = []
        if "TakeOrderedAndProject" in ops:
            shapes.append("top-k")
        if "Window" in ops:
            shapes.append("window")
        if n_imr:
            shapes.append(f"cached-candidates×{n_imr}")
        print(f"| `{name}` | {fmt_joins(joins)} | {exchanges} | {' '.join(shapes)} |")


def diff(path_a, path_b):
    root_a, plans_a = sections(path_a)
    root_b, plans_b = sections(path_b)
    names = sorted(set(plans_a) | set(plans_b))
    masked = {}
    print("| query | operator tree | joins | exchanges | in-memory scans | masked lines differing |")
    print("|---|---|---|---|---|---|")
    n_same_tree = n_same_text = 0
    for name in names:
        if name not in plans_a or name not in plans_b:
            side = "A" if name in plans_a else "B"
            print(f"| `{name}` | only in {side} | | | | |")
            continue
        a = [mask(l.rstrip("\n"), root_a) for l in plans_a[name]]
        b = [mask(l.rstrip("\n"), root_b) for l in plans_b[name]]
        masked[name] = (a, b)
        same_tree = tree_shape(a, True) == tree_shape(b, True)
        n_same_tree += same_tree
        n_same_text += a == b
        ja, ea, ia = counts(a, True)
        jb, eb, ib = counts(b, True)
        changed = sum(1 for l in difflib.ndiff(a, b) if l[:1] in "+-")

        def pair(x, y):
            return f"{x}" if x == y else f"{x} → {y}"
        print(f"| `{name}` | {'identical' if same_tree else 'DIFFERS'} | "
              f"{pair(fmt_joins(ja), fmt_joins(jb))} | {pair(ea, eb)} | "
              f"{pair(ia, ib)} | {changed} |")
    print(f"\n{len(masked)} queries on both sides: {n_same_tree} identical "
          f"operator trees, {n_same_text} identical masked texts\n")
    for name, (a, b) in masked.items():
        if a == b:
            continue
        cols_a = set(re.findall(r"(\w+)#N", "\n".join(a)))
        cols_b = set(re.findall(r"(\w+)#N", "\n".join(b)))
        print(f"===== {name} =====")
        print(f"columns only in A: {', '.join(sorted(cols_a - cols_b)) or '—'}")
        print(f"columns only in B: {', '.join(sorted(cols_b - cols_a)) or '—'}")
        for l in difflib.unified_diff(a, b, "A", "B", n=0, lineterm=""):
            print(l)
        print()


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--diff":
        diff(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 2:
        table(sys.argv[1])
    else:
        sys.exit(__doc__)
