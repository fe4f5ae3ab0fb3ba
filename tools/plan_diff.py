#!/usr/bin/env python3
"""Compare two `graft.PlanAudit` dumps query by query.

    python3 tools/plan_diff.py before.txt after.txt [--all]

Prints, for every query whose normalized plan text differs (or for every
query with --all), the count of exchanges (shuffle + broadcast + reused),
graft native-kernel calls, higher-order-function lambdas and
CartesianProduct operators in each dump, then a summary line. The kernel
names come from the `case class ...Expr`/`...Agg` declarations under
src/main/scala/graft/expr, as Spark prints them (lowercased class name).
PlanAudit already prints plans normalized; the same normalization is
applied here as well, so older raw dumps compare too."""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEADER = re.compile(r"^========== (\S+) ==========$")
PER_RUN = [
    (re.compile(r"#[0-9]+"), "#N"),
    (re.compile(r"(lambda [A-Za-z]+)_[0-9]+"), r"\1_N"),
    (re.compile(r"plan_id=[0-9]+"), "plan_id=P"),
    (re.compile(r"\$\$Lambda[^@\s,)\]]*@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"\[[0-9]+\] at ([A-Za-z0-9_$]+) at ([A-Za-z0-9_$]+)\.scala:[0-9]+"),
     r" at \1 at \2.scala"),
]
# operator detail headers in FormattedMode: "(12) BroadcastExchange"
OPERATOR = re.compile(r"^\([0-9]+\) (\w+)")


def kernel_names():
    names = set()
    expr_dir = os.path.join(ROOT, "src", "main", "scala", "graft", "expr")
    for f in sorted(os.listdir(expr_dir)):
        if f.endswith(".scala"):
            with open(os.path.join(expr_dir, f), encoding="utf-8") as fh:
                for m in re.finditer(r"case class (\w+(?:Expr|Agg))\b", fh.read()):
                    names.add(m.group(1).lower())
    return names


def read_dump(path):
    plans, name, lines = {}, None, []
    with open(path, encoding="utf-8", errors="replace") as fh:
        for raw in fh:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                if name is not None:
                    plans[name] = "\n".join(lines).strip()
                name, lines = m.group(1), []
            elif name is not None and not line.startswith("["):
                lines.append(line)
    if name is not None:
        plans[name] = "\n".join(lines).strip()
    return plans


def normalize(text):
    for pat, rep in PER_RUN:
        text = pat.sub(rep, text)
    return text


def counts(text, kernels):
    ops = [m.group(1) for m in map(OPERATOR.match, text.splitlines()) if m]
    calls = re.findall(r"\b([a-z0-9_]+)\(", text)
    return {
        "exchanges": sum(op.endswith("Exchange") for op in ops),
        "kernels": sum(c in kernels for c in calls),
        "lambdas": text.count("lambdafunction("),
        "cartesian": sum(op == "CartesianProduct" for op in ops),
    }


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    show_all = "--all" in argv
    before, after = (read_dump(p) for p in args)
    kernels = kernel_names()
    keys = ("exchanges", "kernels", "lambdas", "cartesian")
    changed = moved = 0
    print("%-34s %s" % ("query", "  ".join("%-9s" % k for k in keys)))
    for name in sorted(set(before) | set(after)):
        a, b = before.get(name), after.get(name)
        same = a is not None and b is not None and normalize(a) == normalize(b)
        if same and not show_all:
            continue
        ca = counts(normalize(a), kernels) if a is not None else None
        cb = counts(normalize(b), kernels) if b is not None else None
        cells = []
        for k in keys:
            x = "-" if ca is None else ca[k]
            y = "-" if cb is None else cb[k]
            cells.append("%-9s" % (str(x) if x == y else "%s->%s" % (x, y)))
        changed += not same
        moved += ca is None or cb is None or ca["exchanges"] != cb["exchanges"]
        print("%-34s %s%s" % (name, "  ".join(cells), "" if same else "  (changed)"))
    total = len(set(before) | set(after))
    print("%d queries, %d with a changed plan, %d with a changed exchange count; "
          "CartesianProduct before/after: %d/%d" % (
              total, changed, moved,
              sum(counts(normalize(p), kernels)["cartesian"] for p in before.values()),
              sum(counts(normalize(p), kernels)["cartesian"] for p in after.values())))


if __name__ == "__main__":
    main(sys.argv[1:])
