#!/usr/bin/env python3
"""Compare two graft.tools.ExplainAll plan dumps query by query.

    python3 tools/plan_diff.py before.md after.md

Each dump is split on its `## q_<name>` headings. Before comparing, the
tokens that change from one JVM to the next without any plan change are
masked: expression ids (`#123`), exchange `plan_id`s, RDD ids
(`MapPartitionsRDD[80]`) and lake fixture roots (`jvm-<pid>`). Prints the
queries whose masked plans differ, with a unified diff of each, and the
queries present in only one dump; exits 1 if there is any such query,
0 if the dumps match.
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"jvm-\d+"), "jvm-_"),
]

HEADING = re.compile(r"^## (q_\w+)\s*$", re.M)


def plans(path):
    """{query name: masked plan text} of one ExplainAll dump."""
    text = open(path, encoding="utf-8").read()
    parts = HEADING.split(text)
    out = {}
    for name, body in zip(parts[1::2], parts[2::2]):
        for pat, rep in MASKS:
            body = pat.sub(rep, body)
        out[name] = body.strip()
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    differ = []
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            only = argv[1] if name in a else argv[2]
            print(f"ONLY {name}: in {only}")
            differ.append(name)
        elif a[name] != b[name]:
            print(f"DIFF {name}")
            sys.stdout.writelines(difflib.unified_diff(
                a[name].splitlines(True), b[name].splitlines(True),
                f"{argv[1]}:{name}", f"{argv[2]}:{name}", n=1))
            print()
            differ.append(name)
    same = len(a.keys() & b.keys()) - sum(1 for n in differ if n in a and n in b)
    print(f"{same} identical, {len(differ)} differ: {' '.join(differ)}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
