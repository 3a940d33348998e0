#!/usr/bin/env python3
"""Compare two directories of `graft.tools.PlanDump` output, query by query.

Usage: python3 tools/plan_diff.py <dirA> <dirB> [--suffix-a S] [--suffix-b S]

PlanDump writes `<query>_<suffix>.txt`. A query is the file name without
`.txt` and without a trailing `_before` / `_after`; `--suffix-a` /
`--suffix-b` pick one suffix per directory when a directory holds both
(as `plans/r06` does).

IDs that differ between two runs of the same plan are normalized before
comparing: expression IDs (`#123`, `#123L` keeps its type suffix),
lambda-variable names (`lambda x_6#97`), exchange `plan_id`s, and an
existing RDD's id and creation line (`MapPartitionsRDD[108] at
createDataFrame at Dedup.scala:569`). Prints one line per query,
`<query>: identical` or a unified diff, and exits 1 when any query differs
or exists on one side only.
"""
import argparse
import difflib
import re
import sys
from pathlib import Path

NORMALIZE = [
    (re.compile(r"(lambda [A-Za-z]\w*?)_\d+"), r"\1_N"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"(\.scala):\d+"), r"\1:N"),
]


def normalize(text):
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def plans(directory, suffix):
    out = {}
    for path in sorted(Path(directory).glob("*.txt")):
        stem = path.stem
        if suffix is not None:
            if not stem.endswith("_" + suffix):
                continue
            query = stem[: -len(suffix) - 1]
        else:
            query = re.sub(r"_(before|after)$", "", stem)
        if query in out:
            sys.exit(f"{directory}: more than one file for {query}; "
                     "pick one with --suffix-a / --suffix-b")
        out[query] = path
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    ap.add_argument("--suffix-a")
    ap.add_argument("--suffix-b")
    args = ap.parse_args()
    a = plans(args.dir_a, args.suffix_a)
    b = plans(args.dir_b, args.suffix_b)
    differs = False
    for query in sorted(a.keys() | b.keys()):
        if query not in b or query not in a:
            side = "A" if query in a else "B"
            print(f"{query}: only in {side}")
            differs = True
            continue
        la = normalize(a[query].read_text())
        lb = normalize(b[query].read_text())
        if la == lb:
            print(f"{query}: identical")
            continue
        differs = True
        print(f"{query}: differs")
        sys.stdout.writelines(difflib.unified_diff(
            la, lb, str(a[query]), str(b[query])))
    return 1 if differs else 0


if __name__ == "__main__":
    sys.exit(main())
