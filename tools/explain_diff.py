#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps and list the queries whose plans differ.

    python3 tools/explain_diff.py OLD.txt NEW.txt [-v]

Each dump is the stdout of `sbt "runMain graft.Explain"` (one
`========== name ==========` section per query). Before comparing, each
plan is stripped of what changes from run to run without the plan
changing: expression ids (`#123`), `plan_id`s, RDD ids, temp paths,
JVM lambda class names and hash codes, lambda variable names (`x_87`)
and source line numbers. `-v` prints a unified diff per differing query.
Exit status: 0 when every query common to both dumps is identical.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
RULES = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"(?:file:)?/tmp/[^\s,\]]*"), "TMP"),
    (re.compile(r"\$+Lambda\$[\w/$]*(?:@[0-9a-f]+)?"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@"),
    (re.compile(r"\bx_\d+\b"), "x_"),
    (re.compile(r"(\.(?:scala|java)):\d+"), r"\1"),
]


def sections(path):
    """query name -> normalised plan lines, in dump order."""
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None:
                for pat, rep in RULES:
                    line = pat.sub(rep, line)
                out[name].append(line)
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    if len(args) != 2:
        sys.exit(__doc__)
    old, new = sections(args[0]), sections(args[1])
    common = [q for q in old if q in new]
    differ = [q for q in common if old[q] != new[q]]
    for q in differ:
        print(q)
        if verbose:
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    old[q], new[q], "old/" + q, "new/" + q, lineterm="", n=1))
    only_old = [q for q in old if q not in new]
    only_new = [q for q in new if q not in old]
    for label, qs in (("only in old", only_old), ("only in new", only_new)):
        if qs:
            print(f"# {label}: {' '.join(qs)}")
    print(f"# {len(common)} common, {len(common) - len(differ)} identical, "
          f"{len(differ)} differ", file=sys.stderr)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
