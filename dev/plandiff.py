#!/usr/bin/env python3
"""Compare two `graft.tools.PlanDump` outputs query by query.

    python3 dev/plandiff.py <a.md> <b.md>

Two dumps of the same code differ in ids that say nothing about the plan:
expression ids (`#123`), lambda class and variable names, AQE stage and
plan ids, codegen stage ids, and the checkout path of the index
artifacts. The
distinct-aggregate rewrite also orders its grouping keys (and numbers its
`gid` groups) by expression id, so `q_table_profile`'s Expand,
HashAggregate and hashpartitioning lists change order with how many
expressions earlier queries allocated. Each of these is normalised away;
what is left is compared per `## <query>` section, and every query whose
plan differs is printed as a unified diff.

Exit status: 0 when every query matches, 1 otherwise.
"""
import difflib
import re
import sys

SUBS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\$\$Lambda\$?[\w$]*/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"\$\$Lambda[\w$]*@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+"), r"\1_"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=]"),
    (re.compile(r"\b(\w*QueryStage) \d+"), r"\1 N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    # the explain string truncates long paths, so a longer checkout path
    # loses the closing bracket
    (re.compile(r"file:[^\],]*?/target/(graft-\w+)/[^\],]*\]?"),
     r"file:<checkout>/target/\1/...]"),
]
GID_LITERAL = re.compile(r"(gid#?) = \d+")


def split_top(s):
    """Split `s` on commas that sit outside any bracket."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def sort_lists(s):
    """Sort the items of every bracketed list in `s`, innermost first."""
    out, i = [], 0
    while i < len(s):
        ch = s[i]
        if ch in "([":
            close = ")" if ch == "(" else "]"
            depth, j = 1, i + 1
            while j < len(s) and depth:
                if s[j] in "([":
                    depth += 1
                elif s[j] in ")]":
                    depth -= 1
                j += 1
            inner = sort_lists(s[i + 1:j - 1])
            # bare integers here are Expand's gid literals, which number
            # the groups in the same expression-id order
            items = ["?" if it.isdigit() else it for it in split_top(inner)]
            out.append(ch + ", ".join(sorted(items)) + close)
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def normalise(line):
    for pat, rep in SUBS:
        line = pat.sub(rep, line)
    # a distinct-aggregate line: its key lists and gid numbering follow
    # expression-id order, so compare the lists as sets
    if "gid#" in line:
        line = sort_lists(GID_LITERAL.sub(r"\1 = ?", line))
    return line


def sections(path):
    out, name = {}, None
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("## "):
                name = line[3:].strip()
                out[name] = []
            elif name is not None:
                out[name].append(normalise(line))
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    a, b = sections(argv[1]), sections(argv[2])
    differ = 0
    for name in list(a) + [n for n in b if n not in a]:
        if name not in a or name not in b:
            differ += 1
            print(f"== {name}: only in {argv[1] if name in a else argv[2]}")
            continue
        if a[name] != b[name]:
            differ += 1
            print(f"== {name}: plans differ")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a[name], b[name], argv[1], argv[2], lineterm="", n=2))
    total = len(set(a) | set(b))
    print(f"{total - differ}/{total} plans match")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
