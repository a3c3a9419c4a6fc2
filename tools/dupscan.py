#!/usr/bin/env python3
"""Copy-paste scan of the Scala sources.

For each file under src/main/scala, counts the non-blank, non-comment
lines, and how many of them repeat an earlier 6-line run of the same
file word for word (indentation included; trailing whitespace ignored).
Then lists the largest repeated runs with the query or def that owns
the copy and the one that owns the original.

Usage: python3 tools/dupscan.py [--top N] [--window W] [root-or-files...]
  (default root: src/main/scala; default top 5 runs per file)
"""
import argparse, os, re, sys

# A query is registered as `"name" -> QueryDef(`; a helper as `def name`.
OWNER = re.compile(r'^\s*(?:"([a-z0-9_]+)"\s*->\s*QueryDef\b'
                   r'|(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|lazy\s+)*'
                   r'(?:def|val)\s+([A-Za-z_][A-Za-z0-9_]*))')


def code_lines(path):
    """(line number, text) of every non-blank line outside comments."""
    out, in_block = [], False
    with open(path, encoding="utf-8") as fh:
        for n, raw in enumerate(fh, 1):
            text = raw.rstrip()
            s = text.strip()
            if in_block:
                if "*/" not in s:
                    continue
                in_block = False
                s = s.split("*/", 1)[1].strip()
                text = s
            if s.startswith("/*"):
                if "*/" not in s:
                    in_block = True
                    continue
                s = s.split("*/", 1)[1].strip()
                text = s
            if not s or s.startswith("//"):
                continue
            out.append((n, text))
    return out


def owners(path):
    """Line number -> name of the nearest query registration or
    object-level def/val at or above it."""
    table, current = {}, "<top>"
    with open(path, encoding="utf-8") as fh:
        for n, raw in enumerate(fh, 1):
            m = OWNER.match(raw)
            if m and (m.group(1) or not raw.startswith("   ")):
                current = m.group(1) or m.group(2)
            table[n] = current
    return table


def scan(path, window):
    """Returns (code lines, repeated lines, runs). A run is a maximal
    stretch of repeated lines whose windows all match earlier windows
    at the same offset: (length, first line, original first line)."""
    lines = code_lines(path)
    text = [t for _, t in lines]
    first_at, repeated, src = {}, [False] * len(lines), [None] * len(lines)
    for i in range(len(lines) - window + 1):
        key = tuple(text[i:i + window])
        j = first_at.setdefault(key, i)
        if j != i:
            for k in range(window):
                repeated[i + k] = True
                if src[i + k] is None:
                    src[i + k] = j + k
    runs, i = [], 0
    while i < len(lines):
        if not repeated[i]:
            i += 1
            continue
        start = i
        while (i + 1 < len(lines) and repeated[i + 1]
               and src[i + 1] == src[i] + 1):
            i += 1
        runs.append((i - start + 1, lines[start][0], lines[src[start]][0]))
        i += 1
    return len(lines), sum(repeated), runs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="*", default=["src/main/scala"])
    ap.add_argument("--top", type=int, default=5)
    ap.add_argument("--window", type=int, default=6)
    args = ap.parse_args()
    files = []
    for p in args.paths:
        if os.path.isdir(p):
            for d, _, fs in os.walk(p):
                files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
        else:
            files.append(p)
    total_code = total_rep = 0
    for path in sorted(files):
        code, rep, runs = scan(path, args.window)
        total_code += code
        total_rep += rep
        if not rep:
            continue
        print(f"{path}: {code} code lines, {rep} repeated")
        own = owners(path)
        for length, at, orig in sorted(runs, key=lambda r: (-r[0], r[1]))[:args.top]:
            print(f"  {length:4d} lines at L{at} ({own[at]}) repeat L{orig} ({own[orig]})")
    print(f"total: {total_code} code lines, {total_rep} repeated, {len(files)} files")


if __name__ == "__main__":
    sys.exit(main())
