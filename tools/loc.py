#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala and Java source.

A line counts when text other than whitespace is left on it after
removing `//` line comments and `/* ... */` block comments (scaladoc
included; Scala block comments nest). String and character literals are
skipped, so a `"s3://..."` or `"/*"` inside a literal is not taken for a
comment, and a non-blank line inside a triple-quoted string counts.

    python3 tools/loc.py src/main                       # total
    python3 tools/loc.py --files src/main/scala/graft/nn  # and per file
    python3 tools/loc.py --root /path/to/checkout src/main
    python3 tools/loc.py --rev HEAD~1 src/main src/test  # before -> after

Prints one `<count>  <path>` line per file with `--files`, then one total
line per directory. With `--rev`, each count is `<at rev> -> <working
tree> (<delta>)`; the revision's files are read through `git show`.
"""
import argparse
import os
import subprocess
import sys

EXTENSIONS = (".scala", ".java")


class Scanner:
    """Line-by-line state machine; state carries across lines for block
    comments and triple-quoted strings."""

    def __init__(self):
        self.depth = 0          # block-comment nesting depth
        self.in_triple = False  # inside a """ string

    def is_code(self, line):
        code = False
        i, n = 0, len(line)
        while i < n:
            if self.depth > 0:
                if line.startswith("/*", i):
                    self.depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    self.depth -= 1
                    i += 2
                else:
                    i += 1
            elif self.in_triple:
                if line.startswith('"""', i):
                    i += 3
                    while i < n and line[i] == '"':  # """" closes on the last quote
                        i += 1
                    self.in_triple = False
                    code = True
                else:
                    code = code or not line[i].isspace()
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                self.depth = 1
                i += 2
            elif line.startswith('"""', i):
                self.in_triple = True
                code = True
                i += 3
            elif line[i] == '"':
                code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'":
                code = True
                if i + 2 < n and line[i + 2] == "'":       # 'a'
                    i += 3
                elif i + 1 < n and line[i + 1] == "\\":    # '\n', 'A'
                    end = line.find("'", i + 3)
                    i = n if end < 0 else end + 1
                else:
                    i += 1
            else:
                code = code or not line[i].isspace()
                i += 1
        return code


def count_lines(lines):
    scanner = Scanner()
    return sum(1 for line in lines if scanner.is_code(line.rstrip("\n")))


def count_file(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return count_lines(f)


def source_files(top):
    if os.path.isfile(top):
        return [top]
    found = []
    for d, dirs, files in os.walk(top):
        dirs.sort()
        found += [os.path.join(d, f) for f in sorted(files) if f.endswith(EXTENSIONS)]
    return found


def git(root, *args):
    return subprocess.run(["git", "-C", root, *args], check=True,
                          capture_output=True).stdout.decode("utf-8", "replace")


def working_counts(root, top):
    """{path relative to root: count} for the source files under top."""
    path = os.path.join(root, top)
    if not os.path.exists(path):
        return {}
    return {os.path.relpath(f, root): count_file(f) for f in source_files(path)}


def rev_counts(root, rev, top):
    """{path relative to root: count} for the source files under top at rev."""
    names = git(root, "ls-tree", "-r", "--name-only", rev, "--", top).splitlines()
    return {n: count_lines(git(root, "show", f"{rev}:./{n}").splitlines())
            for n in names if n.endswith(EXTENSIONS)}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dirs", nargs="+", help="directories or files to count")
    ap.add_argument("--files", action="store_true", help="also print per-file counts")
    ap.add_argument("--root", default=".", help="resolve the paths against this directory")
    ap.add_argument("--rev", help="also count at this git revision: before -> after")
    args = ap.parse_args(argv)
    for top in args.dirs:
        after = working_counts(args.root, top)
        before = rev_counts(args.root, args.rev, top) if args.rev else None
        if not after and not before:
            sys.exit(f"loc.py: no source files under {os.path.join(args.root, top)}")

        def line(name, path):
            a = sum(after.values()) if path is None else after.get(path, 0)
            if before is None:
                return f"{a:7d}  {name}"
            b = sum(before.values()) if path is None else before.get(path, 0)
            return f"{b:7d} -> {a:7d} ({a - b:+d})  {name}"

        if args.files:
            for f in sorted(set(after) | set(before or ())):
                print(line(f, f))
        print(line(f"{top} (total)", None))


if __name__ == "__main__":
    main(sys.argv[1:])
