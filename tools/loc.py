#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines that hold something other than
comments.

    python3 tools/loc.py [root]        # default root: src/main

Prints the total for the tree, then one line per package (the directory
of each file, relative to the root's `scala/` dir when there is one),
largest first. A line counts when any non-whitespace character on it lies
outside a comment; `//` line comments and nested `/* */` block comments
(scaladoc included) are skipped, and string literals (plain, triple-quoted
and interpolated) are scanned so that comment markers inside them do not
count as comments. Standard library only.
"""
import os
import sys
from collections import Counter


def code_lines(text):
    """Number of lines in `text` with at least one code character."""
    n = 0
    depth = 0          # nesting depth of /* */ block comments
    in_str = None      # None, '"' or '"""'
    has_code = False
    i, end = 0, len(text)
    while i < end:
        c = text[i]
        if c == "\n":
            n += has_code
            has_code = False
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if in_str:
            if not c.isspace():
                has_code = True
            if in_str == '"' and c == "\\":
                i += 2
            elif text.startswith(in_str, i):
                i += len(in_str)
                if in_str == '"""':  # a closing run may be longer than three quotes
                    while i < end and text[i] == '"':
                        i += 1
                in_str = None
            else:
                i += 1
            continue
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = end if j < 0 else j
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif text.startswith('"""', i):
            in_str = '"""'
            has_code = True
            i += 3
        elif c == '"':
            in_str = '"'
            has_code = True
            i += 1
        elif c == "'" and i + 2 < end and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # char literal ('"', '\n', '\''): step over it whole
            j = text.find("'", i + 3 if text[i + 1] == "\\" else i + 2)
            has_code = True
            i = end if j < 0 else j + 1
        else:
            if not c.isspace():
                has_code = True
            i += 1
    return n + has_code


def main(argv):
    root = argv[1] if len(argv) > 1 else "src/main"
    base = os.path.join(root, "scala") if os.path.isdir(os.path.join(root, "scala")) else root
    per_pkg = Counter()
    files = 0
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                path = os.path.join(d, name)
                with open(path, encoding="utf-8") as f:
                    lines = code_lines(f.read())
                pkg = os.path.relpath(d, base).replace(os.sep, ".")
                per_pkg[pkg] += lines
                files += 1
    print(f"{sum(per_pkg.values())} code lines in {files} Scala files under {root}")
    for pkg, lines in sorted(per_pkg.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{lines:8d}  {pkg}")


if __name__ == "__main__":
    main(sys.argv)
