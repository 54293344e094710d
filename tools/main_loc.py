#!/usr/bin/env python3
"""Count the code lines of the Scala sources under src/main.

A code line is a line that still holds something other than whitespace
once `//` line comments and `/* ... */` block comments (scaladoc
included) are removed. String literals are honoured, so a `//` or `/*`
inside a string does not start a comment.

Usage: python3 tools/main_loc.py [root]     (root defaults to src/main)
Prints the total; with -v also one "<lines> <file>" row per file.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = 0  # Scala block comments nest
    in_triple = False
    for line in text.splitlines():
        i, has_code, in_str = 0, in_triple, False
        while i < len(line):
            c, two = line[i], line[i:i + 2]
            if in_block:
                if two == "/*":
                    in_block += 1
                    i += 2
                elif two == "*/":
                    in_block -= 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif in_str:
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = False
                    i += 1
                else:
                    i += 1
            elif two == "//":
                break
            elif two == "/*":
                in_block = 1
                i += 2
            elif line.startswith('"""', i):
                in_triple, has_code = True, True
                i += 3
            elif c == '"':
                in_str, has_code = True, True
                i += 1
            elif c == "'" and line[i + 2:i + 3] == "'":
                has_code = True  # char literal such as '"' or '/'
                i += 3
            elif c == "'" and line[i + 1:i + 2] == "\\":
                has_code = True  # escaped char literal such as '\\'
                i = line.find("'", i + 3) + 1 or len(line)
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if has_code:
            n += 1
    return n


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    root = args[0] if args else "src/main"
    total = 0
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f.endswith(".scala"):
                p = os.path.join(dirpath, f)
                with open(p, encoding="utf-8") as fh:
                    k = code_lines(fh.read())
                total += k
                if verbose:
                    print(k, p)
    print(total)


if __name__ == "__main__":
    main(sys.argv[1:])
