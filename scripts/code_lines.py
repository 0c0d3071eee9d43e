#!/usr/bin/env python3
"""Count code lines of Scala sources: non-blank lines with something
outside comments.

    scripts/code_lines.py <path>...

Each path is a `.scala` file or a directory searched recursively for
them. Block comments (`/* */` and scaladoc, nested as Scala nests them)
and `//` comments are stripped; a line counts when anything else is left
on it, string literals included. Prints `<lines> <file>` per file, sorted
by path, then `<lines> total`.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` holding code outside comments."""
    count = 0
    depth = 0          # block-comment nesting depth
    string = None      # None, '"' or '"""' while inside a string literal
    for line in text.splitlines():
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif string:
                has_code = True
                if string == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(string, i):
                    i += len(string)
                    string = None
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            else:
                if line.startswith('"""', i):
                    string = '"""'
                    i += 3
                elif line[i] == '"':
                    string = '"'
                    i += 1
                elif line.startswith("'\"'", i):  # the char literal '"'
                    i += 3
                else:
                    i += 1
                has_code = has_code or not line[i - 1].isspace()
        if string == '"':  # a single-quoted string never spans lines
            string = None
        count += has_code
    return count


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    return [os.path.join(d, f) for d, _, fs in os.walk(path)
            for f in fs if f.endswith(".scala")]


def main(paths):
    if not paths:
        sys.exit(__doc__)
    total = 0
    for f in sorted(f for p in paths for f in scala_files(p)):
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(n, f)
    print(total, "total")


if __name__ == "__main__":
    main(sys.argv[1:])
