#!/usr/bin/env python3
"""Count non-comment, non-blank lines of Scala source.

Usage: python3 scripts/loc.py <path>...

Each path is a `.scala` file or a directory searched recursively for
`.scala` files. Prints one count per path, then a total when more than
one path is given.

A line counts when anything but whitespace is left on it after `//` line
comments and `/* */` block comments (which nest, as in Scala) are
removed. Comment markers inside string literals, triple-quoted strings
(whose closer may follow extra quotes: four or more quotes in a row end
the string on the last three) and char literals such as a quote in
single quotes are code, not comments, and every line of a multi-line
string counts.
"""
import os
import sys

CODE, LINE_COMMENT, BLOCK_COMMENT, STRING, TRIPLE = range(5)


def count_lines(text):
    state = CODE
    depth = 0  # block-comment nesting depth
    has_code = False
    n = 0
    i = 0
    size = len(text)
    while i < size:
        c = text[i]
        nxt = text[i + 1] if i + 1 < size else ""
        if c == "\n":
            if has_code or state in (STRING, TRIPLE):
                n += 1
            has_code = False
            if state == LINE_COMMENT:
                state = CODE
            i += 1
            continue
        if state == LINE_COMMENT:
            i += 1
        elif state == BLOCK_COMMENT:
            if c == "/" and nxt == "*":
                depth += 1
                i += 2
            elif c == "*" and nxt == "/":
                depth -= 1
                i += 2
                if depth == 0:
                    state = CODE
            else:
                i += 1
        elif state == STRING:
            has_code = True
            if c == "\\":
                i += 2
            else:
                if c == '"':
                    state = CODE
                i += 1
        elif state == TRIPLE:
            has_code = True
            if text.startswith('"""', i):
                i += 3
                while i < size and text[i] == '"':
                    i += 1
                state = CODE
            else:
                i += 1
        else:  # CODE
            if c == "/" and nxt == "/":
                state = LINE_COMMENT
                i += 2
            elif c == "/" and nxt == "*":
                state = BLOCK_COMMENT
                depth = 1
                i += 2
            elif text.startswith('"""', i):
                has_code = True
                state = TRIPLE
                i += 3
            elif c == '"':
                has_code = True
                state = STRING
                i += 1
            elif c == "'":
                has_code = True
                # char literal: 'x' or an escape such as '\'' or 'A'
                if nxt == "\\":
                    end = text.find("'", i + 3)
                    i = end + 1 if end != -1 else i + 1
                elif i + 2 < size and text[i + 2] == "'" and nxt != "\n":
                    i += 3
                else:
                    i += 1  # a symbol literal or a stray quote
            else:
                if not c.isspace():
                    has_code = True
                i += 1
    if has_code or state in (STRING, TRIPLE):
        n += 1
    return n


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        found += [os.path.join(root, f) for f in sorted(files)
                  if f.endswith(".scala")]
    return found


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    total = 0
    for path in paths:
        if not os.path.exists(path):
            sys.exit(f"loc.py: no such path: {path}")
        n = 0
        for f in scala_files(path):
            with open(f, encoding="utf-8") as fh:
                n += count_lines(fh.read())
        total += n
        print(f"{n:>8,}  {path}")
    if len(paths) > 1:
        print(f"{total:>8,}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
