#!/usr/bin/env python3
"""Count code lines in Scala sources: non-blank lines that hold something
besides comments. `//` line comments, `/* */` block comments (nested, as
Scala allows) and scaladoc count as comments; a line with code and a
trailing comment counts as code. String and character literals are
skipped whole, so a `//` or `/*` inside one is code.

Usage:
    python3 tools/code_lines.py <dir> [files...]

With only <dir>, counts every *.scala file under it. With files, counts
those (paths relative to <dir>, or absolute). Prints one line per file
(count, then path relative to <dir>) and a final total line.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that hold code outside comments."""
    n = len(text)
    i = 0
    depth = 0            # block-comment nesting depth
    line_has_code = False
    count = 0
    while i < n:
        c = text[i]
        if c == "\n":
            count += line_has_code
            line_has_code = False
            i += 1
        elif depth > 0:
            if text.startswith("*/", i):
                depth -= 1
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif c.isspace():
            i += 1
        else:
            line_has_code = True
            if text.startswith('"""', i):
                end = text.find('"""', i + 3)
                end = n if end < 0 else end + 3
                while end < n and text[end] == '"':  # """...""""" closes late
                    end += 1
            elif c == '"':
                end = i + 1
                while end < n and text[end] not in '"\n':
                    end += 2 if text[end] == "\\" else 1
                end = min(end + 1, n)
            elif c == "'" and i + 2 < n and text[i + 1] != "\\" \
                    and text[i + 2] == "'":
                end = i + 3
            elif c == "'" and text.startswith("\\", i + 1):
                end = text.find("'", i + 3)
                end = n if end < 0 else end + 1
            else:
                i += 1
                continue
            # a literal may span lines (triple quotes): each line it
            # touches holds code
            count += text.count("\n", i, end)
            i = end
    return count + line_has_code


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    root = argv[1]
    files = [f if os.path.isabs(f) else os.path.join(root, f)
             for f in argv[2:]]
    if not files:
        files = sorted(os.path.join(d, f)
                       for d, _, fs in os.walk(root)
                       for f in fs if f.endswith(".scala"))
    total = 0
    for path in files:
        with open(path, encoding="utf-8") as fh:
            k = code_lines(fh.read())
        total += k
        print(f"{k:7d}  {os.path.relpath(path, root)}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv)
