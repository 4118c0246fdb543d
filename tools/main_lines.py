#!/usr/bin/env python3
"""Count the Scala lines under src/main.

Usage: python3 tools/main_lines.py [dir ...]   (default: src/main)

Prints, per directory, the total line count of its .scala files and the
count of code lines: lines that are not blank and not only comment. A line
holding code and a trailing comment is a code line. Block comments may
nest, as in Scala; comment markers inside string and character literals
are not comments. Standard library only.
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def code_lines(text):
    """Number of lines of `text` holding any character outside a comment."""
    code = set()
    line = 0
    depth = 0          # block-comment nesting
    quote = None       # None, '"' or '"""' while inside a string literal
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
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
        if quote:
            code.add(line)
            if quote == '"""':
                if text.startswith('"""', i):
                    # a triple-quoted string ends at the last of a run of quotes
                    j = i
                    while j < n and text[j] == '"':
                        j += 1
                    quote = None
                    i = j
                else:
                    i += 1
            elif c == "\\":
                i += 2
            else:
                if c == '"':
                    quote = None
                i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if not c.isspace():
            code.add(line)
        if text.startswith('"""', i):
            quote = '"""'
            i += 3
        elif c == '"':
            quote = '"'
            i += 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a character literal: 'x' or an escape such as '\n' or '\''
            j = text.find("'", i + 3 if text[i + 1] == "\\" else i + 2)
            i = (j if j >= 0 else i) + 1
        else:
            i += 1
    return len(code)


def count(d):
    files = total = code = 0
    for base, _, names in os.walk(d):
        for name in names:
            if name.endswith(".scala"):
                with open(os.path.join(base, name), encoding="utf-8") as f:
                    text = f.read()
                files += 1
                total += text.count("\n") + (0 if text.endswith("\n") or not text else 1)
                code += code_lines(text)
    return files, total, code


def main():
    dirs = sys.argv[1:] or [os.path.join(ROOT, "src", "main")]
    for d in dirs:
        if not os.path.isdir(d):
            sys.exit(f"main_lines: no directory {d}")
        files, total, code = count(d)
        print(f"{os.path.relpath(d, ROOT)}: {files} files, {total} lines, {code} code lines")


if __name__ == "__main__":
    main()
