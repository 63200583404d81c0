#!/usr/bin/env python3
"""Count the code lines of Scala sources, per file and in total.

A code line holds at least one character outside a comment; blank lines
and comment-only lines do not count. `//` and `/* */` (which nest in
Scala) open a comment only in code, never inside a string literal, so a
`"/*"` string or a `//` inside a URL literal leaves the count alone.
Strings cover plain and triple-quoted literals, interpolated ones
(`s"…${expr}…"`, whose `${…}` is code again) and char literals such as
`'"'`.

Usage: python3 tools/code_lines.py PATH [PATH ...]
Each PATH is a .scala file or a directory searched recursively. Prints
one `<count> <file>` line per file, then `<count> total`.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that carry code."""
    lines = set()
    line = 0
    # frames: ("code", brace depth or None at top level),
    # ("str", interpolated), ("triple", interpolated), ("block", depth)
    stack = [("code", None)]
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        kind, arg = stack[-1]
        if c == "\n":
            line += 1
            if kind == "str":  # an unterminated one-line string ends here
                stack.pop()
            i += 1
            continue
        if kind == "block":
            if text.startswith("/*", i):
                stack[-1] = ("block", arg + 1)
                i += 2
            elif text.startswith("*/", i):
                if arg == 1:
                    stack.pop()
                else:
                    stack[-1] = ("block", arg - 1)
                i += 2
            else:
                i += 1
            continue
        if kind in ("str", "triple"):
            lines.add(line)
            if kind == "str" and c == "\\":
                i += 2
            elif arg and c == "$" and text.startswith("$$", i):
                i += 2
            elif arg and c == "$" and text.startswith("${", i):
                stack.append(("code", 0))
                i += 2
            elif kind == "triple" and text.startswith('"""', i):
                # the closing quotes are the LAST three of a run
                j = i
                while j < n and text[j] == '"':
                    j += 1
                stack.pop()
                i = j
            elif kind == "str" and c == '"':
                stack.pop()
                i += 1
            else:
                i += 1
            continue
        # code
        if c in " \t\r\f":
            i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            stack.append(("block", 1))
            i += 2
            continue
        lines.add(line)
        interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
        if text.startswith('"""', i):
            stack.append(("triple", interp))
            i += 3
        elif c == '"':
            stack.append(("str", interp))
            i += 1
        elif c == "'":
            # char literal ('x', '\n', 'A'); otherwise a symbol quote
            if text.startswith("\\u", i + 1):
                end = text.find("'", i + 1)
                i = end + 1 if end > 0 else i + 1
            elif i + 3 < n and text[i + 1] == "\\" and text[i + 3] == "'":
                i += 4
            elif i + 2 < n and text[i + 2] == "'" and text[i + 1] != "\n":
                i += 3
            else:
                i += 1
        elif c == "{" and arg is not None:
            stack[-1] = ("code", arg + 1)
            i += 1
        elif c == "}" and arg is not None:
            if arg == 0:
                stack.pop()  # back into the interpolated string
            else:
                stack[-1] = ("code", arg - 1)
            i += 1
        else:
            i += 1
    return len(lines)


def scala_files(path):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(root, f)


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in argv:
        for f in scala_files(path):
            with open(f, encoding="utf-8") as fh:
                count = code_lines(fh.read())
            total += count
            print(f"{count} {f}")
    print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
