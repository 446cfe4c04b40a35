#!/usr/bin/env python3
"""Count the lines of the Scala sources under a directory (default src/main).

Per .scala file it prints two numbers:
  raw   every line of the file;
  code  non-blank lines outside `//` comment lines and `/* ... */` blocks.
        A line that closes a block counts when code follows the `*/`.

The last line is the total. Usage:

    python3 tools/loc.py [dir]
"""

import os
import sys


def count(path):
    """(raw, code) lines of one Scala file."""
    raw = code = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            raw += 1
            s = line.strip()
            if in_block:
                end = s.find("*/")
                if end < 0:
                    continue
                in_block = False
                s = s[end + 2:].strip()
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                end = s.find("*/", 2)
                if end < 0:
                    in_block = True
                    continue
                s = s[end + 2:].strip()
                if not s or s.startswith("//"):
                    continue
            code += 1
    return raw, code


def main(argv):
    root = argv[1] if len(argv) > 1 else "src/main"
    if not os.path.isdir(root):
        sys.exit(f"loc.py: no directory {root}")
    files = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(root)
        for n in names
        if n.endswith(".scala"))
    total_raw = total_code = 0
    for p in files:
        raw, code = count(p)
        total_raw += raw
        total_code += code
        print(f"{raw:7d} {code:7d}  {os.path.relpath(p, root)}")
    print(f"{total_raw:7d} {total_code:7d}  total ({len(files)} files)")


if __name__ == "__main__":
    try:
        main(sys.argv)
    except BrokenPipeError:
        # the reader closed the pipe (`loc.py | head`): stop quietly, and
        # point stdout at devnull so the interpreter's exit flush cannot
        # raise a second time
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
