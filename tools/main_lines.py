#!/usr/bin/env python3
"""Count non-blank, non-comment source lines per file and in total.

A line counts when it is not blank after `/* ... */` blocks (scaladoc
included) are stripped and it does not start with `//`. A line of code
with a trailing `//` comment counts. This is the line count the project
uses to size a simplification.

Usage: python3 tools/main_lines.py [PATH ...]
  PATH is a source file or a directory searched for *.scala files
  (default: src/main/scala). Prints one "<count>  <file>" line per file,
  then "<total>  total".
"""
import os
import re
import sys

BLOCK = re.compile(r"/\*.*?\*/", re.S)


def code_lines(text):
    return sum(1 for line in BLOCK.sub("", text).splitlines()
               if line.strip() and not line.strip().startswith("//"))


def files_under(path):
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".scala"))


def main(argv):
    total = 0
    for path in argv or ["src/main/scala"]:
        for f in files_under(path):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
