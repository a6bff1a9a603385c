#!/usr/bin/env python3
"""Word-count map executable for the benchmark's MapReduce jobs.

Reads text on stdin; for every line splits on space/tab after
lowercasing and prints ``<word>\t1`` per token. A blank line yields the
empty token, and two adjacent separators yield an empty token between
them, as in the contract documented in ``mrlite/builtins.py``.
"""

import sys


def main() -> None:
    out = sys.stdout
    for line in sys.stdin:
        line = line.rstrip("\n")
        for token in line.lower().replace("\t", " ").split(" "):
            out.write(f"{token}\t1\n")


if __name__ == "__main__":
    main()
