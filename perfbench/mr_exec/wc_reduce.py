#!/usr/bin/env python3
"""Word-count reduce executable for the benchmark's MapReduce jobs.

Reads ``<word>\t<value>`` lines sorted by line on stdin and prints
``<word>\t<count>`` once per run of equal words: the number of input
lines that carried the word.
"""

import sys


def main() -> None:
    out = sys.stdout
    current, count = None, 0
    for line in sys.stdin:
        key = line.rstrip("\n").partition("\t")[0]
        if key != current:
            if current is not None:
                out.write(f"{current}\t{count}\n")
            current, count = key, 0
        count += 1
    if current is not None:
        out.write(f"{current}\t{count}\n")


if __name__ == "__main__":
    main()
