#!/usr/bin/env python3
"""W6 grep reduce: drop the constant key and print the line. A record
that does not split into exactly two tab-separated fields is
malformed and skipped."""

import sys


def main() -> None:
    for line in sys.stdin:
        fields = line.rstrip("\n").split("\t")
        if len(fields) == 2:
            sys.stdout.write(fields[1] + "\n")


if __name__ == "__main__":
    main()
