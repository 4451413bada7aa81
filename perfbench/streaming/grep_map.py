#!/usr/bin/env python3
"""W5 grep map: emit "1<TAB>line" for every non-blank line that holds
the query (argv[1], default "product") as a case-insensitive
substring."""

import sys


def main() -> None:
    query = sys.argv[1].lower() if len(sys.argv) > 1 else "product"
    for line in sys.stdin:
        line = line.rstrip("\n")
        if line.strip() and query in line.lower():
            sys.stdout.write(f"1\t{line}\n")


if __name__ == "__main__":
    main()
