"""Repeated-code count: how many code windows repeat one seen earlier.

A window is 8 consecutive stripped lines of one file, skipping blank
lines and ``#`` comment lines, whose text (newlines not counted) is
at least 200 characters. Every copy of a window after its first (files
read in sorted path order) counts once; the count is printed per file
and in total.

Usage: python tools/dup_windows.py [path]   (default: the package)
"""

from __future__ import annotations

import os
import sys
from collections import Counter

WIDTH, MIN_CHARS = 8, 200


def files(root: str) -> list[str]:
    if os.path.isfile(root):
        return [root]
    return sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(root) for f in names if f.endswith(".py")
    )


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "audios_to_dataset_spark"
    seen, per_file = set(), Counter()
    for path in files(root):
        with open(path, encoding="utf-8") as fh:
            lines = [s for s in map(str.strip, fh)
                     if s and not s.startswith("#")]
        for i in range(len(lines) - WIDTH + 1):
            window = tuple(lines[i:i + WIDTH])
            if sum(map(len, window)) < MIN_CHARS:
                continue
            if window in seen:
                per_file[path] += 1
            seen.add(window)
    for path, n in sorted(per_file.items(), key=lambda kv: -kv[1]):
        print(f"{n:6d}  {path}")
    print(f"{sum(per_file.values()):6d}  total")


if __name__ == "__main__":
    main()
