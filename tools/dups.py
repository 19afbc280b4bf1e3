#!/usr/bin/env python3
"""Find code that is written out three or more times.

    python3 tools/dups.py <path> [path ...]

Reads every source file (.scala, .java, .py, .sql) under each path, or the
file itself when a path names one. Blank lines, comments (`//`, `#`, `--`
lines and `/* ... */` blocks) and imports are dropped, and the rest is
compared with leading and trailing whitespace removed. Lines with no
letter or digit (a lone `}` or `)`) are dropped too, so a window is three
lines that each say something.

Prints every window of three consecutive kept lines that occurs three or
more times, most frequent first, with the file:line of each occurrence,
then one summary line: the number of such windows and the number of
source lines they cover. Overlapping windows of a longer repeated block
are each printed, so a block of n lines shows as n - 2 windows.
"""
import os
import re
import sys
from collections import defaultdict

EXTENSIONS = (".scala", ".java", ".py", ".sql")
WINDOW = 3
MIN_COUNT = 3
LINE_COMMENT = re.compile(r"^(//|#|--)")
IMPORT = re.compile(r"^(import\s|from\s+\S+\s+import\s)")
WORDY = re.compile(r"[A-Za-z0-9]")


def source_files(paths):
    for path in paths:
        if os.path.isfile(path):
            yield path
            continue
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(EXTENSIONS):
                    yield os.path.join(root, name)


def code_lines(path):
    """(line number, stripped text) of each line that is code."""
    kept, in_block = [], False
    with open(path, encoding="utf-8", errors="replace") as f:
        for no, raw in enumerate(f, 1):
            line = raw.strip()
            if in_block:
                in_block = "*/" not in line
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line
                continue
            if LINE_COMMENT.match(line) or IMPORT.match(line):
                continue
            if WORDY.search(line):
                kept.append((no, line))
    return kept


def main(paths):
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    seen = defaultdict(list)
    for path in source_files(paths):
        lines = code_lines(path)
        for i in range(len(lines) - WINDOW + 1):
            window = lines[i:i + WINDOW]
            key = tuple(text for _, text in window)
            seen[key].append((path, [no for no, _ in window]))
    repeated = [(key, locs) for key, locs in seen.items()
                if len(locs) >= MIN_COUNT]
    repeated.sort(key=lambda kv: (-len(kv[1]), kv[1][0][0], kv[1][0][1][0]))
    covered = set()
    for key, locs in repeated:
        print(f"{len(locs)}x " + "  ".join(f"{p}:{nos[0]}" for p, nos in locs))
        for text in key:
            print(f"    | {text}")
        for p, nos in locs:
            covered.update((p, no) for no in nos)
    print(f"== {len(repeated)} windows, {len(covered)} lines ==")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
