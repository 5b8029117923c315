#!/usr/bin/env python3
"""Report copy-pasted code in src/main.

A line counts as cloned when it lies in a window of N consecutive
non-blank, non-comment lines (whitespace-collapsed) that appears at least
twice in src/main, in the same file or in another. Prints, per file and in
total, the cloned lines over the counted lines.

Usage: python3 tools/clone_report.py [--window N] [--root DIR] [--show]
  --show  also print each repeated window's first line and locations
"""
import argparse
import os
import re
from collections import defaultdict


def code_lines(path):
    """(line number, normalized text) of the non-blank, non-comment lines."""
    out = []
    in_block = False
    with open(path, encoding='utf-8') as f:
        for no, raw in enumerate(f, 1):
            s = raw.strip()
            if in_block:
                if '*/' in s:
                    in_block = False
                    s = s.split('*/', 1)[1].strip()
                else:
                    continue
            if s.startswith('/*'):
                if '*/' not in s:
                    in_block = True
                    continue
                s = s.split('*/', 1)[1].strip()
            if not s or s.startswith('//') or s.startswith('*'):
                continue
            out.append((no, re.sub(r'\s+', ' ', s)))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--window', type=int, default=8)
    ap.add_argument('--root', default='src/main')
    ap.add_argument('--show', action='store_true')
    a = ap.parse_args()
    n = a.window

    files = {}
    for d, _, names in os.walk(a.root):
        for name in names:
            if name.endswith(('.scala', '.java')):
                p = os.path.join(d, name)
                files[p] = code_lines(p)

    seen = defaultdict(list)  # window text -> [(file, start index)]
    for p, lines in files.items():
        for i in range(len(lines) - n + 1):
            key = '\n'.join(t for _, t in lines[i:i + n])
            seen[key].append((p, i))

    cloned = defaultdict(set)
    for key, locs in seen.items():
        if len(locs) < 2:
            continue
        for p, i in locs:
            cloned[p].update(range(i, i + n))

    total = sum(len(v) for v in files.values())
    total_cloned = sum(len(v) for v in cloned.values())
    width = max((len(p) for p in files), default=10)
    for p in sorted(files, key=lambda q: -len(cloned.get(q, ()))):
        c = len(cloned.get(p, ()))
        if c:
            print(f'{p:<{width}}  {c:6d} / {len(files[p]):6d}')
    print(f'{"TOTAL":<{width}}  {total_cloned:6d} / {total:6d}  (window {n})')

    if a.show:
        print()
        groups = sorted(((k, v) for k, v in seen.items() if len(v) > 1),
                        key=lambda kv: (kv[1][0][0], kv[1][0][1]))
        last = {}
        for key, locs in groups:
            # print only the first window of each run of overlapping windows
            p0, i0 = locs[0]
            if last.get(p0) is not None and i0 <= last[p0] + n:
                last[p0] = i0
                continue
            last[p0] = i0
            where = ', '.join(f'{p}:{files[p][i][0]}' for p, i in locs)
            print(f'{where}  {key.splitlines()[0][:70]}')


if __name__ == '__main__':
    main()
