#!/usr/bin/env python3
"""Compare two directories of formatted plan dumps node for node.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

Both directories hold `<name>_<tag>.txt` files written by
`sbt "runMain graft.BenchExtra plans <dir> <tag>"`; files are paired by
<name>. Expression ids (`#<n>`) and exchange plan ids (`plan_id=<n>`) are
session counters, and checkpointed-RDD scans name the source line that
created them (`at Matcher.scala:<n>`), so all three are stripped before
comparing. Dump both sides with the same tag: `before` swaps in the older
connected-components round. Prints a unified diff per differing plan and
exits 1 on any difference or unpaired file.
"""
import difflib, pathlib, re, sys

def plans(d):
    return {re.sub(r'_[^_]+\.txt$', '', p.name): p for p in pathlib.Path(d).glob('*.txt')}

def norm(p):
    text = re.sub(r'#\d+', '#', p.read_text())
    text = re.sub(r'plan_id=\d+', 'plan_id=', text)
    text = re.sub(r'(\w+)\.scala:\d+', r'\1.scala', text)
    return text.splitlines(keepends=True)

a, b = plans(sys.argv[1]), plans(sys.argv[2])
bad = sorted(set(a) ^ set(b))
for name in bad:
    print(f'only in one side: {name}')
for name in sorted(set(a) & set(b)):
    diff = list(difflib.unified_diff(norm(a[name]), norm(b[name]), str(a[name]), str(b[name])))
    if diff:
        bad.append(name)
        sys.stdout.writelines(diff)
print(f'{len(set(a) & set(b))} plans compared, {len(bad)} differ or unpaired')
sys.exit(1 if bad else 0)
