#!/usr/bin/env python3
"""Checks that two PlanDump directories differ only in the input of global sorts.

    python3 check_sort_inputs.py <parentDump> <changeDump> [--final] [-v]

Both dumps come from `sbt "Test/runMain graft.PlanDump <sfDir> <outDir>"`.
Each plan file is parsed into its operator tree with each operator's
detail block. In both trees, the input of every global `Sort` that is a
range `Exchange` (with AQE's `ShuffleQueryStage` / `AQEShuffleRead`
wrappers) or a `Coalesce 1` is replaced by one SORT_INPUT node, counting
each kind per side; operator, codegen and stage ids are masked. A gate
whose two trees are then equal differs only where the sort's input
changed. `--final` compares the `.final.txt` files (plans after the run)
instead of the `.txt` ones; `-v` prints the first lines of each other
difference.
"""
import difflib
import os
import re
import sys

TREE = re.compile(r'^(?P<pre>[ :|+\-]*)(?P<star>\* )?(?P<name>[^ :|+\-(*][^(]*?)'
                  r' \((?P<id>\d+)\)(?P<rest>.*)$')
MARKER = re.compile(r'^([ :|]*)(\+- |:- )?(== (Final|Initial) Plan ==)$')


class Node:
    def __init__(self, name, nid, rest, star, col):
        self.name, self.id, self.rest, self.star, self.col = name, nid, rest, star, col
        self.children, self.detail, self.header = [], [], None


def parse(text):
    """The plan's trees (the main plan and each subquery), in order."""
    lines = text.split('\n')
    roots, nodes, details, header = [], [], {}, None
    i = 0
    while i < len(lines):
        line = lines[i]
        m = re.match(r'^\((\d+)\) (.*)$', line)
        if m:  # an operator's detail block, up to the next blank line
            j = i + 1
            while j < len(lines) and lines[j] != '':
                j += 1
            details.setdefault(int(m.group(1)), lines[i + 1:j])
            i = j
            continue
        if line.startswith('Subquery:') or line.startswith('====='):
            header = re.sub(r'\d+', 'N', line)
        else:
            marker, tm = MARKER.match(line), TREE.match(line)
            if marker:
                col = len(marker.group(1)) + (3 if marker.group(2) else 0)
                n = Node(marker.group(3), None, '', False, col)
                branch = bool(marker.group(2))
            elif tm and not line.startswith('=='):
                col = len(tm.group('pre'))
                n = Node(tm.group('name').strip(), int(tm.group('id')), tm.group('rest'),
                         bool(tm.group('star')), col)
                branch = tm.group('pre').rstrip().endswith('-')
            else:
                i += 1
                continue
            # a line without a branch mark at the column of a plan marker
            # is that marker's child; otherwise the parent is the nearest
            # line above at a smaller column
            if nodes and not branch and col > 0 and nodes[-1].name.startswith('== '):
                parent = nodes[-1]
            else:
                parent = next((p for p in reversed(nodes) if p.col < col), None)
            if parent is None or col == 0:
                n.header = header
                roots.append(n)
            else:
                parent.children.append(n)
            nodes.append(n)
        i += 1
    for n in nodes:
        if n.id is not None:
            n.detail = details.get(n.id, [])
    return roots


def mask(s):
    s = re.sub(r'\(\d+\)', '(N)', s)
    s = re.sub(r'codegen id : \d+', 'codegen id : N', s)
    return re.sub(r'Hosting operator id = \d+', 'Hosting operator id = N', s)


def is_global_sort(n):
    return n.name == 'Sort' and any(d.startswith('Arguments') and d.endswith(', true, 0')
                                    for d in n.detail)


def rewrite(n, side, counts):
    for c in n.children:
        rewrite(c, side, counts)
    if not (is_global_sort(n) and len(n.children) == 1):
        return
    c = chain = n.children[0]
    while chain.name in ('AQEShuffleRead', 'ShuffleQueryStage') and len(chain.children) == 1:
        chain = chain.children[0]
    if chain.name == 'Exchange' and any('rangepartitioning(' in d for d in chain.detail):
        kind = 'range exchange'
    elif c.name == 'Coalesce' and 'Arguments: 1' in c.detail:
        kind, chain = 'coalesce 1', c
    else:
        return
    counts[(side, kind)] = counts.get((side, kind), 0) + 1
    s = Node('SORT_INPUT', None, '', False, 0)
    s.children = chain.children
    n.children = [s]


def serialize(n, depth, out):
    detail = [mask(d) for d in n.detail]
    if n.name.endswith('QueryStage'):
        detail = [re.sub(r'^Arguments: \d+', 'Arguments: N', d) for d in detail]
    out.append('  ' * depth + ('* ' if n.star else '') + n.name + n.rest)
    out.extend('  ' * depth + '    | ' + d for d in detail)
    for c in n.children:
        serialize(c, depth + 1, out)


def canonical(text, side, counts):
    out = []
    for root in parse(text):
        out.append('ROOT ' + str(root.header))
        rewrite(root, side, counts)
        serialize(root, 0, out)
    return out


def main():
    parent, change = sys.argv[1], sys.argv[2]
    final = '--final' in sys.argv
    names = sorted(f for f in set(os.listdir(parent)) | set(os.listdir(change))
                   if f.endswith('.final.txt') == final)
    counts, same, other = {}, 0, []
    for f in names:
        a = open(os.path.join(parent, f)).read()
        b = open(os.path.join(change, f)).read()
        if a == b:
            same += 1
            continue
        ca, cb = canonical(a, 'parent', counts), canonical(b, 'change', counts)
        if ca != cb:
            other.append(f)
            if '-v' in sys.argv:
                diff = difflib.unified_diff(ca, cb, 'parent/' + f, 'change/' + f, lineterm='')
                print('\n'.join(list(diff)[:60]))
    differ = len(names) - same
    print(f'{len(names)} gates: {same} identical, {differ} differ, '
          f'{differ - len(other)} of them only in the input of global sorts')
    print('sort inputs replaced in those:',
          ', '.join(f'{s} {k}: {v}' for (s, k), v in sorted(counts.items())))
    for f in other:
        print('  other difference:', f)


if __name__ == '__main__':
    main()
