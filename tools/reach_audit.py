#!/usr/bin/env python3
"""Reachability audit: public src/main definitions that no program reaches.

    python3 tools/reach_audit.py [--list]

Roots are every `def main` in src/main and every file under perfbench/src
(the benchmark drives the engine through its public API). From the roots
the scan follows names transitively: a reached definition's whole body is
scanned for identifiers, and every definition carrying one of those names
is reached in turn. The scan is by simple name, so an overloaded or common
name is reached if any reached code mentions it; it can miss a hit, never
invent one.

A definition node is either a member of a top-level object (reached on its
own) or a top-level class/trait (reached as a whole, overrides included).
Reaching a top-level object reaches its initialisation code and its
`apply`/`unapply`. Plainly `private` and `protected` members and
`override`s are not listed: no spec can call the first two, and the
runtime calls the third.

Every unreached definition is a hit. A hit that the same scan started
from src/test reaches is "spec-only", one that nothing reaches is
"uncalled". Each hit must have a line in tools/reach_rulings.tsv:

    <Object.member or Class>\t<ruling>\t<why>

with <ruling> one of: paper (the source paper's surface), contract (part
of the driver contract, called from outside the repo), twin (a reference form
specs compare a production path against), spec-pinned (a library operator
whose spec is its contract), roadmap-<item> (the ROADMAP item that will
give it a caller). The script exits 1 on an unruled hit and on a stale
ruling (a ruled name that is reached now, or gone), and prints both.
`--list` prints every hit with its kind, ruling and place.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main")
TEST = os.path.join(ROOT, "src", "test")
BENCH = os.path.join(ROOT, "perfbench", "src")
RULINGS = os.path.join(ROOT, "tools", "reach_rulings.tsv")
RULING_KINDS = ("paper", "contract", "twin", "spec-pinned")

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CHAR_LIT = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\\n])'")
DEF_NAME = re.compile(r"\s+([A-Za-z_][A-Za-z0-9_]*)")
DEF_KW = ("def", "val", "var", "object", "class", "trait", "type")


def scala_files(base):
    for d, _, fs in os.walk(base):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def strip(src):
    """Blank comments and literal string text, keep newlines and the code of
    interpolated `$name` / `${expr}` parts, so identifiers in SQL text or
    docs reach nothing while brace depth stays exact."""
    out, i, n = [], 0, len(src)

    def blank(s):
        return re.sub(r"[^\n]", " ", s)

    def interp_end(j):
        # j at '{' after '$': return index after the matching '}'
        depth = 0
        while j < n:
            if src[j] == "{":
                depth += 1
            elif src[j] == "}":
                depth -= 1
                if depth == 0:
                    return j + 1
            j += 1
        return n

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(blank(src[i:j]))
            i = j
        elif c == '"':
            interpolated = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            triple = src.startswith('"""', i)
            j = i + (3 if triple else 1)
            out.append(" " * (j - i))
            while j < n:
                if triple and src.startswith('"""', j):
                    while src.startswith('""""', j):  # """" ends on the last quote
                        out.append(" ")
                        j += 1
                    out.append("   ")
                    j += 3
                    break
                if not triple and src[j] == "\\":
                    out.append(blank(src[j:j + 2]))
                    j += 2
                    continue
                if not triple and src[j] == '"':
                    out.append(" ")
                    j += 1
                    break
                if interpolated and src[j] == "$" and j + 1 < n:
                    if src[j + 1] == "{":
                        k = interp_end(j + 1)
                        out.append(" " + strip(src[j + 1:k]))
                        j = k
                        continue
                    m = IDENT.match(src, j + 1)
                    if m:
                        out.append(" " + m.group(0))
                        j = m.end()
                        continue
                out.append("\n" if src[j] == "\n" else " ")
                j += 1
            i = j
        elif c == "'" and (m := CHAR_LIT.match(src, i)):
            out.append(" " * len(m.group(0)))
            i = m.end()
        else:
            out.append(c)
            i += 1
    return "".join(out)


class Node:
    def __init__(self, key, file, line, kind, public, override):
        self.key, self.file, self.line = key, file, line
        self.kind, self.public, self.override = kind, public, override
        self.spans = []  # (start, end) offsets into the stripped file text
        self.owner = None  # the top-level object of a member


def parse(path):
    """Definition nodes of one file: top-level objects (their own code only),
    their members, and top-level classes/traits (whole bodies)."""
    text = strip(open(path, encoding="utf-8").read())
    starts = []  # (offset, brace depth, definition keyword, name, modifiers)
    braces = parens = 0
    for m in re.finditer(r"[{}()\[\]]|[A-Za-z_][A-Za-z0-9_]*", text):
        tok = m.group(0)
        if tok == "{":
            braces += 1
        elif tok == "}":
            braces -= 1
        elif tok in "([":
            parens += 1
        elif tok in ")]":
            parens -= 1
        elif tok in DEF_KW and braces <= 1 and parens == 0:
            i = m.start()
            if i and (text[i - 1].isalnum() or text[i - 1] in "_."):
                continue
            name = DEF_NAME.match(text, m.end())
            if name:
                line_start = text.rfind("\n", 0, i) + 1
                starts.append((i, braces, tok, name.group(1), text[line_start:i]))
    line = lambda off: text.count("\n", 0, off) + 1
    tops = [s for s in starts if s[1] == 0 and s[2] in ("object", "class", "trait")]
    nodes = []
    for k, (i, _, kw, name, _) in enumerate(tops):
        end = tops[k + 1][0] if k + 1 < len(tops) else len(text)
        top = Node(name, path, line(i), kw, True, False)
        top.spans.append((i, end))
        nodes.append(top)
        if kw != "object":
            continue  # a class or trait is reached as a whole
        inner = [s for s in starts if i < s[0] < end and s[1] == 1]
        for j, (a, _, mkw, mname, mods) in enumerate(inner):
            b = inner[j + 1][0] if j + 1 < len(inner) else end
            public = not re.search(r"\b(private|protected)\b", mods) or \
                re.search(r"private\[\w+\]", mods) is not None
            mem = Node(f"{name}.{mname}", path, line(a), mkw, public,
                       re.search(r"\boverride\b", mods) is not None)
            mem.spans.append((a, b))
            mem.owner = top
            nodes.append(mem)
    return text, nodes


def identifiers(text, spans):
    out = set()
    for a, b in spans:
        out.update(IDENT.findall(text[a:b]))
    return out


def own_spans(obj, members):
    a, b = obj.spans[0]
    holes = sorted(s for m in members for s in m.spans)
    spans, cur = [], a
    for s, e in holes:
        if s > cur:
            spans.append((cur, s))
        cur = max(cur, e)
    if cur < b:
        spans.append((cur, b))
    return spans


def audit():
    texts, nodes = {}, []
    for f in scala_files(MAIN):
        text, ns = parse(f)
        texts[f] = text
        nodes.extend(ns)
    members = {}
    for nd in nodes:
        if nd.owner:
            members.setdefault(nd.owner.key, []).append(nd)
    by_name = {}
    for nd in nodes:
        by_name.setdefault(nd.key.split(".")[-1], []).append(nd)

    def body(nd):
        if nd.owner is None and nd.kind == "object":
            return identifiers(texts[nd.file], own_spans(nd, members.get(nd.key, [])))
        return identifiers(texts[nd.file], nd.spans)

    def closure(seed_nodes, seed_names):
        reached, todo = set(), []

        def reach(names):
            for name in names:
                for nd in by_name.get(name, []):
                    if id(nd) not in reached:
                        reached.add(id(nd))
                        todo.append(nd)
                        if nd.owner is None and nd.kind == "object":
                            for m in members.get(nd.key, []):
                                if m.key.split(".")[-1] in ("apply", "unapply"):
                                    reached.add(id(m))
                                    todo.append(m)

        for nd in seed_nodes:
            reached.add(id(nd))
            todo.append(nd)
        reach(seed_names)
        while todo:
            nd = todo.pop()
            reach(body(nd))
            if nd.owner and id(nd.owner) not in reached:
                reached.add(id(nd.owner))
                todo.append(nd.owner)
        return reached

    def names_in(base):
        out = set()
        for f in scala_files(base):
            out.update(IDENT.findall(strip(open(f, encoding="utf-8").read())))
        return out

    mains = [nd for nd in nodes if nd.owner and nd.kind == "def" and nd.key.endswith(".main")]
    reached = closure(mains, names_in(BENCH))
    spec_reached = closure([], names_in(TEST))
    hits = {}
    for nd in nodes:
        if id(nd) in reached or not nd.public or nd.override or nd.kind == "type":
            continue
        if nd.owner is None and nd.kind == "object" and members.get(nd.key):
            continue  # an object with members is judged by its members
        kind = "spec-only" if id(nd) in spec_reached else "uncalled"
        rel = os.path.relpath(nd.file, ROOT)
        hits.setdefault(nd.key, (kind, f"{rel}:{nd.line}"))
    return hits


def read_rulings():
    rulings, bad = {}, []
    if not os.path.exists(RULINGS):
        return rulings, bad
    for no, line in enumerate(open(RULINGS, encoding="utf-8"), 1):
        line = line.rstrip("\n")
        if not line.strip() or line.startswith("#"):
            continue
        parts = line.split("\t")
        if len(parts) < 3 or not parts[2].strip():
            bad.append(f"reach_rulings.tsv:{no}: want <name>\\t<ruling>\\t<why>")
            continue
        name, ruling = parts[0].strip(), parts[1].strip()
        if ruling not in RULING_KINDS and not re.fullmatch(r"roadmap-[A-Z]", ruling):
            bad.append(f"reach_rulings.tsv:{no}: unknown ruling '{ruling}' for {name}")
        rulings[name] = ruling
    return rulings, bad


def main():
    hits = audit()
    rulings, bad = read_rulings()
    unruled = sorted(k for k in hits if k not in rulings)
    stale = sorted(k for k in rulings if k not in hits)
    if "--list" in sys.argv:
        for k in sorted(hits):
            kind, where = hits[k]
            print(f"{k}\t{kind}\t{rulings.get(k, 'UNRULED')}\t{where}")
    for k in unruled:
        kind, where = hits[k]
        print(f"unruled {kind} definition: {k} ({where})")
    for k in stale:
        print(f"stale ruling: {k} is reached from a main or perfbench, or gone")
    for b in bad:
        print(b)
    counts = {}
    for k in hits:
        if k in rulings:
            key = "roadmap" if rulings[k].startswith("roadmap-") else rulings[k]
            counts[key] = counts.get(key, 0) + 1
    summary = ", ".join(f"{v} {k}" for k, v in sorted(counts.items()))
    print(f"reach audit: {len(hits)} hits ({summary or 'none ruled'}); "
          f"{len(unruled)} unruled, {len(stale)} stale")
    return 1 if unruled or stale or bad else 0


if __name__ == "__main__":
    sys.exit(main())
