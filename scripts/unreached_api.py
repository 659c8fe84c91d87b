#!/usr/bin/env python3
"""List the public members of src/main/scala that nothing in src/main/scala
reaches: members whose name occurs exactly once (at its own definition)
across every source file, after comments and string literals are stripped.

A member is a `def`, `val`, `var`, `object`, `class`, `trait` or `type`
declared at the top level of a file or directly inside an object, class or
trait body (local definitions inside method bodies are not members). It is
public unless it carries `private` or `protected` (qualified or not).
`override` members are skipped (they are reached through their parent
type), and so are `main` entry points and the objects that hold them.
Interpolated strings keep their `$name` / `${expr}` code parts, and a fully
qualified `graft.…` name inside a string literal (a class loaded by name,
such as a session extension) counts as a reference to its last segment.

Names are matched as whole identifiers, so a member that shares its name
with any other identifier in src/main counts as reached: the list errs
towards missing candidates, never towards listing a reached member.

Each line reports where the remaining references are, so the reader can
tell reference twins (called from tests) from dead code:

    <file>:<line> <Owner>.<name> (<kind>) tests=<n> perfbench=<n>

Usage: python3 scripts/unreached_api.py [repo_root]
"""
import os
import re
import sys
from collections import Counter

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CHAR = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")
QUALIFIED = re.compile(r"\bgraft(?:\.[A-Za-z_][A-Za-z0-9_]*)+")
DEF_KINDS = {"def", "val", "var", "object", "class", "trait", "type"}
TEMPLATE_KINDS = {"object", "class", "trait"}


def strip(src):
    """Return (code, qualified): `src` with comments removed and string and
    char literals blanked (interpolated code parts kept), plus the fully
    qualified graft names found inside string literals."""
    out, qualified = [], []
    i, n = 0, len(src)

    def literal(text):
        qualified.extend(m.group(0) for m in QUALIFIED.finditer(text))

    def interpolated_body(j, end_quote):
        # scan an interpolated string body from j; keep $name and ${...}
        start = j
        while j < n and not src.startswith(end_quote, j):
            if src[j] == "\\" and end_quote == '"':
                j += 2
            elif src.startswith("$$", j):
                j += 2
            elif src[j] == "$" and j + 1 < n and src[j + 1] == "{":
                depth, k = 1, j + 2
                while k < n and depth:
                    depth += {"{": 1, "}": -1}.get(src[k], 0)
                    k += 1
                code, q = strip(src[j + 2:k - 1])
                out.append(" " + code + " ")
                qualified.extend(q)
                j = k
            elif src[j] == "$":
                m = IDENT.match(src, j + 1)
                if m:
                    out.append(" " + m.group(0) + " ")
                    j = m.end()
                else:
                    j += 1
            else:
                j += 1
        literal(src[start:j])
        out.append("\n" * src.count("\n", start, j))
        return j + len(end_quote)

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(" " + "\n" * src.count("\n", i, j))
            i = j
        elif c == '"':
            # an identifier glued to the quote makes it interpolated; drop
            # the interpolator (s, f, raw) from the code
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            while interp and out and (out[-1].isalnum() or out[-1] == "_"):
                out.pop()
            quote = '"""' if src.startswith('"""', i) else '"'
            out.append(' "" ')
            j = i + len(quote)
            if interp:
                i = interpolated_body(j, quote)
            else:
                start = j
                if quote == '"""':
                    j = src.find('"""', j)
                    j = n if j < 0 else j
                    while src.startswith('""""', j):
                        j += 1
                else:
                    while j < n and src[j] != '"' and src[j] != "\n":
                        j += 2 if src[j] == "\\" else 1
                literal(src[start:j])
                out.append("\n" * src.count("\n", start, j))
                i = j + len(quote)
        elif c == "'" and (m := CHAR.match(src, i)):
            out.append(" ")
            i = m.end()
        else:
            out.append(c)
            i += 1
    return "".join(out), qualified


TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|[{}()\[\]=]|\S")


def members(code):
    """Yield (line, owner, name, kind, modifiers) for every member declared
    at file level or directly in a template body."""
    line_of = []
    ln = 1
    for ch in code:
        line_of.append(ln)
        ln += ch == "\n"
    toks = [(m.group(0), line_of[m.start()]) for m in TOKEN.finditer(code)]
    # stack entries: (kind, owner name); kind is "template" or "block"
    stack, parens = [("template", "")], 0
    pending = None  # owner name of a template header awaiting its "{"
    owners_with_main = set()
    found = []
    for idx, (t, ln) in enumerate(toks):
        if t in "([":
            parens += 1
        elif t in ")]":
            parens -= 1
        elif t == "{":
            if pending is not None and parens == 0:
                stack.append(("template", pending))
            else:
                stack.append(("block", None))
            pending = None
        elif t == "}":
            if len(stack) > 1:
                stack.pop()
        elif t == "=" and parens == 0:
            pending = None
        elif t in DEF_KINDS and parens == 0:
            prev = toks[idx - 1][0] if idx else ""
            if prev == ".":
                continue
            nxt = toks[idx + 1][0] if idx + 1 < len(toks) else ""
            if t in TEMPLATE_KINDS:
                pending = nxt
            else:
                pending = None
            if stack[-1][0] != "template" or not IDENT.fullmatch(nxt):
                continue
            mods, k = set(), idx - 1
            while k >= 0:
                w = toks[k][0]
                if w == "]":  # qualifier of private[x] / protected[x]
                    while k >= 0 and toks[k][0] != "[":
                        k -= 1
                    k -= 1
                    continue
                if w in {"private", "protected", "override", "final", "case",
                         "sealed", "abstract", "implicit", "lazy", "inline"}:
                    mods.add(w)
                    k -= 1
                    continue
                break
            owner = stack[-1][1]
            if t == "def" and nxt == "main":
                owners_with_main.add(owner)
            found.append((ln, owner, nxt, t, mods))
    return found, owners_with_main


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def scan(root):
    """Identifier counts over every file under `root` (qualified names in
    string literals count for their last segment), and each file's
    stripped code."""
    counts, codes = Counter(), []
    for path in scala_files(root):
        with open(path, encoding="utf-8") as fh:
            code, qualified = strip(fh.read())
        counts.update(IDENT.findall(code))
        counts.update(q.rsplit(".", 1)[-1] for q in qualified)
        codes.append((path, code))
    return counts, codes


def main(repo):
    counts, codes = scan(os.path.join(repo, "src/main/scala"))
    tests, _ = scan(os.path.join(repo, "src/test/scala"))
    bench, _ = scan(os.path.join(repo, "perfbench/src"))
    for path, code in codes:
        found, with_main = members(code)
        for ln, owner, name, kind, mods in found:
            if mods & {"private", "protected", "override"} or name == "main":
                continue
            if kind == "object" and name in with_main or counts[name] != 1:
                continue
            label = f"{owner}.{name}" if owner else name
            print(f"{os.path.relpath(path, repo)}:{ln} {label} ({kind}) "
                  f"tests={tests[name]} perfbench={bench[name]}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
