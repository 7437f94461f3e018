#!/usr/bin/env python3
"""List src/main defs, classes and objects whose name occurs nowhere else.

A name counts as reached when it occurs in src/main or perfbench/src more
often than it is defined. Comments and string literals are stripped first;
the code inside string interpolations ($name, ${...}) is kept. Mains
(objects with `def main`), overrides and the names Scala calls implicitly
(main, apply, unapply, update) are roots and never listed.

Usage: python3 tools/unreached_defs.py [repo_root]   # prints path:line kind name
"""
import os, re, sys
from collections import Counter

DEF = re.compile(r"\b(override\s+)?(?:(?:private|protected)(?:\[\w+\])?\s+)?"
                 r"(?:final\s+|implicit\s+|lazy\s+|case\s+)*(def|class|object)\s+([A-Za-z_]\w*)")
IDENT = re.compile(r"[A-Za-z_]\w*")
IMPLICIT = {"main", "apply", "unapply", "update"}


def strip(src):
    """Blank comments and literals, keeping newlines and interpolated code."""
    out, i, n = [], 0, len(src)
    while i < n:
        c, two = src[i], src[i:i + 2]
        if two == "//":
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif two == "/*":
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i): depth, i = depth + 1, i + 2
                elif src.startswith("*/", i): depth, i = depth - 1, i + 2
                else: out.append("\n" if src[i] == "\n" else ""); i += 1
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            quote = '"""' if src.startswith('"""', i) else '"'
            i += len(quote)
            while i < n and not src.startswith(quote, i):
                if src[i] == "\\" and quote == '"': i += 2; continue
                if interp and src.startswith("${", i):
                    depth, j = 1, i + 2
                    while j < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[j], 0); j += 1
                    out.append(" " + src[i + 2:j - 1] + " "); i = j; continue
                m = IDENT.match(src, i + 1) if interp and src[i] == "$" else None
                if m: out.append(" " + m.group(0) + " "); i = m.end(); continue
                out.append("\n" if src[i] == "\n" else ""); i += 1
            i += len(quote)
        elif c == "'" and re.match(r"'(\\.[^']*|[^'\\])'", src[i:i + 8]):
            i = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1) + 1
        else:
            out.append(c); i += 1
    return "".join(out)


def main(root):
    texts = {}
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            for f in fs:
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    texts[os.path.relpath(p, root)] = strip(open(p).read())
    uses, defs, roots = Counter(), [], set()
    for path, text in texts.items():
        uses.update(IDENT.findall(text))
        if not path.startswith("src/main"): continue
        for m in DEF.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            defs.append((path, line, m.group(2), m.group(3), bool(m.group(1))))
        for m in re.finditer(r"\bobject\s+(\w+)[^{]*\{(?=(.*?)\bdef\s+main\b)", text, re.S):
            if "object " not in m.group(2): roots.add(m.group(1))
    defined = Counter(name for _, _, _, name, _ in defs)
    for path, line, kind, name, override in sorted(defs):
        if override or name in IMPLICIT or name in roots: continue
        if uses[name] <= defined[name]:
            print(f"{path}:{line} {kind} {name}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else ".")
