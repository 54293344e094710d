#!/usr/bin/env python3
"""Census of the one-value parameters of the Scala sources under src/main.

A defaulted parameter is one declared `name: Type = value` in a `def`
or a class constructor. It is "set" when some call passes a value for
it: by position (an unnamed argument in its place) or by name
(`name = ...`). Calls are found by the method's or class's
simple name in src/main, src/test and perfbench/src; `new C(...)`,
`C(...)`, `C.apply(...)` and `x.copy(name = ...)` count for classes.
A call `Owner.name(...)` counts only for the `name` of the object or
class `Owner` when one defines it, and an unqualified `name(...)` only
for a `name` in the same file when there is one; every other call
counts for each `name` in src/main, so the lists err towards keeping.

Two more lists name the parameters with one value in use:
- required parameters that every call passes the same literal;
- defaulted parameters whose calls, between the values they pass and
  the default the others leave in place, use one literal.
A literal is a string, number, character, `true` or `false`. A
parameter is never listed when some call passes it a non-literal, when
the method is reached as a function value (`Owner.name` or `name _`
with no argument list), when a call leaves it out without a default
(another overload or a partial application), when the method is an
`override` or one of several overloads in its object, or when it is a
vararg or a `copy`-set class field.

Usage: python3 tools/main_knobs.py [repo root]     (defaults to .)
Prints the number of defaulted parameters in src/main, then one
"<file>:<line> <method or class>.<param> = <default>" row for each that
no call sets, then one "<file>:<line> <method or class>.<param> <- <literal>"
row for each parameter of the two one-value lists.
"""
import os
import re
import sys

CALLER_DIRS = ("src/main", "src/test", "perfbench/src")
IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
OPEN = {"(": ")", "[": "]", "{": "}"}


def mask(text):
    """Blank comments and string/char literal contents, keeping offsets."""
    out = list(text)
    i, n, block = 0, len(text), 0
    while i < n:
        two = text[i:i + 2]
        if block:
            if two == "/*":
                block += 1
                out[i] = out[i + 1] = " "
                i += 2
            elif two == "*/":
                block -= 1
                out[i] = out[i + 1] = " "
                i += 2
            else:
                if text[i] != "\n":
                    out[i] = " "
                i += 1
        elif two == "//":
            while i < n and text[i] != "\n":
                out[i] = " "
                i += 1
        elif two == "/*":
            block = 1
            out[i] = out[i + 1] = " "
            i += 2
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j
            for k in range(i + 3, j):
                if text[k] != "\n":
                    out[k] = "_"
            i = j + 3
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            for k in range(i + 1, min(j, n)):
                out[k] = "_"
            i = j + 1
        elif text[i] == "'" and text[i + 2:i + 3] == "'":
            out[i + 1] = "_"
            i += 3
        elif text[i] == "'" and text[i + 1:i + 2] == "\\":
            j = text.find("'", i + 3)
            j = n - 1 if j < 0 else j
            for k in range(i + 1, j):
                out[k] = "_"
            i = j + 1
        else:
            i += 1
    return "".join(out)


def close_of(code, i):
    """Index just past the bracket group that opens at code[i]."""
    stack = [OPEN[code[i]]]
    j = i + 1
    while j < len(code) and stack:
        c = code[j]
        if c in OPEN:
            stack.append(OPEN[c])
        elif c == stack[-1]:
            stack.pop()
        j += 1
    return j


def split_top(code, start, end):
    """Top-level comma-separated (start, end) spans of code[start:end]."""
    spans, depth, s = [], 0, start
    for j in range(start, end):
        c = code[j]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            spans.append((s, j))
            s = j + 1
    if code[s:end].strip():
        spans.append((s, end))
    return spans


def default_at(code, s, e):
    """Offset of a parameter's default `=` at depth 0, or -1."""
    depth = 0
    for j in range(s, e):
        c = code[j]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            prev, nxt = code[j - 1], code[j + 1:j + 2]
            if nxt not in (">", "=") and prev not in "=!<>:":
                return j
    return -1


def skip_ws(code, j):
    while j < len(code) and code[j] in " \t\r\n":
        j += 1
    return j


def param_groups(code, j):
    """(start, end) of each `(...)` parameter list from code[j] on."""
    groups = []
    j = skip_ws(code, j)
    if j < len(code) and code[j] == "[":
        j = skip_ws(code, close_of(code, j))
    while j < len(code) and code[j] == "(":
        e = close_of(code, j)
        groups.append((j + 1, e - 1))
        j = skip_ws(code, e)
    return groups


DEF_RE = re.compile(r"\bdef\s+(" + IDENT + r")")
CLASS_RE = re.compile(r"\bclass\s+(" + IDENT + r")")
OWNER_RE = re.compile(r"\b(?:object|class|trait)\s+(" + IDENT + r")")


def owner_spans(code):
    """(name, body start, body end) of each object, class and trait."""
    spans = []
    for m in OWNER_RE.finditer(code):
        j = m.end()
        while j < len(code):
            c = code[j]
            if c in "([":
                j = close_of(code, j)
            elif c == "{":
                spans.append((m.group(1), j, close_of(code, j)))
                break
            elif c == ";" or (c == "\n" and not code[j:].lstrip().startswith(("extends", "with", "{"))):
                break
            else:
                j += 1
    return spans


def owner_at(spans, i):
    inner = [s for s in spans if s[1] < i < s[2]]
    return min(inner, key=lambda s: s[2] - s[1])[0] if inner else None


def definitions(text, code):
    """Yield (name, kind, owner, override, params) for every def and
    class, with params = [(group index, param index, param, line,
    default or None, vararg)]."""
    spans = owner_spans(code)
    for kind, rx in (("def", DEF_RE), ("class", CLASS_RE)):
        for m in rx.finditer(code):
            name = m.group(1)
            j = m.end()
            if kind == "class":  # skip modifiers such as `private`
                mm = re.compile(r"\s*(?:\[[^\]]*\])?\s*(?:private(?:\[\w+\])?|protected)?\s*").match(code, j)
                j = mm.end() if mm else j
            owner = owner_at(spans, m.start()) if kind == "def" else name
            if kind == "def" and name == "apply":
                name = owner or name
            modifiers = code[max(0, m.start() - 40):m.start()]
            override = kind == "def" and re.search(r"\boverride\s+(?:\w+\s+)*$", modifiers) is not None
            params = []
            for g, (s, e) in enumerate(param_groups(code, j)):
                for p, (ps, pe) in enumerate(split_top(code, s, e)):
                    d = default_at(code, ps, pe)
                    head = code[ps:d if d >= 0 else pe]
                    pname = re.search(IDENT + r"(?=\s*:)", head)
                    pname = pname.group(0) if pname else head.strip()
                    line = code.count("\n", 0, ps + len(code[ps:pe]) - len(code[ps:pe].lstrip())) + 1
                    default = " ".join(text[d + 1:pe].split()) if d >= 0 else None
                    params.append((g, p, pname, line, default, head.rstrip().endswith("*")))
            yield name, kind, owner, override, params


def calls(text, code, name):
    """Yield, per call of `name`, its qualifier (the identifier before
    `.name`, or None) and a list of argument groups, each a pair
    (positional {index: argument}, named {param: argument}); a use of
    `name` as a function value yields groups None."""
    rx = re.compile(r"(?<![\w$])" + re.escape(name) + r"(?![\w$])")
    for m in rx.finditer(code):
        before = code[max(0, m.start() - 12):m.start()]
        if re.search(r"\b(def|class|object|trait|type|val|var|import)\s+$", before):
            continue
        q = re.search(r"(" + IDENT + r")\s*\.\s*$", code[max(0, m.start() - 80):m.start()])
        qual = q.group(1) if q else None
        j = skip_ws(code, m.end())
        if code.startswith(".apply", j):
            j = skip_ws(code, j + 6)
        if j < len(code) and code[j] == "[":
            j = close_of(code, j)
        groups = []
        while j < len(code) and code[j] == "(":
            e = close_of(code, j)
            named, pos = {}, {}
            for k, (s, ae) in enumerate(split_top(code, j + 1, e - 1)):
                nm = re.match(r"\s*(" + IDENT + r")\s*=(?![=>])", code[s:ae])
                if nm:
                    named[nm.group(1)] = text[s + nm.end():ae].strip()
                else:
                    pos[k] = text[s:ae].strip()
            groups.append((pos, named))
            j = e
            k = j
            while k < len(code) and code[k] in " \t":
                k += 1
            if k < len(code) and code[k] == "{":
                groups.append(({0: "{...}"}, {}))
                break
        if groups:
            yield qual, groups
        elif code[j:j + 1] in (")", ",", "_", "}") or (qual and code[j:j + 1] in ("\n", "")):
            yield qual, None


LITERAL_RE = re.compile(r'-?(?:\d[\d_]*(?:\.\d+)?(?:[eE][-+]?\d+)?[LlFfDd]?)'
                        r'|"(?:[^"\\\n]|\\.)*"|\'(?:[^\'\\]|\\.[^\']*)\'|true|false')


def is_literal(arg):
    return LITERAL_RE.fullmatch(arg) is not None


def copy_names(code):
    names = set()
    for m in re.finditer(r"\.copy\s*\(", code):
        e = close_of(code, m.end() - 1)
        for s, ae in split_top(code, m.end(), e - 1):
            nm = re.match(r"\s*(" + IDENT + r")\s*=(?![=>])", code[s:ae])
            if nm:
                names.add(nm.group(1))
    return names


def scala_files(root, sub):
    for dirpath, _, files in sorted(os.walk(os.path.join(root, sub))):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(dirpath, f)


def census(root):
    """(defaulted count, never-set rows, one-literal required rows,
    one-value defaulted rows) for the sources under `root`."""
    sources = {}
    for sub in CALLER_DIRS:
        for p in scala_files(root, sub):
            with open(p, encoding="utf-8") as fh:
                text = fh.read()
            sources[p] = (text, mask(text))
    main_dir = os.path.join(root, "src/main") + os.sep
    owners_of = {}
    files_of = {}
    overloads = {}
    defs = []
    for p, (text, code) in sources.items():
        if p.startswith(main_dir):
            for name, kind, owner, override, params in definitions(text, code):
                owners_of.setdefault(name, set()).add(owner)
                files_of.setdefault(name, set()).add(p)
                overloads[(p, owner, name)] = overloads.get((p, owner, name), 0) + 1
                defs += [(p, name, kind, owner, override) + d for d in params]
    copied = set().union(*(copy_names(code) for _, code in sources.values()))
    call_cache = {}

    def call_list(name):
        """(file, qualifier, groups) of every call of `name`."""
        if name not in call_cache:
            call_cache[name] = [(p, q, c) for p, (text, code) in sources.items()
                                for q, c in calls(text, code, name)]
        return call_cache[name]

    def reaches(p, owner, name, cp, qual):
        """Whether a call of `name` in file `cp` reaches `owner`'s."""
        if qual in owners_of[name]:
            return qual == owner
        if qual is None and cp in files_of[name]:
            return cp == p
        return True

    def values_in_use(p, name, owner, g, i, pname, default):
        """(arguments passed, whether some call leaves the default) over
        every call that reaches the parameter, or None when unsure."""
        passed, left = [], False
        for cp, qual, groups in call_list(name):
            if not reaches(p, owner, name, cp, qual):
                continue
            if groups is None or len(groups) <= g:
                return None
            pos, named = groups[g]
            arg = pos.get(i, named.get(pname))
            if arg is not None:
                passed.append(arg)
            elif default is None:
                return None
            else:
                left = True
        return passed, left

    never, required, defaulted = [], [], []
    for p, name, kind, owner, override, g, i, pname, line, default, vararg in defs:
        where = f"{os.path.relpath(p, root)}:{line} {name}.{pname}"
        if kind == "class" and pname in copied:
            continue
        if default is not None and not any(
                reaches(p, owner, name, cp, qual) and groups and len(groups) > g
                and (i in groups[g][0] or pname in groups[g][1])
                for cp, qual, groups in call_list(name)):
            never.append(f"{where} = {default}")
            continue
        if override or vararg or overloads[(p, owner, name)] > 1:
            continue
        use = values_in_use(p, name, owner, g, i, pname, default)
        if not use or not use[0]:
            continue
        passed, left = use
        values = set(passed) | ({default} if left else set())
        if len(values) == 1 and all(is_literal(v) for v in values):
            value = values.pop()
            if default is None:
                required.append(f"{where} <- {value} ({len(passed)} calls)")
            else:
                defaulted.append(f"{where} = {default} <- {value} ({len(passed)} setting calls)")
    n_defaulted = sum(1 for d in defs if d[9] is not None)
    return n_defaulted, never, required, defaulted


def main(argv):
    root = argv[0] if argv else "."
    n_defaulted, never, required, defaulted = census(root)
    print(f"defaulted parameters in src/main: {n_defaulted}")
    print(f"never set by a call in {', '.join(CALLER_DIRS)}: {len(never)}")
    for row in never:
        print(row)
    print(f"required, every call passes one literal: {len(required)}")
    for row in required:
        print(row)
    print(f"defaulted, one value in use: {len(defaulted)}")
    for row in defaulted:
        print(row)


if __name__ == "__main__":
    main(sys.argv[1:])
