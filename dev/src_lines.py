#!/usr/bin/env python3
"""Line counts of the library sources (`src/main`).

Usage:
  python3 dev/src_lines.py [ROOT]            # per file and overall
  python3 dev/src_lines.py OLD_ROOT NEW_ROOT # per-file and overall deltas

ROOT is a checkout (default: the current directory). For each Scala/Java
file under ROOT/src/main it prints two counts: `total` (every line) and
`code` (lines left non-blank once `//` and `/* ... */` comments, scaladoc
included, are removed; comment markers inside string literals are not
comments). With two roots it prints only the files whose counts differ,
then both totals and their difference, which is the number ROADMAP aim 2
tracks. Make the old checkout with `git archive <commit> | tar -x -C DIR`.
"""
import os
import sys

try:  # die quietly under `| head`
    import signal
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
except (AttributeError, ValueError):
    pass

EXTS = (".scala", ".java")


def code_lines(text):
    """Count lines holding code once comments are removed."""
    n = 0
    in_block = False
    in_str = None  # '"', '"""' or "'" while inside a literal
    for line in text.splitlines():
        code = []
        i = 0
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    i = len(line)
                else:
                    in_block = False
                    i = end + 2
                continue
            if in_str:
                if line.startswith(in_str, i):
                    code.append(in_str)
                    i += len(in_str)
                    in_str = None
                elif line[i] == "\\" and in_str != '"""':
                    code.append(line[i:i + 2])
                    i += 2
                else:
                    code.append(line[i])
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                in_block = True
                i += 2
                continue
            for q in ('"""', '"', "'"):
                if line.startswith(q, i):
                    # a char literal is 'x' or '\x'; a lone ' is a symbol
                    if q == "'" and not (line[i + 2:i + 3] == "'" or
                                         line[i + 1:i + 2] == "\\"):
                        continue
                    in_str = q
                    code.append(q)
                    i += len(q)
                    break
            else:
                code.append(line[i])
                i += 1
        if in_str != '"""':
            in_str = None  # only a triple-quoted string spans lines
        if "".join(code).strip():
            n += 1
    return n


def counts(root):
    """{relative path: (total, code)} for every source file under src/main."""
    out = {}
    base = os.path.join(root, "src", "main")
    for d, _, files in os.walk(base):
        for f in files:
            if f.endswith(EXTS):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    text = fh.read()
                out[os.path.relpath(p, base)] = (len(text.splitlines()),
                                                 code_lines(text))
    return out


def total(c):
    return (sum(t for t, _ in c.values()), sum(k for _, k in c.values()))


def main(argv):
    if len(argv) > 2 or any(a.startswith("-") for a in argv):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    if len(argv) <= 1:
        c = counts(argv[0] if argv else ".")
        print(f"{'total':>7} {'code':>7}  file")
        for f in sorted(c):
            print(f"{c[f][0]:7d} {c[f][1]:7d}  {f}")
        t, k = total(c)
        print(f"{t:7d} {k:7d}  src/main ({len(c)} files)")
        return 0
    old, new = counts(argv[0]), counts(argv[1])
    print(f"{'total':>15} {'code':>15}  file (old -> new)")
    for f in sorted(set(old) | set(new)):
        a, b = old.get(f, (0, 0)), new.get(f, (0, 0))
        if a != b:
            print(f"{a[0]:6d}->{b[0]:<6d}  {a[1]:6d}->{b[1]:<6d}  {f}")
    (ta, ka), (tb, kb) = total(old), total(new)
    print(f"src/main total: {ta} -> {tb} ({tb - ta:+d}); "
          f"code: {ka} -> {kb} ({kb - ka:+d})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
