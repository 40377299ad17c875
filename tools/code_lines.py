#!/usr/bin/env python3
"""Count the code lines of Scala sources: lines that are neither blank nor
comment-only.

    python3 tools/code_lines.py [--rev REV] [--conf-keys] [FILE ...]
    python3 tools/code_lines.py --diff REV

With no FILE, counts every `*.scala` under `src/main`. Without `--rev` it
reads the working tree; with `--rev REV` it reads the files as committed at
git revision REV (a file absent there counts 0). Prints one line per file,
`<code lines>  <path>`, then `<total>  total`. Run it from the repo root.

With `--diff REV` it compares git revision REV with the working tree: one
line per Scala file that differs (untracked files included),
`<before> -> <after>  <delta>  <path>`, then the same line for the total of
`src/main`, then the conf-key count on both sides (`--conf-keys` below).

With `--conf-keys` it lists the graft session-conf keys instead: every
`"spark.graft.*"` / `"spark.sql.graft.*"` string literal in the same files,
one line per key, `<key>  <path:line> ...`, then `<count>  conf keys`.

A line counts when any character of it lies outside a comment. `//` and
`/* ... */` comments (Scaladoc included, nested blocks too) are skipped;
string literals, triple-quoted ones included, are code, so a `//` or `/*`
inside a string does not open a comment.
"""
import argparse
import os
import re
import subprocess
import sys


def code_lines(text):
    """Number of lines of `text` that carry at least one code character."""
    count = 0
    depth = 0  # block-comment nesting
    string = None  # the open string's quote: '"' or '"""'
    for line in text.splitlines():
        code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif string:
                code = True
                if string == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(string, i):
                    i += len(string)
                    string = None
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line[i].isspace():
                i += 1
            else:
                code = True
                if line.startswith('"""', i):
                    string = '"""'
                    i += 3
                elif line[i] == '"':
                    string = '"'
                    i += 1
                elif line[i] == "'" and line[i + 1:i + 2] == "\\":
                    i = line.find("'", i + 3) + 1 or len(line)
                elif line[i] == "'" and line[i + 2:i + 3] == "'":
                    i += 3  # a char literal such as '"' or '/'
                else:
                    i += 1
        if string == '"':
            string = None  # a single-quoted string never spans lines
        count += code
    return count


CONF_KEY = re.compile(r'"(spark\.(?:sql\.)?graft\.[A-Za-z0-9_.]+)"')


def conf_keys(sources):
    """{key: [path:line, ...]} for each graft conf-key literal in `sources`,
    an iterable of (path, text)."""
    keys = {}
    for path, text in sources:
        for n, line in enumerate(text.splitlines(), 1):
            for key in CONF_KEY.findall(line):
                keys.setdefault(key, []).append(f"{path}:{n}")
    return keys


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def scala_files(rev):
    """The Scala files under src/main at `rev` (None: the working tree)."""
    if rev:
        files = git("ls-tree", "-r", "--name-only", rev, "--", "src/main").split()
    else:
        files = [os.path.join(d, f) for d, _, fs in os.walk("src/main") for f in fs]
    return sorted(f for f in files if f.endswith(".scala"))


def source(rev, path):
    """`path` as committed at `rev` (None: the working tree); "" if absent."""
    if rev:
        shown = subprocess.run(["git", "show", f"{rev}:{path}"],
                               capture_output=True, text=True)
        return shown.stdout if shown.returncode == 0 else ""
    if not os.path.exists(path):
        return ""
    with open(path, encoding="utf-8") as f:
        return f.read()


def diff(rev):
    """Print the code-line delta of each changed Scala file, the src/main
    net and the conf-key count, from `rev` to the working tree."""
    changed = set(git("diff", "--name-only", rev, "--").split())
    changed |= set(git("ls-files", "--others", "--exclude-standard").split())
    for path in sorted(p for p in changed if p.endswith(".scala")):
        a, b = code_lines(source(rev, path)), code_lines(source(None, path))
        print(f"{a:7d} -> {b:7d}  {b - a:+6d}  {path}")
    a = sum(code_lines(source(rev, p)) for p in scala_files(rev))
    b = sum(code_lines(source(None, p)) for p in scala_files(None))
    print(f"{a:7d} -> {b:7d}  {b - a:+6d}  src/main total")
    ka = len(conf_keys((p, source(rev, p)) for p in scala_files(rev)))
    kb = len(conf_keys((p, source(None, p)) for p in scala_files(None)))
    print(f"{ka:7d} -> {kb:7d}  {kb - ka:+6d}  conf keys")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rev", help="count the files as committed at this git revision")
    ap.add_argument("--diff", metavar="REV",
                    help="per-file and src/main deltas from REV to the working tree")
    ap.add_argument("--conf-keys", action="store_true",
                    help="list the spark.(sql.)graft.* keys the files name")
    ap.add_argument("files", nargs="*", help="Scala files (default: src/main)")
    args = ap.parse_args()
    if args.diff:
        return diff(args.diff)

    files = args.files or scala_files(args.rev)

    def read(path):
        return source(args.rev, path)

    if args.conf_keys:
        keys = conf_keys((path, read(path)) for path in files)
        for key in sorted(keys):
            print(f"{key}  {' '.join(keys[key])}")
        print(f"{len(keys):7d}  conf keys")
        return

    total = 0
    for path in files:
        n = code_lines(read(path))
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    sys.exit(main())
