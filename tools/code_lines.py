#!/usr/bin/env python3
"""Net code-line change of the Scala sources between two commits.

    python3 tools/code_lines.py BASE [HEAD]

For every `.scala` file under `src/main` and `src/test` that exists at
BASE or HEAD, counts the lines holding code -- non-blank after `//` line
comments and `/* ... */` block comments (scaladoc included) are removed --
and prints the per-file change plus totals for `src/main`, `src/test` and
both. Deleting or adding only comments or blank lines changes nothing.
HEAD defaults to the `HEAD` commit; pass `WORKTREE` to count the files on
disk instead (uncommitted edits included). String and character literals
are lexed, so a `//` inside `"hdfs://..."` is code, not a comment.
"""
import subprocess
import sys
from pathlib import Path

ROOTS = ("src/main", "src/test")
ROOT = Path(__file__).resolve().parent.parent


def git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout


def files_at(rev: str) -> set:
    if rev == "WORKTREE":
        return {str(p.relative_to(ROOT)) for r in ROOTS
                for p in (ROOT / r).rglob("*.scala")}
    out = git("ls-tree", "-r", "--name-only", rev, "--", *ROOTS)
    return {f for f in out.splitlines() if f.endswith(".scala")}


def source_at(rev: str, path: str) -> str:
    if rev == "WORKTREE":
        p = ROOT / path
        return p.read_text(encoding="utf-8") if p.exists() else ""
    try:
        return git("show", f"{rev}:{path}")
    except subprocess.CalledProcessError:
        return ""


def code_lines(src: str) -> int:
    """Lines with at least one non-blank character outside comments.
    Scala block comments nest."""
    n, depth, i, line_has_code = 0, 0, 0, False
    while i < len(src):
        c, nxt = src[i], src[i + 1:i + 2]
        if c == "\n":
            n += line_has_code
            line_has_code = False
            i += 1
        elif depth:
            if c == "/" and nxt == "*":
                depth, i = depth + 1, i + 2
            elif c == "*" and nxt == "/":
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif c == "/" and nxt == "/":
            while i < len(src) and src[i] != "\n":
                i += 1
        elif c == "/" and nxt == "*":
            depth, i = 1, i + 2
        elif src.startswith('"""', i):
            line_has_code = True
            end = src.find('"""', i + 3)
            end = len(src) if end < 0 else end + 3
            while end < len(src) and src[end] == '"':  # """a"""" ends late
                end += 1
            n += src.count("\n", i, end)
            i = end
        elif c == '"':
            line_has_code = True
            i += 1
            while i < len(src) and src[i] not in '"\n':
                i += 2 if src[i] == "\\" else 1
            i += 1 if i < len(src) and src[i] == '"' else 0
        elif c == "'" and src[i + 2:i + 3] == "'" and nxt != "\\":
            line_has_code, i = True, i + 3  # 'x'
        elif c == "'" and nxt == "\\":
            line_has_code = True  # '\n', 'A'
            end = src.find("'", i + 3)
            i = len(src) if end < 0 else end + 1
        else:
            line_has_code = line_has_code or not c.isspace()
            i += 1
    return n + line_has_code


def is_commit(rev: str) -> bool:
    return rev == "WORKTREE" or subprocess.run(
        ["git", "rev-parse", "--verify", "--quiet", rev + "^{commit}"], cwd=ROOT,
        capture_output=True).returncode == 0


def main() -> int:
    revs = sys.argv[1:]
    if len(revs) not in (1, 2) or not all(is_commit(r) for r in revs):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    base = revs[0]
    head = revs[1] if len(revs) == 2 else "HEAD"
    totals = {r: [0, 0] for r in ROOTS}
    rows = []
    for path in sorted(files_at(base) | files_at(head)):
        b = code_lines(source_at(base, path))
        h = code_lines(source_at(head, path))
        totals[next(r for r in ROOTS if path.startswith(r + "/"))][0] += b
        totals[next(r for r in ROOTS if path.startswith(r + "/"))][1] += h
        if b != h:
            rows.append((path, b, h))
    width = max([len(p) for p, _, _ in rows] + [len("total")])
    print(f"{'file':<{width}} {'base':>7} {'head':>7} {'change':>7}")
    for path, b, h in rows:
        print(f"{path:<{width}} {b:>7} {h:>7} {h - b:>+7}")
    print()
    for r in ROOTS:
        b, h = totals[r]
        print(f"{r:<{width}} {b:>7} {h:>7} {h - b:>+7}")
    b = sum(t[0] for t in totals.values())
    h = sum(t[1] for t in totals.values())
    print(f"{'total':<{width}} {b:>7} {h:>7} {h - b:>+7}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
