#!/usr/bin/env python
"""End-of-round hygiene gate (VERDICT r7 ask #2).

Round 7 ended red because a source file written after the last
manifest regeneration was never committed by the builder — the
driver's snapshot commit swept it in, wired to nothing, and the
freshness test failed at HEAD for a whole round. This gate makes that
class of miss mechanical to catch.

Usage — the genuinely-last acts of a round, in order:

    git commit ...                 # all code committed first
    python tools/preflight.py      # regenerates manifest + checks
    git add SWEEP_FRESHNESS.json && git commit -m "refresh manifest"

Round-9 note: the manifest is now content-hash based (judge ask #1),
so regenerating it inside the same commit as code changes is VALID —
test_freshness_manifest_is_current compares git-blob hashes of the
tree, not timestamps against commit times. The trailing manifest-only
commit is no longer load-bearing; regenerate any time after the last
edit and commit in whichever order.

Checks:

1. SWEEP_FRESHNESS.json regenerated in place for the exact tree.
2. Every engine/test/tool source file is tracked by git — an
   untracked .py is exactly the round-7 failure shape.
3. Every module under sfdata_wrangler_spark/ is imported by another
   engine module, a test, or an entry point (__spark_entry__.py,
   bench.py) — dead modules are unverifiable code.
4. The structural suite that pins 1-3 passes (test_sweep_order.py is
   cheap; the full suite is the /verify recipe's job, not this gate's).
5. The working tree is clean apart from the files this gate itself
   produces (SWEEP_FRESHNESS.json) and driver-owned telemetry
   (PROGRESS.jsonl) — anything else left dirty would be swept blind
   into the driver's snapshot commit.

Exit 1 on any failure.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# dirtiness the gate expects: its own output, and driver telemetry
ALLOWED_DIRTY = {"SWEEP_FRESHNESS.json", "PROGRESS.jsonl"}


def _run(cmd: list[str]) -> str:
    return subprocess.check_output(cmd, cwd=ROOT, text=True)


def regenerate_manifest() -> list[str]:
    try:
        _run([sys.executable, "tools/update_sweep_freshness.py"])
        return []
    except subprocess.CalledProcessError as e:
        return [f"manifest regeneration failed: {e}"]


def check_untracked() -> list[str]:
    # -uall: without it porcelain collapses a wholly-untracked
    # directory to one '?? dir/' entry and a new module inside it —
    # the exact round-7 failure shape — would pass silently.
    # ADVICE r8 #4: flag ALL untracked files under the source/test
    # trees, not just .py — a committed test can depend on an
    # untracked fixture (.json/.sql/.parquet/.csv) and still be
    # 'wired to nothing at HEAD' when the driver snapshots.
    out = _run(["git", "status", "--porcelain", "-uall"])
    untracked = []
    for ln in out.splitlines():
        if not ln.startswith("?? "):
            continue
        p = ln[3:]
        in_source_tree = "/" in p and p.split("/")[0] in (
            "sfdata_wrangler_spark",
            "tests",
            "tools",
            "examples",
        )
        root_level_py = "/" not in p and p.endswith(".py")
        if (in_source_tree or root_level_py) and not p.endswith(
            (".pyc", ".log", ".tmp")
        ):
            untracked.append(p)
    return [f"untracked source/fixture file: {p}" for p in untracked]


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")]
    parts = rel.split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _imported_modules(path: str) -> set[str]:
    """Absolute dotted names of everything ``path`` imports — actual
    import statements only, so a docstring mentioning a module never
    marks it reachable. ``from pkg import name`` yields both ``pkg``
    and ``pkg.name`` (name may be a submodule)."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    pkg = _module_name(path).split(".")
    if not path.endswith("__init__.py"):
        pkg = pkg[:-1]
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = pkg[: len(pkg) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def check_module_reachability() -> list[str]:
    """Every module under sfdata_wrangler_spark/ must be imported by
    another engine module, a test, or an entry point (the driver's
    ``__spark_entry__.py``, the ``bench.py`` CLI) — privacy.py failed
    exactly this in round 7, and an orphan module such as an unused
    schema catalog is unverifiable code."""
    pkg_dir = os.path.join(ROOT, "sfdata_wrangler_spark")
    sources = [
        os.path.join(ROOT, f) for f in ("__spark_entry__.py", "bench.py")
    ]
    for base in (pkg_dir, os.path.join(ROOT, "tests")):
        for dirpath, _dirs, files in os.walk(base):
            sources += [
                os.path.join(dirpath, f) for f in files if f.endswith(".py")
            ]
    imported: set[str] = set()
    for src in sources:
        imported |= _imported_modules(src)
    problems = []
    for src in sorted(sources):
        if not src.startswith(pkg_dir + os.sep) or src.endswith(
            "__init__.py"
        ):
            continue
        if _module_name(src) not in imported:
            problems.append(
                f"{os.path.relpath(src, ROOT)} is imported by nothing"
                " (dead module)"
            )
    return problems


def check_structural_tests() -> list[str]:
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/test_sweep_order.py", "-q"],
        cwd=ROOT,
        capture_output=True,
        text=True,
    )
    if r.returncode != 0:
        return ["tests/test_sweep_order.py FAILED:\n" + r.stdout[-2000:]]
    return []


def check_clean_tree() -> list[str]:
    out = _run(["git", "status", "--porcelain"])
    dirty = [
        ln
        for ln in out.splitlines()
        if ln.strip()
        and not ln.startswith("?? ")
        and ln[3:] not in ALLOWED_DIRTY
    ]
    return [f"working tree not clean: {ln}" for ln in dirty]


def main() -> int:
    problems: list[str] = []
    problems += regenerate_manifest()
    problems += check_untracked()
    problems += check_module_reachability()
    problems += check_structural_tests()
    problems += check_clean_tree()
    for p in problems:
        print(f"PREFLIGHT FAIL: {p}")
    if not problems:
        print(
            "preflight OK — now: "
            "git add SWEEP_FRESHNESS.json && git commit"
        )
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
