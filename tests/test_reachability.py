"""Reachability lock: every top-level definition in the package is used
by a product surface.

A Spark-free AST scan. A package top-level name (function, class or
assigned name) counts as used when some ``Name``, ``Attribute`` or
``from … import`` in the package, ``scripts/``, ``perfbench/``,
``tools/``, ``bench.py``, ``bench_extra.py`` or ``__spark_entry__.py``
names it outside the definition's own line span. ``tests/`` and
``__init__`` re-exports do not count: a definition only tests reach is a
test oracle and belongs under ``tests/`` (``lsh_reference.py``,
``lexicon_reference.py``). Matching is by bare name across all files, so
a shared name can hide a dead definition but never flags a live one.

Run it before committing: ``python -m pytest tests/test_reachability.py``.
A new ``ALLOWED`` entry names a product surface with one reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "multi_task_offensive_language_detection_spark"
SURFACES = ("scripts", "perfbench", "tools", "bench.py", "bench_extra.py", "__spark_entry__.py")

_EVAL = "the paper's OLID task A/B/C evaluation"
_STREAM = "streaming entry point"

#: (module path relative to the package, name) -> why it stays unreferenced
ALLOWED: dict[tuple[str, str], str] = {
    **{
        ("sources/olid.py", n): _EVAL
        for n in ("read_olid_train", "read_olid_test", "read_gold_labels", "read_solid_distant")
    },
    **{("plans/evaluate.py", n): _EVAL for n in ("evaluate_predictions", "emit_submission")},
    **{
        ("plans/distant.py", n): _EVAL + " (SOLID distant labels)"
        for n in ("mint_distant_labels", "union_training_sets", "hash_mod_split")
    },
    ("streaming/jobs.py", "stream_filter_clips"): _STREAM,
    ("streaming/jobs.py", "run_stream_to_snapshots"): _STREAM,
    ("streaming/jobs.py", "stream_dedup"): _STREAM,
    ("streaming/jobs.py", "with_watermark_tumbling"): _STREAM,
    ("plans/pipeline.py", "audit_audio"): "audio decode audit; its corrupt-codec path is a "
    "planned failure-mode test",
    ("operators/dedup.py", "minhash_lsh_bucket_stats"): "LSH bucket-cap report until an "
    "observed metric in the pairs query replaces it",
    ("checks.py", "DRIVER_WINDOW"): "the driver's correctness window size, read by "
    "tests/test_rotation.py",
}


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _is_check(node: ast.AST) -> bool:
    """True for a function registered as a driver key with ``@check(...)``."""
    for d in getattr(node, "decorator_list", ()):
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "check":
            return True
    return False


def _definitions(tree: ast.Module):
    """(name, first line, last line) of each top-level definition, minus
    ``@check`` driver keys and dunders such as ``__version__``."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_check(node):
                yield node.name, node.lineno, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield n.id, node.lineno, node.end_lineno


def _uses(tree: ast.Module):
    """(name, line) of every Name, Attribute and from-import in a module."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno
        elif isinstance(n, ast.ImportFrom):
            for a in n.names:
                yield a.name, n.lineno


def unreached(allowed=ALLOWED) -> list[str]:
    """``module:name`` of every package top-level definition no product
    surface uses, minus ``allowed``."""
    files = _py_files(PACKAGE) + [p for s in SURFACES for p in _py_files(ROOT / s)]
    trees = {p: ast.parse(p.read_text(), str(p)) for p in files}
    uses: dict[str, list[tuple[Path, int]]] = {}
    for p, tree in trees.items():
        if p.name == "__init__.py" and p.is_relative_to(PACKAGE):
            continue
        for name, line in _uses(tree):
            uses.setdefault(name, []).append((p, line))
    dead = []
    for p in _py_files(PACKAGE):
        rel = p.relative_to(PACKAGE).as_posix()
        for name, lo, hi in _definitions(trees[p]):
            if (rel, name) in allowed:
                continue
            if not any(q != p or not lo <= line <= hi for q, line in uses.get(name, ())):
                dead.append(f"{rel}:{name}")
    return dead


def test_every_package_definition_is_reached():
    dead = unreached()
    assert not dead, (
        "package definitions no product surface uses (delete them, move a "
        "test-only oracle under tests/, or allowlist a product surface with "
        "a reason):\n  " + "\n  ".join(dead)
    )


def test_allowlist_entries_are_needed():
    """Every entry names a definition the scan would otherwise flag: an
    entry for a deleted or since-reached name goes, so a dead definition
    re-added under it cannot slip through."""
    flagged = set(unreached(allowed={}))
    stale = sorted(f"{m}:{n}" for m, n in ALLOWED if f"{m}:{n}" not in flagged)
    assert not stale, stale
