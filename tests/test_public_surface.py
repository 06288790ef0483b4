"""Every public top-level definition of the package has a caller outside the
tests, or a stated reason to exist without one.

The scan parses each module of ``python_async_sample_spark/`` (``plans/``
excepted: a query is reached through the registry, not by name) and lists
its public top-level functions, classes and constants.  A definition is
live when its name is loaded, imported or read as an attribute anywhere in
the package, ``scripts/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py`` — outside its own definition.  Names are matched
without their module, so two definitions that share a name keep each other
alive; the scan errs towards calling a definition live.

A definition that only tests reach must be in ``TEST_ONLY`` with the reason
it stays: the COVERAGE.md row that names it as a component's only
implementation, or the test that uses it as a reference.  The list cannot
go stale: a listed name that is no longer defined, or that gains a caller
outside the tests, fails the test until the entry is removed.
"""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "python_async_sample_spark"
CALLER_DIRS = (PACKAGE, "scripts", "perfbench")
CALLER_FILES = ("bench.py", "__spark_entry__.py")

# "<module path under the package>.<name>" -> why it stays without a caller
TEST_ONLY = {
    # the only implementation of a component a COVERAGE.md row names
    "sources.readers.read_binary_dir": "COVERAGE raw-media binaryFile source",
    "sources.jdbc.read_jdbc_interval": "COVERAGE JDBC connectors: partition-parallel interval read",
    "sources.jdbc.DIALECT_TS_LITERALS": "COVERAGE JDBC connectors: dialect-pluggable timestamp literals",
    "sources.jdbc.write_jdbc_append": "COVERAGE S8 multi-row insert sink",
    "sources.jdbc.overwrite_window_jdbc": "COVERAGE JDBC connectors: atomic overwrite-window",
    "streaming.jobs.stream_events_to_jdbc_exactly_once": "COVERAGE exactly-once streaming -> JDBC sink",
    "sources.schema.discover_tables": "COVERAGE J4 catalog-existence semi-join",
    "sources.schema.table_exists": "COVERAGE S4 catalog table-exists gate",
    "sources.schema.table_columns": "COVERAGE S5 catalog column discovery",
    "sources.wide.collate_by_char_positions": "COVERAGE O4 custom column-name collation",
    "sources.catalog.pinned_versions": "COVERAGE atomic multi-table commit (catalog): vacuum's keep-set",
    "sources.versioned.read_as_of": "COVERAGE AS OF TIMESTAMP travel",
    "sources.versioned.verify_table": "COVERAGE table fsck (verify_table)",
    "sources.versioned.read_keyed_range": "COVERAGE manifest-stats read pruning",
    "kernels.rot.rebuild_grid": "COVERAGE J10 cross join (grid reconstruction)",
    "operators.cdc.apply_diff": "COVERAGE snapshot change capture (CDC diff + apply)",
    "operators.pca.project": "COVERAGE distributed PCA",
    "operators.multimodal.resize_images": "COVERAGE image resize",
    "operators.validate.observed": "COVERAGE in-flight quality metrics",
    "operators.bpe.segment_with_merges": "COVERAGE BPE encode; test_bpe replays q179's merges with it",
    # a reference a test checks a live kernel against
    "operators.packing.next_fit_pack": "the best-fit packing property test compares against it",
    "operators.similarity.cosine_pairs": "the blocked-GEMM kernel is checked against its answer",
}


def _py_files(top: str) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith((".", "__pycache__")))
        out.extend(os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py"))
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _referenced_names(node: ast.AST) -> set[str]:
    names = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
        elif isinstance(sub, ast.ImportFrom):
            names.update(a.name for a in sub.names)
    return names


def _scan() -> dict[str, set[tuple[str, int]]]:
    """Map each in-scope public definition ("<module>.<name>") to the
    top-level statements, as (file, index), that reference its name —
    its own statement excluded."""
    definitions: dict[str, tuple[str, str, int]] = {}
    sites: dict[str, set[tuple[str, int]]] = {}
    files = [p for d in CALLER_DIRS for p in _py_files(os.path.join(ROOT, d))]
    files += [os.path.join(ROOT, f) for f in CALLER_FILES]
    pkg_root = os.path.join(ROOT, PACKAGE)
    for path in files:
        rel = os.path.relpath(path, pkg_root)
        in_scope = not rel.startswith(("..", "plans" + os.sep))
        module = rel[: -len(".py")].replace(os.sep, ".").removesuffix(".__init__")
        for i, stmt in enumerate(_parse(path).body):
            if in_scope:
                for name in _defined_names(stmt):
                    if not name.startswith("_"):
                        definitions[f"{module}.{name}"] = (name, path, i)
            for name in _referenced_names(stmt):
                sites.setdefault(name, set()).add((path, i))
    return {
        qual: sites.get(name, set()) - {(path, i)}
        for qual, (name, path, i) in definitions.items()
    }


@pytest.fixture(scope="module")
def surface():
    return _scan()


def test_every_public_definition_has_a_non_test_caller(surface):
    dead = sorted(q for q, sites in surface.items() if not sites and q not in TEST_ONLY)
    assert not dead, (
        "public definitions that only tests reach (delete them, or list "
        f"them in TEST_ONLY with the reason they stay): {dead}"
    )


def test_test_only_allowlist_is_current(surface):
    missing = sorted(q for q in TEST_ONLY if q not in surface)
    assert not missing, f"TEST_ONLY names no longer defined: {missing}"
    called = sorted(q for q in TEST_ONLY if surface[q])
    assert not called, f"TEST_ONLY names that now have a non-test caller: {called}"
