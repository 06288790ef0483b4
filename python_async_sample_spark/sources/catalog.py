"""Atomic multi-table catalog: ONE commit flips N table pointers.

A versioned table (``sources/versioned.py``) gives atomic visibility for
one table; the reference's transactional header+detail sink (S9 — the ROT
pipeline writes a header row and its detail rows in one DB transaction,
nikon_ETL.py) needs atomicity ACROSS tables: a reader must never see the
new header with the old detail.  The catalog is the missing coordination
point, built from the same load-bearing primitive:

* a catalog snapshot is a JSON manifest pinning ``{table: (root, version)}``;
* ``catalog_commit`` publishes the next snapshot through the manifest
  log (``manifest_log.publish_exclusive``) — create-exclusive and
  all-or-nothing, so two racing committers cannot both win and no reader
  observes a torn pin set;
* the writer protocol is stage-then-flip: commit each table FIRST (each
  gets its own new version — orphan versions are invisible through the
  catalog until pinned), then one ``catalog_commit`` flips every pointer
  atomically.  A crash between table commits and the catalog commit
  leaves the catalog serving the old consistent pair; re-running the
  writer is safe (the orphan table versions are simply superseded).

Reads resolve through the pin set (``catalog_read``), so catalog time
travel reproduces the exact multi-table state of any earlier commit —
the whole-database generalization of a single table's time travel.

Retention interaction: ``versioned.vacuum`` on a member table must keep
every version some retained catalog manifest still pins (use
:func:`pinned_versions` to compute the keep-set before choosing
``keep_last``); a vacuumed-but-pinned version degrades loudly — the
catalog read raises the table's "may have been vacuumed" error, it never
serves a torn or partial state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from python_async_sample_spark.sources import manifest_log as mlog
from python_async_sample_spark.sources.manifest_log import _require_local_path
from python_async_sample_spark.sources.versioned import (
    current_version,
    read_version,
    table_versions,
)

_CAT_DIR = "_catalog"


def _log(root: str) -> str:
    return f"{root.rstrip('/')}/{_CAT_DIR}"


def catalog_versions(root: str) -> list[int]:
    return mlog.versions(_log(root))


def catalog_current(root: str) -> int:
    versions = catalog_versions(root)
    if not versions:
        raise FileNotFoundError(f"no catalog manifest under {root!r}")
    return versions[-1]


def _read_cat(root: str, version: int) -> dict:
    return mlog.read(
        _log(root), version, f"catalog version {version} of {root!r} does not exist"
    )


def _link_cat(root: str, manifest: dict, version: int) -> int:
    return mlog.publish_exclusive(
        _log(root), version, manifest,
        f"catalog version {version} of {root!r} was committed by another "
        "writer — rebase on the new current pins and retry",
    )


def catalog_create(root: str, tables: dict[str, str]) -> int:
    """Catalog v0 pinning each named table at its CURRENT version."""
    root = root.rstrip("/")
    _require_local_path(root, "catalog_create")
    if catalog_versions(root):
        raise FileExistsError(f"catalog already exists at {root!r}")
    pins = {
        name: {"root": t_root.rstrip("/"), "version": current_version(t_root)}
        for name, t_root in tables.items()
    }
    return _link_cat(root, {"version": 0, "parent": None, "pins": pins}, 0)


def catalog_commit(root: str, updates: dict[str, int]) -> int:
    """Atomically advance the named tables' pins to the given versions
    (unnamed tables keep their pins).  Each target version must already be
    a committed version of its table — the writer commits tables first,
    then flips the catalog; this function is the flip."""
    root = root.rstrip("/")
    parent = catalog_current(root)
    manifest = _read_cat(root, parent)
    pins = {k: dict(v) for k, v in manifest["pins"].items()}
    for name, version in updates.items():
        if name not in pins:
            raise KeyError(f"table {name!r} is not in the catalog")
        # refuse to pin a version the table does not currently have — a
        # dangling pin (never committed, OR already vacuumed, OR negative)
        # would make every catalog_read of this snapshot fail forever
        committed = table_versions(pins[name]["root"])
        if version not in committed:
            head = committed[-1] if committed else None
            raise ValueError(
                f"cannot pin {name!r} at v{version}: table versions are "
                f"{committed} (head v{head}) — never committed or vacuumed"
            )
        pins[name]["version"] = version
    return _link_cat(
        root,
        {"version": parent + 1, "parent": parent, "pins": pins},
        parent + 1,
    )


def pinned_versions(root: str, name: str) -> set[int]:
    """Every version of the named table still pinned by ANY retained
    catalog manifest — the keep-set a coordinated ``versioned.vacuum``
    must honor (see the module docstring's retention note)."""
    root = root.rstrip("/")
    out: set[int] = set()
    for v in catalog_versions(root):
        pins = _read_cat(root, v)["pins"]
        if name in pins:
            out.add(pins[name]["version"])
    return out


def catalog_read(
    spark: SparkSession, root: str, name: str, catalog_version: int | None = None
) -> DataFrame:
    """The named table AS OF the catalog snapshot — multi-table time
    travel: all reads through one catalog version see one consistent
    cross-table state, whatever any table's head has moved to since."""
    root = root.rstrip("/")
    manifest = _read_cat(
        root, catalog_current(root) if catalog_version is None else catalog_version
    )
    if name not in manifest["pins"]:
        raise KeyError(f"table {name!r} is not in the catalog")
    pin = manifest["pins"][name]
    return read_version(spark, pin["root"], pin["version"])
