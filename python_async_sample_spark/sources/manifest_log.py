"""The manifest log: a directory of numbered JSON documents
(``v0000000.json``, ``v0000001.json``, ...) — the commit seam shared by
versioned tables (``<root>/_manifests``) and the multi-table catalog
(``<root>/_catalog``).

Every document is written in full to a temp file and fsynced before it
becomes visible under its final name, so no reader can open a torn one:

* :func:`publish_exclusive` makes the next version visible with
  ``os.link`` — create-exclusive AND all-or-nothing, so of two writers
  racing for one version exactly one wins and the other gets
  :class:`ConcurrentWriteError` (it must rebase and retry);
* :func:`replace` atomically swaps an existing version's content with
  ``os.replace`` (history rewrites: purge).

Temp files end in ``.tmp`` and never match the ``v*.json`` listing.  All
mutations of a log go through these functions, so moving the log onto
another filesystem is a change to this module alone.
"""

from __future__ import annotations

import glob
import json
import os
import tempfile


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first — rebase and retry."""


def _require_local_path(path: str, verb: str) -> None:
    """File discovery, staging and the commit ride the LOCAL filesystem
    (glob/os/shutil) — on an object-store URI the glob would match nothing
    and the operation would silently "succeed" over zero files, the worst
    failure mode a data-mutation verb can have. Refuse loudly; this module
    is the porting seam when a remote-FS variant is needed."""
    if "://" in path:
        raise ValueError(
            f"{verb} operates on local paths only; got {path!r} "
            f"(a silent no-op over an object store would fake a completed {verb})"
        )


def doc_path(log_dir: str, version: int) -> str:
    return f"{log_dir}/v{version:07d}.json"


def versions(log_dir: str) -> list[int]:
    """Every published version, ascending (temp files never match)."""
    return sorted(
        int(os.path.basename(p)[1:-5]) for p in glob.glob(f"{log_dir}/v*.json")
    )


def read(log_dir: str, version: int, missing: str) -> dict:
    """The document at ``version``; ``missing`` opens the
    FileNotFoundError raised when it does not exist."""
    try:
        with open(doc_path(log_dir, version), encoding="ascii") as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{missing} (committed: {versions(log_dir)})"
        ) from None


def _write_temp(log_dir: str, doc: dict) -> str:
    os.makedirs(log_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=log_dir, suffix=".tmp")
    with os.fdopen(fd, "w", encoding="ascii") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    return tmp


def publish_exclusive(log_dir: str, version: int, doc: dict, conflict: str) -> int:
    """Publish ``doc`` as ``version`` unless that version already exists;
    if it does, raise :class:`ConcurrentWriteError` with ``conflict``."""
    tmp = _write_temp(log_dir, doc)
    try:
        os.link(tmp, doc_path(log_dir, version))
    except FileExistsError as ex:
        raise ConcurrentWriteError(conflict) from ex
    finally:
        os.unlink(tmp)
    return version


def replace(log_dir: str, version: int, doc: dict) -> None:
    """Atomically swap the content of an existing ``version``."""
    os.replace(_write_temp(log_dir, doc), doc_path(log_dir, version))
