"""One commit protocol for crawl round checkpoints and SnapshotTable
versions: a writer fills a private ``_staging-<pid>-<ns>`` dir, data
and meta file both, and its rename onto the destination is the commit.
An existing destination is renamed aside first, removed after. The
next publish sweeps dead writers' debris, renaming an aside dir back
if its destination is missing (the writer died between the renames).
Versions add a compare-and-swap ``_latest`` pointer under an ``flock``
of the table dir, which the kernel drops when its holder dies.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
from contextlib import contextmanager
from typing import Callable

STAGING, ASIDE = "_staging-", "_aside-"


def write_json(path: str, obj: dict) -> None:
    """Replace `path` atomically: a temp file, then os.replace."""
    with open(f"{path}.tmp", "w") as f:
        json.dump(obj, f)
    os.replace(f"{path}.tmp", path)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # exists, owned by another user
    return True


def sweep(parent: str) -> None:
    """Remove dead writers' staging and aside dirs under `parent`, but
    rename an aside dir back when its destination is missing."""
    for name in os.listdir(parent) if os.path.isdir(parent) else []:
        if not name.startswith((STAGING, ASIDE)):
            continue
        _, pid, _, *dest = name.split("-", 3)
        if _alive(int(pid)):
            continue
        path = os.path.join(parent, name)
        if dest and not os.path.exists(os.path.join(parent, dest[0])):
            os.rename(path, os.path.join(parent, dest[0]))
        else:
            shutil.rmtree(path, ignore_errors=True)


@contextmanager
def staged(parent: str):
    """A fresh staging path under `parent`, removed on exit unless it
    was published."""
    os.makedirs(parent, exist_ok=True)
    path = f"{parent}/{STAGING}{os.getpid()}-{time.monotonic_ns()}"
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def publish(staging: str, dest: str) -> None:
    parent, name = os.path.split(dest)
    sweep(parent)
    aside = None
    if os.path.exists(dest):
        aside = f"{parent}/{ASIDE}{os.getpid()}-{time.monotonic_ns()}-{name}"
        os.rename(dest, aside)
    os.rename(staging, dest)
    if aside is not None:
        shutil.rmtree(aside)


def commit_dir(dest: str, write: Callable[[str], dict]) -> None:
    """`write(staging)` fills the staging dir and returns the meta
    record, stored as ``<staging>/meta.json``; then publish as `dest`."""
    with staged(os.path.dirname(dest)) as s:
        write_json(f"{s}/meta.json", write(s))
        publish(s, dest)


def latest_version(table: str) -> int:
    try:
        with open(os.path.join(table, "_latest")) as f:
            return json.load(f)["version"]
    except FileNotFoundError:
        return 0  # empty table


def commit_version(
    table: str,
    write: Callable[[str], None],
    base_version: int | None,
    commit_ts: float | None = None,
) -> int | None:
    """Stage `write`'s data outside the lock; inside it, publish
    ``v=latest+1`` with ``_commit_meta.json`` and swap ``_latest`` —
    or return None if the table moved past a given `base_version`. An
    existing ``v=latest+1`` is a dead writer's orphan: it is replaced."""
    with staged(table) as s:
        write(s)
        fd = os.open(table, os.O_RDONLY)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            v = latest_version(table) + 1
            if base_version is not None and v != base_version + 1:
                return None
            ts = time.time() if commit_ts is None else commit_ts
            write_json(f"{s}/_commit_meta.json", {"version": v, "ts": ts})
            publish(s, os.path.join(table, f"v={v}"))
            write_json(f"{table}/_latest", {"version": v})
            return v
        finally:
            os.close(fd)
