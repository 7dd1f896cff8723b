"""Fault injection for the commit protocol (operators/commit.py).

A writer in a Spark-free child process is killed with os._exit at each
filesystem step of a commit: its data-file writes, the meta write, and
every os.rename / os.replace / shutil.rmtree. After each kill the
parent must read exactly the old or exactly the new state, and the
next commit must succeed and leave no debris.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

from news_combinator_spark.operators import commit

REPO = Path(__file__).resolve().parents[1]

# argv: mode (dir | version), root, kill step (1-based), tag
_CHILD = r"""
import os, shutil, sys
from news_combinator_spark.operators import commit

mode, root, kill_at, tag = sys.argv[1:]
kill_at = int(kill_at)
n = [0]

def step(fn):
    def wrapped(*a, **k):
        n[0] += 1
        if n[0] == kill_at:
            os._exit(17)
        return fn(*a, **k)
    return wrapped

os.rename, os.replace, shutil.rmtree = (
    step(os.rename), step(os.replace), step(shutil.rmtree))
commit.write_json = step(commit.write_json)

@step
def put(path):
    with open(path, "w") as f:
        f.write(tag)

def write(d):
    os.makedirs(d)
    put(os.path.join(d, "part-0"))
    put(os.path.join(d, "part-1"))
    return {"tag": tag}

if mode == "dir":
    commit.commit_dir(os.path.join(root, "round=1"), write)
else:
    commit.commit_version(root, write, commit.latest_version(root))
"""


def _files(d: str) -> dict:
    return {
        p: Path(d, p).read_text() for p in ("part-0", "part-1")
        if Path(d, p).exists()
    }


def _write(tag):
    def write(d):
        os.makedirs(d)
        for p in ("part-0", "part-1"):
            Path(d, p).write_text(tag)
        return {"tag": tag}
    return write


def _dir_state(root: str) -> str | None:
    """The committed round=1 as a reader sees it: None if absent, else
    the tag its data and meta both carry."""
    commit.sweep(root)  # what load_checkpoint does first
    d = os.path.join(root, "round=1")
    if not os.path.exists(d):
        return None
    with open(os.path.join(d, "meta.json")) as f:
        tag = json.load(f)["tag"]
    assert _files(d) == {"part-0": tag, "part-1": tag}
    return tag


def _version_state(root: str) -> str | None:
    v = commit.latest_version(root)
    if v == 0:
        return None
    d = os.path.join(root, f"v={v}")
    with open(os.path.join(d, "_commit_meta.json")) as f:
        assert json.load(f)["version"] == v
    tag = _files(d)["part-0"]
    assert _files(d) == {"part-0": tag, "part-1": tag}
    return tag


def _debris(root: str) -> list[str]:
    return [
        f for f in os.listdir(root)
        if f.startswith((commit.STAGING, commit.ASIDE)) or f == "_latest.tmp"
    ]


@pytest.mark.parametrize("mode", ["dir", "version"])
@pytest.mark.parametrize("prior", [True, False])
def test_every_kill_point_leaves_old_or_new_state(tmp_path, mode, prior):
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    state = _dir_state if mode == "dir" else _version_state
    killed = 0
    for k in range(1, 50):
        root = str(tmp_path / f"k{k}")
        os.makedirs(root)
        if prior and mode == "dir":
            commit.commit_dir(f"{root}/round=1", _write("old"))
        elif prior:
            commit.commit_version(root, _write("old"), 0)
        old = state(root)
        proc = subprocess.run(
            [sys.executable, "-c", _CHILD, mode, root, str(k), "new"],
            env=env, capture_output=True, text=True, timeout=60,
        )
        assert proc.returncode in (0, 17), proc.stderr
        got = state(root)
        assert got in (old, "new"), (k, got)
        if proc.returncode == 0:  # k is past the last step
            assert got == "new"
            break
        killed += 1
        # the next commit succeeds on whatever the crash left behind
        if mode == "dir":
            commit.commit_dir(f"{root}/round=1", _write("next"))
            assert _dir_state(root) == "next"
        else:
            base = commit.latest_version(root)
            v = commit.commit_version(root, _write("next"), base)
            assert v == base + 1
            assert _files(f"{root}/v={base + 1}")["part-0"] == "next"
        assert _debris(root) == [], (k, _debris(root))
    # data writes, meta write, publish rename(s), rmtree(s), and for
    # versions the pointer replace: every one was a kill point
    assert killed >= (5 if mode == "dir" else 6) + prior


def test_sweep_keeps_live_writers_debris(tmp_path):
    """A staging dir of a running process (here: this one) is in use
    and survives a sweep; a dead writer's is removed, and a dead
    writer's aside dir whose destination is missing is renamed back."""
    dead = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True,
    ).stdout.strip()
    live = f"{commit.STAGING}{os.getpid()}-1"
    for d in (live, f"{commit.STAGING}{dead}-2",
              f"{commit.ASIDE}{dead}-3-round=4"):
        os.makedirs(tmp_path / d)
    commit.sweep(str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == sorted([live, "round=4"])


def test_concurrent_version_commits_stay_linear(tmp_path):
    """More writer threads than cores, each retrying its compare-and-
    swap commit: every commit lands as its own version, the pointer
    counts them all, and no staging debris remains."""
    root = str(tmp_path)
    n_threads, per = 2 * (os.cpu_count() or 2), 5
    errs: list = []

    def writer(i):
        try:
            for j in range(per):
                while commit.commit_version(
                    root, _write(f"{i}.{j}"), commit.latest_version(root)
                ) is None:
                    pass
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(i,), daemon=True)
                   for i in range(n_threads)]
        for t in threads:
            t.start()
        deadline = time.monotonic() + 120
        for t in threads:
            t.join(timeout=max(0.0, deadline - time.monotonic()))
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errs
    total = n_threads * per
    assert commit.latest_version(root) == total
    tags = {_files(f"{root}/v={v}")["part-0"] for v in range(1, total + 1)}
    assert tags == {f"{i}.{j}" for i in range(n_threads) for j in range(per)}
    assert _debris(root) == []
