"""The build-once protocol every derived temp-dir fixture uses
(``sources/io.py:build_once``). Pure filesystem: no Spark session."""

from __future__ import annotations

import ast
import os
import time

import pytest

from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
    build_once,
    wipe_dir,
)

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "hadoop_based_distributed_batch_processing_system_spark",
)


def _racer(args):
    """Module-level worker (picklable for spawn): one build_once call
    whose build is slow enough that the other callers queue on the
    lock. Returns whether the stamp existed when the call returned."""
    root, counter = args

    def build():
        with open(counter, "a") as fh:
            fh.write(f"{os.getpid()}\n")
        time.sleep(0.5)
        with open(os.path.join(root, "data"), "w") as fh:
            fh.write("payload")

    build_once(root, "_BUILT", "spec-1", build)
    return open(os.path.join(root, "_BUILT")).read() == "spec-1"


def test_concurrent_processes_build_exactly_once(tmp_path):
    import multiprocessing as mp

    root, counter = str(tmp_path / "root"), str(tmp_path / "builds")
    with mp.get_context("spawn").Pool(4) as pool:
        stamped = pool.map_async(_racer, [(root, counter)] * 4).get(timeout=120)
    assert stamped == [True] * 4
    assert len(open(counter).read().split()) == 1
    assert open(os.path.join(root, "data")).read() == "payload"


def test_stale_stamp_wipes_all_but_lock_and_rebuilds(tmp_path):
    root = str(tmp_path / "root")
    os.makedirs(os.path.join(root, "sub"))
    for name in ("_BUILT", "old_file", "sub/old_part"):
        with open(os.path.join(root, name), "w") as fh:
            fh.write("spec-0" if name == "_BUILT" else "stale")
    open(os.path.join(root, ".lock"), "w").close()
    seen = []

    def build():
        wipe_dir(root)
        seen.append(sorted(os.listdir(root)))
        with open(os.path.join(root, "new_file"), "w") as fh:
            fh.write("fresh")

    build_once(root, "_BUILT", "spec-1", build)
    assert seen == [[".lock"]]
    assert sorted(os.listdir(root)) == [".lock", "_BUILT", "new_file"]
    assert open(os.path.join(root, "_BUILT")).read() == "spec-1"


def test_failed_build_leaves_no_stamp_and_reruns(tmp_path):
    import fcntl

    root = str(tmp_path / "root")
    calls = []

    def failing():
        calls.append("fail")
        raise RuntimeError("build crashed")

    with pytest.raises(RuntimeError, match="build crashed"):
        build_once(root, "_BUILT", "spec-1", failing)
    assert not os.path.exists(os.path.join(root, "_BUILT"))
    # the lock is free again: a non-blocking exclusive flock succeeds
    with open(os.path.join(root, ".lock"), "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
        fcntl.flock(fh, fcntl.LOCK_UN)
    build_once(root, "_BUILT", "spec-1", lambda: calls.append("ok"))
    assert calls == ["fail", "ok"]
    assert open(os.path.join(root, "_BUILT")).read() == "spec-1"


def test_valid_stamp_with_unready_artifacts_rebuilds(tmp_path):
    root = str(tmp_path / "root")
    artifact = os.path.join(root, "artifact")
    calls = []

    def build():
        calls.append(1)
        open(artifact, "w").close()

    def ready():
        return os.path.exists(artifact)

    build_once(root, "_BUILT", "spec-1", build, ready=ready)
    build_once(root, "_BUILT", "spec-1", build, ready=ready)
    assert calls == [1]  # stamp + artifact: fast path
    os.unlink(artifact)
    build_once(root, "_BUILT", "spec-1", build, ready=ready)
    assert calls == [1, 1]


def test_nested_build_on_the_same_root_reenters_the_lock(tmp_path):
    """A derived fixture that rebuilds its base under its own lock
    must not deadlock on the base build's lock (same root)."""
    root = str(tmp_path / "root")
    order = []

    def base():
        order.append("base")

    def derived():
        order.append("derived-start")
        build_once(root, "_BASE", "b1", base)
        order.append("derived-end")

    build_once(root, "_DERIVED", "d1", derived)
    assert order == ["derived-start", "base", "derived-end"]
    assert open(os.path.join(root, "_BASE")).read() == "b1"
    assert open(os.path.join(root, "_DERIVED")).read() == "d1"


def test_only_sources_io_imports_fcntl():
    """The lock protocol lives in one place: any other module taking
    its own flock is a hand-copied builder."""
    offenders = []
    for dirpath, _, files in os.walk(PACKAGE):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            for node in ast.walk(ast.parse(open(path).read())):
                names = []
                if isinstance(node, ast.Import):
                    names = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    names = [node.module or ""]
                if "fcntl" in names:
                    offenders.append(os.path.relpath(path, PACKAGE))
    assert sorted(set(offenders)) == [os.path.join("sources", "io.py")]
