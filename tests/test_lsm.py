"""Crash points of the LSM generation store (operators/lsm.py), on
plain files with no Spark session.

Each crash test kills a writer process (``os._exit``) at a named
point of the publish protocol, re-runs the same operation in this
process, and asserts the visible generations, the base and the
applied tags equal those of an uninterrupted run — and that no crash
litter survives the re-run."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from flink_precisely_demo_spark.operators import lsm

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(d: str, name: str) -> str | None:
    try:
        with open(os.path.join(d, name)) as f:
            return f.read()
    except FileNotFoundError:
        return None


def _writer(rows: str):
    def write(stage: str) -> None:
        os.makedirs(stage, exist_ok=True)
        with open(os.path.join(stage, "rows.txt"), "w") as f:
            f.write(rows)
    return write


def _fold(path: str):
    """Compaction body: base rows followed by every generation's."""
    def write(stage: str) -> None:
        rows = [_read(path, "rows.txt")] + [
            _read(d, "rows.txt") for _, d in lsm.generations(path)]
        _writer("".join(rows))(stage)
    return write


def _republish(stage: str) -> None:
    """A base whose stage is itself maintained (the plan fixtures'
    shape): the stage's own compaction leaves its applied manifest
    beside it, which must follow the stage into place."""
    lsm.publish_base(stage, _writer("fresh\n"))
    lsm.append_generation(stage, _writer("s0\n"), "s0")
    lsm.compact(stage, _fold(stage))


def _setup(path: str) -> None:
    lsm.publish_base(path, _writer("base\n"))
    lsm.append_generation(path, _writer("b0\n"), "b0")


def run_op(op: str, path: str) -> None:
    if op == "append":
        lsm.append_generation(path, _writer("b1\n"), "b1")
    elif op == "compact":
        lsm.compact(path, _fold(path))
    else:
        lsm.publish_base(path, _republish)


def _state(path: str):
    gens = [(seq, _read(d, "rows.txt"), _read(d, lsm.TAG))
            for seq, d in lsm.generations(path)]
    return (gens, _read(path, "rows.txt"), lsm.index_ok(path),
            sorted(lsm.applied_tags(path)))


def _litter(path: str) -> list[str]:
    parent, base = os.path.split(path)
    out = [n for n in os.listdir(parent)
           if n.startswith((base + ".build-", base + ".old-"))]
    deltas = os.path.join(path, "deltas")
    if os.path.isdir(deltas):
        out += [n for n in os.listdir(deltas) if n.startswith(".stage-")]
    return out


# the child dies at the named point by intercepting the marker write
# or the rename that follows it
_CHILD = """
import os, sys
sys.path.insert(0, {repo!r})
from flink_precisely_demo_spark.operators import lsm
from tests.test_lsm import run_op

point, op, path = sys.argv[1:]
real_mark, real_rename = lsm._mark, os.rename

def mark(stage, name, text="ok"):
    if point == "after_stage_write" and name == lsm.DELTA_OK:
        os._exit(3)
    real_mark(stage, name, text)

def rename(src, dst):
    if point == "before_delta_rename" and \\
            os.path.basename(dst).startswith("delta-"):
        os._exit(3)
    if point == "between_publish_renames" and dst == path:
        os._exit(3)
    real_rename(src, dst)

lsm._mark, os.rename = mark, rename
run_op(op, path)
"""


def _crash(point: str, op: str, path: str) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO), point, op, path],
        cwd=REPO, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 3, proc.stderr[-2000:]


@pytest.mark.parametrize("point,op", [
    ("after_stage_write", "append"),
    ("before_delta_rename", "append"),
    ("between_publish_renames", "compact"),
    ("between_publish_renames", "republish"),
])
def test_crash_then_rerun_equals_clean_run(tmp_path, point, op):
    clean = str(tmp_path / "clean" / "idx")
    os.makedirs(os.path.dirname(clean))
    _setup(clean)
    run_op(op, clean)

    path = str(tmp_path / "crashed" / "idx")
    os.makedirs(os.path.dirname(path))
    _setup(path)
    before = _state(path)
    _crash(point, op, path)
    if point == "between_publish_renames":
        assert not os.path.isdir(path)          # the torn window is real
        # any reader rolls the marked stage forward: the complete index
        # (and, for a maintained stage, its applied manifest) is back
        assert _state(path) == _state(clean)
    else:
        (stage,) = _litter(path)
        assert os.path.isfile(os.path.join(path, "deltas", stage,
                                           "rows.txt"))
        assert (point == "before_delta_rename") == os.path.isfile(
            os.path.join(path, "deltas", stage, lsm.DELTA_OK))
        assert _state(path) == before           # unpublished => invisible

    run_op(op, path)
    assert _state(path) == _state(clean)
    assert _litter(path) == []


def _dead_pid() -> int:
    proc = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True)
    return int(proc.stdout)


def test_dead_delta_stage_reaped_live_one_kept(tmp_path):
    path = str(tmp_path / "idx")
    _setup(path)
    deltas = os.path.join(path, "deltas")
    dead = os.path.join(deltas, f".stage-{_dead_pid()}-deadbeef")
    live = os.path.join(deltas, f".stage-{os.getpid()}-cafef00d")
    for d in (dead, live):
        _writer("orphan\n")(d)
    assert lsm.append_generation(path, _writer("b1\n"), "b1") == 2
    assert not os.path.exists(dead)
    assert os.path.isdir(live)
    assert [seq for seq, _ in lsm.generations(path)] == [1, 2]


def test_dead_build_sibling_manifest_file_removed(tmp_path):
    path = str(tmp_path / "idx")
    _setup(path)
    stage = f"{path}.build-{_dead_pid()}-deadbeef"
    _writer("half-built\n")(stage)               # no marker: never rolled
    with open(stage + ".applied.json", "w") as f:
        f.write('["b9"]')
    lsm.publish_base(path, _writer("rebuilt\n"))
    assert not os.path.exists(stage)
    assert not os.path.exists(stage + ".applied.json")
    assert _read(path, "rows.txt") == "rebuilt\n"
    assert lsm.applied_tags(path) == set()
