"""The shared commit protocol (``sources/commit_log.py``), without Spark.

A hypothesis state machine drives one ``CommitLog`` with a toy manifest
``{"slots": {slot: dir}}``: writers take a base, commit in any order
hypothesis picks, or crash between the exclusive create and the pointer
swap, and ``clean_orphans`` runs in between. A model of the table
predicts every outcome: the commit lands at its target, rebases past
the commits made since its base, or conflicts, because its footprint
overlaps one of those commits, because it or one of them ran an
operation that is not rebase-safe, or because an orphan blocks its
slot.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
)

from parquet_demo_spark.sources import commit_log
from parquet_demo_spark.sources.commit_log import (
    CommitLog,
    ConcurrentWriteConflict,
    Rebase,
    manifest_log,
)

SLOTS = ("a", "b", "c", "d")
WRITERS = st.integers(0, 2)


def _footprint(older: dict, newer: dict) -> set:
    a, b = older.get("slots", {}), newer.get("slots", {})
    return {s for s in {*a, *b} if a.get(s) != b.get(s)}


def _overlay(head: dict, ours: dict, footprint: set) -> dict:
    held = {s: d for s, d in head["slots"].items() if s not in footprint}
    mine = {s: d for s, d in ours["slots"].items() if s in footprint}
    return {"slots": {**held, **mine}}


RULES = Rebase(
    safe_ops=frozenset({"merge"}),
    footprint=_footprint,
    compatible=lambda head, ours: head["schema"] == ours["schema"],
    overlay=_overlay,
)


class CommitProtocol(RuleBasedStateMachine):
    @initialize()
    def open_log(self):
        self.root = tempfile.mkdtemp(prefix="commit_log_test.")
        self.log = manifest_log(self.root, rebase=RULES)
        self.pending: dict[int, tuple[int, dict]] = {}
        self.slots: dict[str, str] = {}  # the model table at the head
        self.footprints: list[set] = []  # per committed version
        self.ops: list[str] = []  # per committed version
        self.orphans: set[int] = set()
        self.high = -1  # highest pointer seen
        self.tokens = 0
        self.clock = 0.0

    def teardown(self):
        shutil.rmtree(getattr(self, "root", ""), ignore_errors=True)

    @property
    def head(self) -> int:
        return len(self.footprints) - 1

    @rule(
        writer=WRITERS,
        touch=st.sets(st.sampled_from(SLOTS), min_size=1),
        op=st.sampled_from(["merge", "merge", "merge", "restore"]),
    )
    def take_base(self, writer, touch, op):
        base = {} if self.head < 0 else self.log.read(self.head)
        self.tokens += 1
        self.clock += 1.0
        manifest = {
            "version": self.head + 1,
            "schema": 1,
            "slots": {
                **base.get("slots", {}),
                **{s: f"w{writer}-{self.tokens}" for s in touch},
            },
            "operation": op,
            "op_params": {},
            "committed_at": self.clock,
        }
        self.pending[writer] = (self.head + 1, manifest)

    def _outcome(self, version: int, ours: set, op: str) -> str | int:
        """The model's prediction: the landing version, "orphan",
        "unsafe" or "overlap"."""
        if version > self.head:
            return "orphan" if version in self.orphans else version
        if op != "merge":
            return "unsafe"
        for v in range(version, self.head + 1):  # the walk's order
            if self.ops[v] != "merge":
                return "unsafe"
            if ours & self.footprints[v]:
                return "overlap"
        return "orphan" if self.head + 1 in self.orphans else self.head + 1

    @precondition(lambda self: self.pending)
    @rule(data=st.data())
    def commit(self, data):
        writer = data.draw(st.sampled_from(sorted(self.pending)))
        version, manifest = self.pending.pop(writer)
        base = self.log.read(version - 1) if version else {}
        ours = _footprint(base, manifest)
        expected = self._outcome(version, ours, manifest["operation"])
        try:
            landed = self.log.commit(version, manifest)
        except ConcurrentWriteConflict as exc:
            assert expected in ("orphan", "unsafe", "overlap"), (expected, exc)
            message = {
                "orphan": "clean_orphans()",
                "unsafe": "'restore'",
                "overlap": "OVERLAPPING",
            }[expected]
            assert message in str(exc)
            return
        assert landed == expected
        head_m = self.log.read(landed)
        assert head_m["version"] == landed
        if landed > version:
            assert head_m["op_params"]["rebased_from"] == version
        else:
            assert "rebased_from" not in head_m["op_params"]
        self.footprints.append(ours)
        self.ops.append(manifest["operation"])
        self.slots.update({s: manifest["slots"][s] for s in ours})

    @precondition(lambda self: self.pending)
    @rule(data=st.data())
    def crash_after_create(self, data):
        """The writer dies between the exclusive create and the swap."""
        writer = data.draw(st.sampled_from(sorted(self.pending)))
        version, manifest = self.pending.pop(writer)
        if self.log.create(version, manifest):
            assert version == self.head + 1
            self.orphans.add(version)

    @rule()
    def clean_orphans(self):
        assert self.log.clean_orphans() == sorted(self.orphans)
        self.orphans.clear()

    @invariant()
    def head_holds_every_surviving_update(self):
        if not hasattr(self, "log"):
            return
        head = self.log.head()
        assert (head if head is not None else -1) == self.head
        assert self.head >= self.high  # never backwards
        self.high = self.head
        if self.head >= 0:
            assert self.log.read(self.head)["slots"] == self.slots
        assert self.log.slots() == sorted(
            [*range(self.head + 1), *self.orphans]
        )
        history = [row["version"] for row in self.log.describe()]
        assert history == list(range(self.head + 1))


CommitProtocol.TestCase.settings = settings(
    max_examples=60, stateful_step_count=30, deadline=None
)
test_commit_protocol = CommitProtocol.TestCase


def test_swap_repairs_a_pointer_a_slower_writer_moved_back(
    tmp_path, monkeypatch
):
    """Two racing pointer replaces can land out of order: when a slower
    writer's replace to 4 lands right after ours to 5, the re-read sees
    the regression and the swap repeats, so the pointer ends at 5."""
    log = manifest_log(str(tmp_path))
    replace, raced = os.replace, []

    def late_rival(src, dst):
        replace(src, dst)
        if not raced:
            raced.append(True)
            (tmp_path / "_latest").write_text("4")

    monkeypatch.setattr(commit_log.os, "replace", late_rival)
    log.swap(5)
    assert log.head() == 5


def _manifest(version, slots, operation="merge", schema=1):
    return {
        "version": version,
        "schema": schema,
        "slots": slots,
        "operation": operation,
        "op_params": {},
        "committed_at": float(version),
    }


def test_rebase_refuses_a_changed_table_definition(tmp_path):
    """A disjoint writer still conflicts when the head's table
    definition moved (the ``compatible`` hook), naming the reason."""
    log = manifest_log(str(tmp_path), rebase=RULES)
    assert log.commit(0, _manifest(0, {"a": "x"})) == 0
    assert log.commit(1, _manifest(1, {"a": "x", "b": "y"}, schema=2)) == 1
    with pytest.raises(ConcurrentWriteConflict, match="table definition"):
        log.commit(1, _manifest(1, {"a": "x", "c": "z"}))
    assert log.head() == 1


def test_rebase_walks_every_commit_since_the_base(tmp_path):
    """An unsafe operation anywhere between the base and the head
    refuses the rebase, not only one at the head."""
    log = manifest_log(str(tmp_path), rebase=RULES)
    assert log.commit(0, _manifest(0, {"a": "x"})) == 0
    assert log.commit(1, _manifest(1, {"a": "x", "b": "y"}, "restore")) == 1
    assert log.commit(2, _manifest(2, {"a": "x", "b": "y", "c": "z"})) == 2
    with pytest.raises(ConcurrentWriteConflict, match="version 1 ran"):
        log.commit(1, _manifest(1, {"a": "x", "d": "w"}))
    assert log.head() == 2


def test_racing_threads_lose_no_update(tmp_path):
    """Eight writer threads (more than the cores this suite runs on)
    commit to disjoint slots of one table, retrying each conflict a
    mid-commit rival causes: every commit lands at its own version,
    the pointer never moves back under a writer, and the head holds
    every writer's last write."""
    import sys
    import threading

    log = manifest_log(str(tmp_path), rebase=RULES)
    assert log.commit(0, _manifest(0, {})) == 0
    landed: list[int] = []
    errors: list[BaseException] = []

    def writer(w: int) -> None:
        try:
            for i in range(5):
                while True:
                    head = log.head()
                    slots = {**log.read(head)["slots"], f"s{w}": f"{w}-{i}"}
                    try:
                        v = log.commit(head + 1, _manifest(head + 1, slots))
                    except ConcurrentWriteConflict:
                        continue  # a rival is mid-commit: re-read, retry
                    assert log.head() >= v
                    landed.append(v)
                    break
        except BaseException as exc:  # reported by the main thread
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert sorted(landed) == list(range(1, 41))
    assert log.head() == 40
    assert log.read(40)["slots"] == {f"s{w}": f"{w}-4" for w in range(8)}


def test_delta_log_pointer_round_trips(tmp_path):
    """A JSON pointer and flat entry files (the MOR log's layout): the
    swap writes the encoded pointer, slots list only entry files, and
    an orphan entry is removed by path."""
    import json

    log = CommitLog(
        str(tmp_path),
        "_DELTAS.json",
        "e{:08d}.json",
        subdir="_log",
        encode=lambda n: json.dumps({"entry": n}),
        decode=lambda raw: json.loads(raw)["entry"],
    )
    (tmp_path / "_log").mkdir()
    assert log.head() is None
    assert log.create(0, {"dirs": []})
    log.swap(0)
    assert (tmp_path / "_DELTAS.json").read_text() == '{"entry": 0}'
    assert (tmp_path / "_log" / "e00000000.json").read_text() == '{"dirs": []}'
    assert not log.create(0, {"dirs": ["x"]})
    assert log.create(1, {"dirs": ["x"]})
    assert log.slots() == [0, 1]
    with pytest.raises(ConcurrentWriteConflict, match="clean_orphans"):
        log.committed_past(1)
    assert log.clean_orphans() == [1]
    assert log.rel(1) == "_log/e00000001.json"
    assert log.slots() == [0]
