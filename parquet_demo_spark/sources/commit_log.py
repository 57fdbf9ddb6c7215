"""The commit protocol of the lakehouse stores, written once.

Each store keeps its history as a chain of immutable SLOTS plus one
POINTER file that names the committed head:

- the copy-on-write store (:mod:`merge_store`) and the partitioned
  table (:mod:`partitioned_store`): slot ``v{N:05d}/manifest.json``,
  pointer ``_latest`` holding the bare version number;
- the merge-on-read delta log (:mod:`mor_store`): slot
  ``_log/e{N:08d}.json``, pointer ``_DELTAS.json`` holding
  ``{"entry": N}`` (or, on a store written before the chain existed,
  the full log state; that reads as entry -1).

The protocol, Delta-style optimistic concurrency on plain files:

- **The CAS.** A commit creates slot N with ``O_EXCL`` and writes,
  flushes and fsyncs it. Of two writers that both read head N-1 and
  target N, exactly one creates it.
- **The commit point.** The pointer is then replaced atomically
  (``os.replace`` of an fsynced temp file) and re-read: two racing
  replaces can land out of order, and a pointer that went backwards
  would make the newer committed slot look like an orphan, so the
  swap repeats until the pointer is at or past N.
- **The CAS-loss decision.** A loser whose blocking slot is COMMITTED
  (the pointer has reached it) rebases. A blocking slot ABOVE the
  pointer belongs to a writer that is mid-commit or crashed between
  the create and the swap; that raises :class:`ConcurrentWriteConflict`
  naming ``clean_orphans()``.
- **The rebase.** A manifest store's loser walks every commit from its
  base to the head (:meth:`CommitLog.rebase`): each must have run a
  rebase-safe operation and left the loser's footprint alone, and the
  head must still match the loser's table definition. The loser's
  footprint is then overlaid on the head's manifest and committed at
  head+1, repeating if head+1 was taken meanwhile. The delta log
  always rebases: its writer re-runs its mutation on the new head.

A crash between the create and the swap leaves an orphan slot that
readers never see (they resolve the pointer) and that
:meth:`CommitLog.clean_orphans` removes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import tempfile
from typing import Callable, NamedTuple


class ConcurrentWriteConflict(RuntimeError):
    """Another writer claimed the version this commit targeted.

    The exclusive creation of the version's manifest (or log entry) is
    the compare-and-swap. The loser's data dirs are unreferenced
    (vacuum reclaims them); the caller should re-read the table and
    retry on top of the winner. If NO other writer is active, the
    blocking file is a crashed commit's orphan: remove it with the
    store's ``clean_orphans()``.
    """


class Rebase(NamedTuple):
    """A manifest store's rebase hooks.

    ``footprint(older, newer)`` is the set of units (buckets,
    partitions) whose entries differ between two manifests.
    ``compatible(head, ours)`` says whether the head still has the table
    definition the loser wrote against. ``overlay(head, ours,
    footprint)`` returns the fields of the head manifest that the
    loser's commit replaces. Only ``safe_ops`` commits rebase."""

    safe_ops: frozenset
    footprint: Callable[[dict, dict], set]
    compatible: Callable[[dict, dict], bool]
    overlay: Callable[[dict, dict, set], dict]


class CommitLog:
    """One store's slot chain and head pointer under ``root``.

    Slot N is ``root/subdir/name.format(N)``, plus ``leaf`` inside it
    when each slot is a directory of its own. ``encode`` and ``decode``
    turn a slot number into the pointer file's text and back. Slots are
    JSON, written with ``indent`` and loaded by ``read(n)`` (default: a
    plain load of the file). ``label`` names a slot in messages."""

    def __init__(
        self,
        root: str,
        pointer: str,
        name: str,
        *,
        subdir: str = "",
        leaf: str | None = None,
        encode: Callable[[int], str] = str,
        decode: Callable[[str], int] = int,
        indent: int | None = None,
        label: str = "version",
        read: Callable[[int], dict] | None = None,
        rebase: Rebase | None = None,
    ) -> None:
        self.root = root
        self.pointer = os.path.join(root, pointer)
        self._name, self._subdir = name, subdir
        self._leaf = (leaf,) if leaf else ()
        self._encode, self._decode = encode, decode
        self._indent, self._label, self._rules = indent, label, rebase
        self.read = read or self._load

    def rel(self, n: int) -> str:
        """Slot ``n``'s top-level entry under the root: the version dir,
        or the entry file."""
        return os.path.join(self._subdir, self._name.format(n))

    def path(self, n: int) -> str:
        """Slot ``n``'s JSON file."""
        return os.path.join(self.root, self.rel(n), *self._leaf)

    def _load(self, n: int) -> dict:
        with open(self.path(n)) as fh:
            return json.load(fh)

    # -- pointer ----------------------------------------------------------

    def read_pointer(self) -> str | None:
        """The pointer file's text, or None before the first commit."""
        try:
            with open(self.pointer) as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def head(self) -> int | None:
        """The committed slot number, or None before the first commit."""
        raw = self.read_pointer()
        return None if raw is None else self._decode(raw)

    def swap(self, n: int) -> None:
        """The commit point: atomically point at slot ``n``, with the
        monotonic fix-up (see the module docstring)."""
        prefix = os.path.splitext(os.path.basename(self.pointer))[0] + "."
        while True:
            fd, tmp = tempfile.mkstemp(dir=self.root, prefix=prefix)
            with os.fdopen(fd, "w") as fh:
                fh.write(self._encode(n))
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, self.pointer)
            cur = self.head()
            if cur is not None and cur >= n:
                return

    # -- slots --------------------------------------------------------------

    def create(self, n: int, record: dict) -> bool:
        """The CAS: create slot ``n`` exclusively holding ``record``
        (written, flushed and fsynced). False when it already exists."""
        path = self.path(n)
        if self._leaf:
            os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fh = open(path, "x")
        except FileExistsError:
            return False
        with fh:
            json.dump(record, fh, indent=self._indent)
            fh.flush()
            os.fsync(fh.fileno())
        return True

    def committed_past(self, n: int) -> int:
        """The CAS-loss decision for slot ``n``: the committed head when
        another writer committed ``n`` (rebase onto it); otherwise the
        blocking slot is an orphan or mid-commit, and this raises."""
        head = self.head()
        if head is not None and head >= n:
            return head
        raise ConcurrentWriteConflict(
            f"{self._label} {n} exists but is not committed (committed "
            f"pointer: {head}): a concurrent writer is mid-commit, or a "
            "crashed commit left an orphan (clean_orphans() removes it "
            "if no writer is active)"
        )

    def slots(self) -> list[int]:
        """Every slot number with a slot file, ascending: committed
        ones, then any orphans above the pointer."""
        pre, _, rest = self._name.partition("{")
        suf = rest.partition("}")[2]
        out = []
        for entry in os.listdir(os.path.join(self.root, self._subdir)):
            num = entry[len(pre) : len(entry) - len(suf)]
            if (
                entry.startswith(pre)
                and entry.endswith(suf)
                and num.isdigit()
                and (not self._leaf or os.path.exists(self.path(int(num))))
            ):
                out.append(int(num))
        return sorted(out)

    def clean_orphans(self) -> list[int]:
        """Remove every slot above the committed pointer, so its number
        becomes claimable again; returns the removed numbers. Delta
        Lake's FSCK contract: the caller asserts that no writer is
        mid-commit. Data the orphans name stays for vacuum."""
        head = self.head()
        removed = [n for n in self.slots() if head is None or n > head]
        for n in removed:
            os.remove(self.path(n))
            if self._leaf:  # the version dir, unless it holds more
                with contextlib.suppress(OSError):
                    os.rmdir(os.path.dirname(self.path(n)))
        return removed

    # -- manifest stores: commit, rebase, history ---------------------------

    def commit(self, version: int, manifest: dict) -> int:
        """Commit ``manifest`` as ``version``; returns the version it
        landed at, which is higher than ``version`` after a rebase."""
        if not self.create(version, manifest):
            return self.rebase(version, manifest)
        self.swap(version)
        return version

    def rebase(self, version: int, manifest: dict) -> int:
        """Replay a commit that lost slot ``version`` on the committed
        head (see the module docstring); returns the version it landed
        at. Raises :class:`ConcurrentWriteConflict` naming the reason
        when it cannot be replayed."""
        r = self._rules
        while True:
            head = self.committed_past(version)
            refuse = functools.partial(self._refused, version, head)
            op = manifest["operation"]
            if op not in r.safe_ops:
                raise refuse(f"{op!r} is not rebase-safe")
            prev = {} if version == 0 else self.read(version - 1)
            ours = r.footprint(prev, manifest)
            for v in range(version, head + 1):
                at = f"{self._label} {v}"
                try:
                    m = self.read(v)
                except (FileNotFoundError, ValueError):
                    raise refuse(f"{at} is unreadable") from None
                if m.get("operation", "merge") not in r.safe_ops:
                    raise refuse(f"{at} ran {m['operation']!r}")
                hit = r.footprint(prev, m) & ours
                if hit:
                    raise refuse(
                        f"{at} has an OVERLAPPING footprint (overlapping: "
                        f"{sorted(hit)})"
                    )
                prev = m
            if not r.compatible(prev, manifest):
                raise refuse("the table definition changed")
            manifest = {
                **prev,
                **r.overlay(prev, manifest, ours),
                "operation": op,
                "op_params": {
                    **manifest["op_params"],
                    # the ORIGINAL pre-race base, through every retry
                    "rebased_from": manifest["op_params"].get(
                        "rebased_from", version
                    ),
                },
                "committed_at": manifest["committed_at"],
                "version": head + 1,
            }
            version = head + 1
            if self.create(version, manifest):
                self.swap(version)
                return version

    def _refused(self, version: int, head: int, why: str):
        return ConcurrentWriteConflict(
            f"{self._label} {version} was committed by another writer "
            f"(committed pointer: {head}) and this commit cannot rebase "
            f"onto it: {why}; re-read and retry"
        )

    def describe(self, extra: Callable[[dict], dict] = dict) -> list[dict]:
        """DESCRIBE HISTORY over the committed manifests, oldest first:
        operation, parameters and wall-clock commit time, plus the
        store's ``extra(manifest)`` fields. Orphans above the pointer
        and manifests vacuumed meanwhile are left out."""
        head = self.head()
        rows = []
        for v in self.slots():
            if head is None or v > head:
                break
            try:
                m = self.read(v)
            except (FileNotFoundError, ValueError):
                continue
            rows.append({
                "version": v,
                "operation": m.get("operation", "unknown"),
                "op_params": m.get("op_params", {}),
                "committed_at": m.get("committed_at"),
                **extra(m),
            })
        return rows

    def version_at(self, timestamp: float) -> int:
        """The newest committed version whose commit time is at or
        before ``timestamp`` (epoch seconds); raises when there is
        none."""
        best = None
        for row in self.describe():
            at = row["committed_at"]
            if at is not None and at <= timestamp:
                best = row["version"]
        if best is None:
            raise ValueError(
                f"no commit at or before {timestamp} in {self.root}"
            )
        return best

    def retained(self, keep_last: int, older_than: float | None) -> list[int]:
        """The committed versions a vacuum keeps, ascending: the newest
        ``keep_last`` (every one for 0), every one committed at or after
        ``older_than`` (an absolute unix time) or with no commit time
        (never expire data whose age can't be proven), and the head."""
        head = self.head()
        if head is None:
            return []
        committed = [v for v in self.slots() if v <= head]
        keep = set(committed[-int(keep_last) :])
        for v in committed if older_than is not None else ():
            if v not in keep:
                at = self.read(v).get("committed_at")
                if at is None or at >= older_than:
                    keep.add(v)
        return sorted(keep | {head})


def manifest_log(root: str, label: str = "version", read=None, rebase=None):
    """The manifest chain of a copy-on-write store or a partitioned
    table: ``v{N:05d}/manifest.json`` slots, a bare-int ``_latest``
    pointer, manifests written with ``indent=1``."""
    return CommitLog(
        root,
        "_latest",
        "v{:05d}",
        leaf="manifest.json",
        indent=1,
        label=label,
        read=read,
        rebase=rebase,
    )
