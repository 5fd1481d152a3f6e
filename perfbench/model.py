"""Shadow model of one event-sourced table: what every read must return.

The model holds the events the benchmark published, in the physical order
the table log keeps them, and replays them with the engine's documented
semantics: Insert resets a row, Patch merges its fields into a live row
(and is ignored for a missing one), SoftDelete removes the row. It also
follows the maintenance statements that change what history answers:

- a checkpoint materializes the current state at the end of the last batch;
- a compaction checkpoints, then replaces the log by one Insert per live
  key, placed in the batch of that key's last Insert or Patch.

Sequence numbers inside a multi-key batch depend on Spark's partitioning,
so the model knows each batch's sequence range, not each event's sequence.
Events are ordered by ``(batch, statement)``; a batch holds at most one
event per key and statement, which the engine orders by statement index.
Every ``AS OF`` target the workloads issue is therefore a batch boundary.
"""

from __future__ import annotations

from dataclasses import dataclass

INSERT, PATCH, SOFT_DELETE = "INSERT", "PATCH", "SOFT_DELETE"  # the log's event_type values


@dataclass
class Event:
    batch: int
    stmt: int
    kind: str
    pk: str
    payload: dict | None


class ShadowTable:
    def __init__(self, pk_col: str, base_seq: int = 0):
        self.pk_col = pk_col
        self.batches: list[tuple[int, int]] = []  # (first seq, last seq)
        self.base_seq = base_seq
        self.log: list[Event] = []
        self.snapshots: dict[int, dict[str, tuple[int, dict]]] = {}
        self.compacted_at = -1  # last batch a compaction folded
        self._folds: dict[int, dict[str, tuple[int, dict]]] = {}

    # -- writes --------------------------------------------------------------

    def last_seq(self) -> int:
        return self.batches[-1][1] if self.batches else self.base_seq

    def publish(self, events: list[tuple[str, object, dict | None, int]]) -> int:
        """Record one published batch of ``(kind, pk, payload, stmt)``
        events. Returns its last sequence; an empty batch publishes
        nothing and leaves the sequence where it was."""
        if not events:
            return self.last_seq()
        seen = set()
        batch = len(self.batches)
        for kind, pk, payload, stmt in events:
            key = (str(pk), stmt)
            if key in seen:
                raise ValueError(f"two events for key {pk} in one statement")
            seen.add(key)
            self.log.append(Event(batch, stmt, kind, str(pk), payload))
        self._folds.clear()
        first = self.last_seq() + 1
        self.batches.append((first, first + len(events) - 1))
        return self.last_seq()

    def checkpoint(self) -> None:
        if self.batches:
            last = len(self.batches) - 1
            self.snapshots[last] = self._fold(last)
            self._folds.clear()

    def compact(self) -> None:
        if not self.log:
            return
        self.checkpoint()
        last = len(self.batches) - 1
        self.log = [
            Event(b, 0, INSERT, pk, dict(row))
            for pk, (b, row) in sorted(self.snapshots[last].items())
        ]
        self.log.sort(key=lambda e: e.batch)
        self.compacted_at = last
        self._folds.clear()

    # -- reads ---------------------------------------------------------------

    def batch_ending_at(self, seq: int) -> int:
        for i, (_first, last) in enumerate(self.batches):
            if last == seq:
                return i
        raise ValueError(f"sequence {seq} is not a batch boundary")

    def state(self, upto_batch: int | None = None) -> dict[str, dict]:
        """Visible rows ``{pk: row}`` as of the end of ``upto_batch``
        (default: now), resolved the way the engine resolves it: the
        newest snapshot at or before the bound, then the log after it."""
        if upto_batch is None:
            upto_batch = len(self.batches) - 1
        return {pk: row for pk, (_b, row) in self._fold(upto_batch).items()}

    def _fold(self, upto_batch: int) -> dict[str, tuple[int, dict]]:
        if upto_batch not in self._folds:
            self._folds[upto_batch] = self._replay(upto_batch)
        return self._folds[upto_batch]

    def _replay(self, upto_batch: int) -> dict[str, tuple[int, dict]]:
        usable = [b for b in self.snapshots if b <= upto_batch]
        start = max(usable) if usable else -1
        rows: dict[str, tuple[int, dict]] = {
            pk: (b, dict(row)) for pk, (b, row) in self.snapshots.get(start, {}).items()
        }
        tail = [e for e in self.log if start < e.batch <= upto_batch]
        for e in sorted(tail, key=lambda e: (e.batch, e.stmt)):
            if e.kind == INSERT:
                rows[e.pk] = (e.batch, dict(e.payload))
            elif e.kind == PATCH:
                if e.pk in rows:
                    rows[e.pk] = (e.batch, {**rows[e.pk][1], **e.payload})
            else:
                rows.pop(e.pk, None)
        return rows

    def resolvable_ts_batch(self, batch: int) -> bool:
        """True when ``AS OF <time just after batch>`` resolves to that
        batch's last sequence. After a compaction, the Inserts that replace
        older history keep only each key's last sequence, so a time inside
        the compacted range no longer lands on a batch boundary."""
        return batch >= self.compacted_at

    def history(self, pk) -> list[tuple[int, str]]:
        """``(batch, kind)`` of every logged event for ``pk``, in order."""
        pk = str(pk)
        return [(e.batch, e.kind) for e in sorted(self.log, key=lambda e: (e.batch, e.stmt)) if e.pk == pk]
