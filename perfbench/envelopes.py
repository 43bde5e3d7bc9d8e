"""Seeded, linear-time Debezium envelope stream and its replay oracle.

The stream has the shape the CDC consumer reads from Kafka: rows of
``(topic, value, partition, offset)`` where ``value`` is a schema-less
Debezium JSON envelope ``{"payload": {op, before, after, source, ts_ms}}``.
It covers two tables, two Kafka partitions (chosen by key, as a keyed
producer would), c/u/r/d operations with about a fifth deletes, a fixed
number of uncastable values per tail batch, and, both in the first tail
batch, a schema drift on ``employees`` (``role`` replaces
``position``/``salary`` for rows written from then on) and a
re-delivery: the batch starts with the last events of the snapshot epoch
again, at their original offsets, as a source does that resumes from an
older committed offset.

Live keys are kept in an indexed list (swap-remove on delete), so picking
the row to update or delete is O(1) and the whole stream is generated in
time linear in its length.

:class:`Oracle` replays the same events imperatively and predicts, after
each batch, every table's live-key count and an order-insensitive value
hash (:func:`row_crc` summed over rows), the number of row versions the
append-mode sink must hold (a duplicate append shows there, not in the
latest-version hash) and the number of rows the dead-letter queue must
hold.
"""

from __future__ import annotations

import json
import random
import zlib
from dataclasses import dataclass

DB = "dbserver1.testdb"
NAMES = ["Alice", "Bob", "Charlie", "Diana", "Eve", "Frank", "Grace", "Heidi"]
POSITIONS = ["Data Engineer", "DevOps Engineer", "Analyst", "Manager", "Tester"]
STATUSES = ["open", "triaged", "in_progress", "blocked", "closed"]
WORDS = ["disk", "login", "export", "billing", "latency", "crash", "report", "sync"]

# Columns whose JSON value must be numeric; a string there is uncastable
# and the consumer routes the row to the dead-letter queue.
NUMERIC = {"salary", "priority", "id"}
# Columns the consumer types as timestamps (``*_on`` epoch-millis heuristic).
EPOCH = {"updated_on", "created_on"}
TABLES = ("employees", "tickets")
BAD_VALUE = "n/a"
BAD_COLUMN = {"employees": "salary", "tickets": "priority"}
# poison inserts per tail batch, and the share of tail events that delete
BAD_PER_BATCH = 2
DELETE_FRAC = 0.2


@dataclass(frozen=True)
class Event:
    table: str
    op: str
    key: int
    before: dict | None
    after: dict | None
    ts_ms: int
    partition: int
    offset: int

    def kafka_row(self) -> tuple[str, str, int, int]:
        payload = {
            "op": self.op,
            "before": self.before,
            "after": self.after,
            "source": {"ts_ms": self.ts_ms, "table": self.table},
            "ts_ms": self.ts_ms + 123,
        }
        return (f"{DB}.{self.table}", json.dumps({"payload": payload}),
                self.partition, self.offset)


@dataclass
class Stream:
    """Generated batches: ``batches[0]`` is the snapshot; batch 1 starts
    with ``redelivered`` events re-sent from batch 0."""

    batches: list[list[Event]]
    redelivered: int


class _LiveKeys:
    """Indexed live-key set: O(1) add, random choice and removal."""

    def __init__(self) -> None:
        self.keys: list[int] = []
        self.pos: dict[int, int] = {}

    def add(self, k: int) -> None:
        self.pos[k] = len(self.keys)
        self.keys.append(k)

    def remove(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.keys.pop()
        if last != k:
            self.keys[i] = last
            self.pos[last] = i

    def choice(self, rng: random.Random) -> int:
        return self.keys[rng.randrange(len(self.keys))]

    def __len__(self) -> int:
        return len(self.keys)


def generate(
    seed: int,
    n_snapshot: int,
    batch_events: int,
    n_batches: int,
    redeliver: int,
) -> Stream:
    """Snapshot of ``n_snapshot`` rows (op ``r``) spread over the
    tables, then ``n_batches`` tail batches of ``batch_events`` events
    (c/u/d with ``DELETE_FRAC`` deletes, ``BAD_PER_BATCH`` of them poison
    inserts). New employees rows in the tail carry ``role`` (the drift);
    batch 1 starts with the last ``redeliver`` snapshot events, re-sent
    unchanged."""
    if not 0 <= redeliver <= n_snapshot:
        raise ValueError("the re-delivery must fall within the snapshot")
    rng = random.Random(seed)
    live = {t: _LiveKeys() for t in TABLES}
    rows: dict[str, dict[int, dict]] = {t: {} for t in TABLES}
    next_id = {t: 1 for t in TABLES}
    offsets = {(t, p): 0 for t in TABLES for p in (0, 1)}
    ts = [1_722_900_000_000]

    def mk_row(table: str, k: int, drifted: bool) -> dict:
        now = ts[0]
        if table == "employees":
            row = {"id": k, "name": f"{rng.choice(NAMES)}{rng.randint(100, 999)}"}
            if drifted:
                row["role"] = rng.choice(POSITIONS)
            else:
                row["position"] = rng.choice(POSITIONS)
                row["salary"] = float(rng.randint(50_000, 200_000))
            row["updated_on"] = now
        else:
            row = {"id": k, "title": f"{rng.choice(WORDS)} {rng.choice(WORDS)}",
                   "priority": rng.randint(1, 5), "status": rng.choice(STATUSES),
                   "created_on": now}
        return row

    def mutate(table: str, before: dict) -> dict:
        after = dict(before)
        if table == "employees":
            after["name"] = f"{rng.choice(NAMES)}{rng.randint(100, 999)}"
            if "salary" in after:
                after["salary"] = float(rng.randint(50_000, 200_000))
            after["updated_on"] = ts[0]
        else:
            after["status"] = rng.choice(STATUSES)
            after["priority"] = rng.randint(1, 5)
        return after

    def emit(table: str, op: str, k: int, before, after) -> Event:
        p = k % 2
        ev = Event(table, op, k, before, after, ts[0], p, offsets[(table, p)])
        offsets[(table, p)] += 1
        ts[0] += 1
        return ev

    def insert(table: str, op: str, drifted: bool) -> Event:
        k = next_id[table]
        next_id[table] += 1
        row = mk_row(table, k, drifted)
        rows[table][k] = row
        live[table].add(k)
        return emit(table, op, k, None, row)

    snapshot = [insert(TABLES[i % len(TABLES)], "r", False) for i in range(n_snapshot)]
    batches = [snapshot]
    for b in range(1, n_batches + 1):
        out: list[Event] = snapshot[len(snapshot) - redeliver:] if b == 1 else []
        bad_at = set(rng.sample(range(batch_events), BAD_PER_BATCH))
        for j in range(batch_events):
            table = TABLES[rng.randrange(len(TABLES))]
            r = rng.random()
            if j in bad_at:
                # a poison insert whose numeric column holds text: the
                # consumer must route it to the DLQ and leave the table as is
                ev = insert(table, "c", False)
                bad = dict(ev.after, **{BAD_COLUMN[table]: BAD_VALUE})
                out.append(Event(ev.table, ev.op, ev.key, None, bad, ev.ts_ms,
                                 ev.partition, ev.offset))
                continue
            if r < 0.4 or len(live[table]) == 0:
                out.append(insert(table, "c", table == "employees"))
            elif r < 1.0 - DELETE_FRAC:
                k = live[table].choice(rng)
                after = mutate(table, rows[table][k])
                out.append(emit(table, "u", k, rows[table][k], after))
                rows[table][k] = after
            else:
                k = live[table].choice(rng)
                live[table].remove(k)
                out.append(emit(table, "d", k, rows[table].pop(k), None))
        batches.append(out)
    return Stream(batches, redeliver)


def render(col: str, v) -> str:
    """Canonical text of one sink cell, as :func:`spark_row_text` renders
    it in Spark: missing and empty are both ''; epoch-millis columns are
    whole seconds; numbers as Java prints them (integral doubles here)."""
    if v is None or v == "":
        return ""
    if col in EPOCH:
        return str(v // 1000)
    return str(v)


def row_crc(cols: list[str], row: dict) -> int:
    return zlib.crc32("|".join(render(c, row.get(c)) for c in cols).encode())


def is_valid(row: dict) -> bool:
    return all(not isinstance(row.get(c), str) for c in NUMERIC if c in row)


class Oracle:
    """Imperative replay of the stream in append mode with replay dedup.

    An upsert applies unless one of its numeric values is text (it goes to
    the DLQ instead) or its offset is at or below the table-partition's
    high-water mark before the batch (a re-delivery); the mark then
    advances to the batch's largest upsert offset. A delete removes the
    key. Every delivered bad row, re-deliveries included, lands in the DLQ
    once."""

    def __init__(self) -> None:
        self.state: dict[str, dict[int, dict]] = {t: {} for t in TABLES}
        self.cols: dict[str, list[str]] = {t: [] for t in TABLES}
        self.sums: dict[str, int] = {t: 0 for t in TABLES}
        self.versions: dict[str, dict[int, int]] = {t: {} for t in TABLES}
        self.hwm: dict[tuple[str, int], int] = {}
        self.dlq_rows = 0
        self.schema_changes = 0

    def apply(self, events: list[Event]) -> int:
        """Apply one batch; returns how many upsert rows it appends."""
        for t in TABLES:
            keys = set(self.cols[t])
            for e in events:
                if e.table == t and e.after is not None:
                    keys.update(e.after)
            if keys != set(self.cols[t]):
                self.schema_changes += 1
                self.cols[t] = sorted(keys)
                self.sums[t] = sum(row_crc(self.cols[t], r)
                                   for r in self.state[t].values())
        seen = dict(self.hwm)
        appended = 0
        for e in events:
            st, cols = self.state[e.table], self.cols[e.table]
            if e.op == "d":
                old = st.pop(e.key, None)
                self.versions[e.table].pop(e.key, None)
                if old is not None:
                    self.sums[e.table] -= row_crc(cols, old)
                continue
            hk = (e.table, e.partition)
            self.hwm[hk] = max(self.hwm.get(hk, -1), e.offset)
            if not is_valid(e.after):
                self.dlq_rows += 1
                continue
            if e.offset <= seen.get(hk, -1):
                continue
            appended += 1
            self.versions[e.table][e.key] = self.versions[e.table].get(e.key, 0) + 1
            old = st.get(e.key)
            if old is not None:
                self.sums[e.table] -= row_crc(cols, old)
            st[e.key] = e.after
            self.sums[e.table] += row_crc(cols, e.after)
        return appended

    def expected(self, table: str) -> tuple[int, int]:
        """(live keys, value hash) of the table's current state."""
        return len(self.state[table]), self.sums[table]

    def sink_rows(self, table: str) -> int:
        """Row versions an append-mode sink holds: every applied upsert of
        a live key (a delete removes all versions of its key)."""
        return sum(self.versions[table].values())
