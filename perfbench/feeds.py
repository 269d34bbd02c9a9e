"""Seeded changefeed generator for the CDC workloads.

A feed is a sequence of CockroachDB core-changefeed wire lines, the format
the ``crdb_changefeed`` replay source reads: ``[table, key, value]`` JSON
arrays, with ``[null, null, {"resolved": ...}]`` rows between change rows.

- Change values are rows of the fixture ``orders`` and ``lineitem`` tables,
  formatted as ``tools/record_feed.py`` records them (see ``FeedShape``).
- Keys follow a finite Zipf law per table, so hot keys carry many versions.
- Every change value carries ``"v"``: the key's version, counting from 0 in
  feed order. The per-key order check reads it back from the published
  envelopes.
- A feed is held as arrays, and lines are formatted on demand from a pool
  of rows ``json.dumps`` formatted once per table: generation is the
  benchmark's own cost and must stay small next to session start, in time
  and in memory.

Run as a script it is the live-tail generator process; see ``tail_main``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

PAGE = 4096
POOL_ROWS = 4096


@dataclass(frozen=True)
class FeedShape:
    """What a generated feed looks like; the seed picks the rows.

    The rows are the ones ``tools/record_feed.py`` records from the fixture
    tables: ``orders`` and ``lineitem``, keyed by ``o_orderkey`` and
    ``l_orderkey``, with the fixture's 1:4 row ratio and its 15,000 order
    keys (sf0.01). The Zipf exponent is an assumption: the fixtures give each
    key at most a few rows, and no recorded production feed is at hand."""

    tables: tuple[str, ...] = ("orders", "lineitem")
    table_weights: tuple[float, ...] = (1.0, 4.0)
    keys_per_table: int = 15_000
    zipf_a: float = 1.1
    resolved_every: int = 1000


def _row_pool(rng, table: str) -> tuple[str, list[str]]:
    """The key column and ``POOL_ROWS`` fixture rows of ``table``, each the
    ``json.dumps(..., default=str)`` text of its other columns, as
    ``tools/record_feed.py`` formats them."""
    from analytics import lineitem_columns, orders_columns

    cols = {"orders": orders_columns, "lineitem": lineitem_columns}[table](rng, POOL_ROWS)
    pk, rest = next(iter(cols)), list(cols)[1:]
    rows = pa.table({c: cols[c] for c in rest}).to_pylist()
    return pk, [json.dumps(r, default=str)[1:-1] for r in rows]


def hlc(i: int) -> str:
    """The i-th resolved timestamp: wall seconds plus a logical counter."""
    return f"{1_700_000_000 + i}.{(i * 7919) % 10**9:09d},0"


@dataclass
class Feed:
    """A generated feed as per-line arrays. A change value is
    ``{"after": {<key column>: key, "v": version, <row's other columns>}}``;
    ``"v"`` counts the key's versions from 0 in feed order, and the per-key
    order check reads it back from the published envelopes."""

    table: np.ndarray  # table index; -1 marks a resolved row
    key: np.ndarray
    version: np.ndarray
    row: np.ndarray  # index into the table's row pool
    table_names: list[str]
    pks: list[str]
    pools: list[list[str]]

    def __len__(self) -> int:
        return len(self.table)

    def n_changes(self, lo: int = 0, hi: int | None = None) -> int:
        return int((self.table[lo:hi] >= 0).sum())

    def _values(self, lo: int, hi: int | None):
        """(table index, key, value text) of each line; value None for a
        resolved row."""
        for t, k, v, r in zip(self.table[lo:hi].tolist(), self.key[lo:hi].tolist(),
                              self.version[lo:hi].tolist(), self.row[lo:hi].tolist()):
            if t < 0:
                yield t, k, None
            else:
                yield t, k, f'{{"after": {{"{self.pks[t]}": {k}, "v": {v}, {self.pools[t][r]}}}}}'

    def lines(self, lo: int = 0, hi: int | None = None) -> list[bytes]:
        """Wire lines ``lo:hi``, each ending in a newline, byte for byte as
        ``json.dumps`` writes them in ``tools/record_feed.py``. The values
        hold no backslash, so escaping their quotes is their JSON string
        form."""
        n_resolved = int((self.table[:lo] < 0).sum())
        out = []
        for t, k, value in self._values(lo, hi):
            if value is None:
                out.append(f'[null, null, "{{\\"resolved\\": \\"{hlc(n_resolved)}\\"}}"]\n'.encode())
                n_resolved += 1
            else:
                value = value.replace('"', '\\"')
                out.append(f'["{self.table_names[t]}", "[{k}]", "{value}"]\n'.encode())
        return out

    def envelopes(self, lo: int = 0, hi: int | None = None) -> list[bytes]:
        """Independently formatted envelopes of the change rows in ``lo:hi``:
        ``{"table","key","value"}`` with the value spliced in byte-verbatim
        (the reference's RawValue layout)."""
        return [f'{{"table":"{self.table_names[t]}","key":"[{k}]","value":{value}}}'.encode()
                for t, k, value in self._values(lo, hi) if value is not None]

    def last_resolved(self, hi: int | None = None) -> str | None:
        """The value of the last resolved row before line ``hi``."""
        n_resolved = int((self.table[:hi] < 0).sum())
        return hlc(n_resolved - 1) if n_resolved else None

    def write(self, path: str, lo: int = 0, hi: int | None = None, step: int = 50_000) -> None:
        """Append lines ``lo:hi`` to ``path``, a slice at a time."""
        hi = len(self) if hi is None else hi
        with open(path, "ab") as f:
            for a in range(lo, hi, step):
                f.write(b"".join(self.lines(a, min(a + step, hi))))


def make_feed(seed: int, n_lines: int, shape: FeedShape = FeedShape()) -> Feed:
    """``n_lines`` lines; every ``resolved_every``-th line is a resolved row."""
    rng = np.random.default_rng(seed)
    n_keys = shape.keys_per_table
    weights = 1.0 / np.arange(1, n_keys + 1) ** shape.zipf_a
    key = rng.permutation(n_keys)[rng.choice(n_keys, size=n_lines, p=weights / weights.sum())]
    share = np.array(shape.table_weights) / sum(shape.table_weights)
    table = rng.choice(len(shape.tables), size=n_lines, p=share)
    resolved_rows = np.arange(n_lines) % shape.resolved_every == shape.resolved_every - 1
    table[resolved_rows] = -1
    key[resolved_rows] = -1
    # version = how many earlier change rows share the (table, key)
    ident = np.where(resolved_rows, -1, table * n_keys + key)
    order = np.argsort(ident, kind="stable")
    starts = np.r_[0, np.flatnonzero(np.diff(ident[order])) + 1]
    runs = np.diff(np.r_[starts, n_lines])
    version = np.empty(n_lines, np.int64)
    version[order] = np.arange(n_lines) - np.repeat(starts, runs)
    pks, pools = zip(*(_row_pool(rng, t) for t in shape.tables))
    row = rng.integers(0, POOL_ROWS, size=n_lines)
    return Feed(table, key, version, row, list(shape.tables), list(pks), list(pools))


_ENVELOPE_RE = re.compile(
    rb'^\{"table":"([^"]*)","key":"\[(\d+)\]","value":\{"after": \{"\w+": \d+, "v": (\d+),')


def order_violations(files: dict[str, list[bytes]]) -> int:
    """Rows whose version does not exceed the previous one of the same key
    in the same queue file. A queue file is one publish partition, appended
    in epoch order, so per-key order must hold along it."""
    bad = 0
    for lines in files.values():
        last: dict[tuple[bytes, bytes], int] = {}
        for line in lines:
            m = _ENVELOPE_RE.match(line)
            if m is None:
                bad += 1
                continue
            ident, v = (m.group(1), m.group(2)), int(m.group(3))
            if last.get(ident, -1) >= v:
                bad += 1
            last[ident] = v
    return bad


def read_queue_files(root: str) -> dict[str, list[bytes]]:
    """Every published line, by queue file, under a dir queue root."""
    out: dict[str, list[bytes]] = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[path] = f.read().splitlines()
    return out


def append_whole_lines(fd: int, offset: int, lines: list[bytes], max_line: int) -> int:
    """Append ``lines`` so that a concurrent reader only ever sees whole
    lines, and return the new end offset. No line may exceed ``max_line``
    bytes, and ``max_line`` must be below a page.

    A buffered write becomes visible one page at a time, so a write that
    crosses a page boundary can expose half a line. Each write here stays
    inside one page. When the next line would cross, or when fewer than
    ``max_line`` bytes of the page would be left for the next call, the last
    line of the write is padded with spaces up to the boundary. JSON allows
    trailing whitespace, and the replay source parses each line with
    ``json.loads``, so padding changes no row.
    """
    buf: list[bytes] = []
    size = 0
    room = PAGE - offset % PAGE
    for i, line in enumerate(lines):
        buf.append(line)
        size += len(line)
        nxt = len(lines[i + 1]) if i + 1 < len(lines) else max_line
        if size + nxt <= room:
            continue
        if size < room:
            buf[-1] = buf[-1][:-1] + b" " * (room - size) + b"\n"
            size = room
        os.write(fd, b"".join(buf))
        offset += size
        buf, size, room = [], 0, PAGE
    if buf:
        os.write(fd, b"".join(buf))
        offset += size
    return offset


def tail_schedule(seed: int, rate: int, seconds: float, burst_lines: int,
                  shape: FeedShape = FeedShape()) -> tuple[Feed, np.ndarray]:
    """The live-tail feed and each line's due time in seconds from the
    generator's start: change rows evenly at ``rate`` per second, and a
    resolved row at every whole second. ``burst_lines`` more lines follow,
    due never: the generator leaves them to the backlog drain."""
    n_changes = int(rate * seconds)
    shape = FeedShape(shape.tables, shape.table_weights, shape.keys_per_table, shape.zipf_a,
                      resolved_every=rate + 1)
    n_sched = n_changes + n_changes // rate
    feed = make_feed(seed, n_sched + burst_lines, shape)
    due = np.full(len(feed), np.inf)
    changes = feed.table[:n_sched] >= 0
    due[:n_sched][changes] = np.arange(int(changes.sum())) / rate
    due[:n_sched][~changes] = np.arange(1, int((~changes).sum()) + 1, dtype=float)
    return feed, due


def tail_main(argv: list[str]) -> None:
    """Live-tail generator: ``feeds.py tail <feed> <seed> <rate> <seconds>
    <burst_lines> <tick_s>``.

    Formats every scheduled line, then prints its start time ``t0`` (wall
    clock) on a line of its own. From then on, once per tick, every line
    whose due time has passed is appended. Ends with one JSON line: how
    late each tick's write finished after the tick was due."""
    path, seed, rate, seconds, burst, tick = (
        argv[0], int(argv[1]), int(argv[2]), float(argv[3]), int(argv[4]), float(argv[5]))
    feed, due = tail_schedule(seed, rate, seconds, burst)
    n_sched = int(np.isfinite(due).sum())
    lines = feed.lines(0, n_sched)
    max_line = max(len(line) for line in lines)
    fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    offset = os.fstat(fd).st_size
    lateness = []
    i = k = 0
    t0 = time.time() + 0.05
    print(repr(t0), flush=True)
    try:
        while i < len(lines):
            tick_due = t0 + k * tick
            now = time.time()
            if now < tick_due:
                time.sleep(tick_due - now)
            j = int(np.searchsorted(due[:n_sched], tick_due - t0, side="right"))
            if j > i:
                offset = append_whole_lines(fd, offset, lines[i:j], max_line)
                lateness.append(time.time() - tick_due)
                i = j
            k += 1
    finally:
        os.close(fd)
    late = np.array(lateness) * 1000.0
    print(json.dumps({
        "ticks": len(lateness),
        "late_p50_ms": float(np.percentile(late, 50)),
        "late_p99_ms": float(np.percentile(late, 99)),
        "late_max_ms": float(late.max()),
    }), flush=True)


if __name__ == "__main__":
    if len(sys.argv) != 8 or sys.argv[1] != "tail":
        sys.exit("usage: feeds.py tail <feed> <seed> <rate> <seconds> <burst_lines> <tick_s>")
    tail_main(sys.argv[2:])
