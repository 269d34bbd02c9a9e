"""Custom PySpark streaming data source for CockroachDB core changefeeds
(Spark 4 Python data source API), short name ``crdb_changefeed``.

Reference semantics reproduced:
- query construction (src/main.rs:108-123):
  ``EXPERIMENTAL CHANGEFEED FOR {table} WITH resolved = '{freq}'[, cursor =
  '{ts}']`` — the entire scan+filter is pushed into CockroachDB; the offset
  (resolved HLC timestamp) is the only state.
- offset bootstrap (src/main.rs:136-148): no stored cursor -> changefeed
  starts from "now"; stored cursor -> resume.
- GC-threshold fallback (src/main.rs:188-203): when the database reports
  ``batch timestamp ... must be after replica GC threshold ...``, the cursor
  is too old; restart WITHOUT a cursor (skip to now, data loss accepted,
  logged loudly). Any other error is fatal (process exit in the reference;
  query failure here).

Because no live CockroachDB exists in this environment, the connection layer
is pluggable: ``JsonlReplayConnection`` replays changefeed-shaped rows from
a JSONL file (used by tests and the local bench); ``CrdbConnection`` holds
the psycopg wiring (import-gated).

Offsets: ``{"pos": <rows consumed>, "resolved": <last HLC ts or None>}``.
``pos`` makes the replay deterministic; a real changefeed uses ``resolved``
only (pos carries across restarts via Spark's offset log either way).
"""

from __future__ import annotations

import bisect
import json
import os
import pickle
import re
from dataclasses import dataclass
from enum import Enum
from typing import Iterator, Protocol

from pyspark.sql import DataFrame
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from crdb_changefeed_publisher_spark.operators.changefeed import CHANGEFEED_WIRE_SCHEMA

# src/main.rs:188-203 — CRDB's "cursor older than GC window" message.
GC_THRESHOLD_RE = re.compile(
    r"^batch timestamp [0-9.,]* must be after replica GC threshold [0-9.,]*$"
)


class RetryReason(Enum):
    NONE = "none"
    INVALID_CURSOR = "invalid_cursor"


def should_retry(error_message: str) -> RetryReason:
    """Parity with src/main.rs:188-203: retry (cursor-less) only on the GC
    threshold error; everything else is fatal."""
    if GC_THRESHOLD_RE.match(error_message.strip()):
        return RetryReason.INVALID_CURSOR
    return RetryReason.NONE


def build_changefeed_query(table: str, frequency: str, cursor: str | None = None) -> str:
    """Parity with src/main.rs:108-123."""
    query = f"EXPERIMENTAL CHANGEFEED FOR {table} WITH resolved = '{frequency}'"
    if cursor is not None:
        query += f", cursor = '{cursor}'"
    return query


class GcThresholdError(RuntimeError):
    """Raised by a connection when the requested cursor predates the GC
    threshold (replays CRDB's error string)."""


@dataclass
class WireRow:
    table: str | None
    key: bytes | None
    value: bytes


class ChangefeedConnection(Protocol):
    """One logical changefeed subscription."""

    def fetch(self, pos: int, cursor: str | None, limit: int) -> list[WireRow]:
        """Return up to `limit` rows starting at `pos` (replay) / after
        `cursor` (live). Raises GcThresholdError when cursor is too old."""
        ...


# One byte offset is indexed per INDEX_STRIDE lines: O(lines / stride) driver
# memory (a 100M-line feed keeps ~400k offsets, not 100M), and a seek to any
# indexed line skips at most INDEX_STRIDE - 1 lines from the nearest offset.
INDEX_STRIDE = 256


class LineIndex:
    """Strided byte-offset index of a line-oriented feed file, shared by
    both replay readers. It covers the file's first `n_lines` lines, which
    end at `end_byte` (the frontier); `stride_bytes[j]` is the byte offset
    of line `j * stride`. Appended lines are indexed by `scan` without
    invalidating earlier offsets. `lines_read` counts the lines `scan` and
    `seek` pull off disk, and the replay connection adds the lines it reads
    behind the frontier."""

    def __init__(self) -> None:
        self.stride = INDEX_STRIDE
        self.stride_bytes: list[int] = [0]
        self.n_lines = 0
        self.end_byte = 0
        self.lines_read = 0

    def scan(self, f, limit: int | None = None, out: list[bytes] | None = None) -> None:
        """Index up to `limit` lines past the frontier (all, if None),
        appending them to `out` if given; stops early at EOF. A trailing
        line without a newline still counts: replay feeds are written a
        whole line at a time."""
        f.seek(self.end_byte)
        readline, stride, marks = f.readline, self.stride, self.stride_bytes
        n = start = self.n_lines
        stop = -1 if limit is None else n + limit
        while n != stop:
            line = readline()
            if not line:
                break
            n += 1
            if out is not None:
                out.append(line)
            if n % stride == 0:
                marks.append(f.tell())
        self.end_byte = f.tell()
        self.n_lines = n
        self.lines_read += n - start

    def seek(self, f, line: int) -> int:
        """Position `f` at the start of line `line` and return that byte
        offset; a line past the frontier is reached by `scan`, which stops
        at EOF if the file is shorter."""
        if line >= self.n_lines:
            self.scan(f, line - self.n_lines)
            return self.end_byte
        j = line // self.stride
        f.seek(self.stride_bytes[j])
        for _ in range(j * self.stride, line):
            f.readline()
        self.lines_read += line - j * self.stride
        return f.tell()

    def first_line_at(self, f, target: int) -> tuple[int, int]:
        """(line, byte offset) of the first indexed line that starts at or
        after byte `target` (the frontier if none): bisect the stride
        offsets, then walk at most one stride of lines."""
        j = bisect.bisect_right(self.stride_bytes, target) - 1
        line, off = j * self.stride, self.stride_bytes[j]
        f.seek(off)
        while off < target and line < self.n_lines:
            off += len(f.readline())
            line += 1
        return line, off


class JsonlReplayConnection:
    """Replays changefeed rows from a JSONL file of ``[table, key, value]``
    triples (null table/key => resolved row). The test/bench double for a
    live changefeed; also how recorded changefeeds can be (re)processed.

    A `LineIndex` records the byte offset of every INDEX_STRIDE-th line the
    fetches walk past, so the steady-state sequential fetch pattern (pos 0,
    then 1000, then 2000, ...) continues from the index frontier instead of
    rescanning the file head: O(batch) per micro-batch, O(n) over a long
    recorded feed instead of O(n^2). A fetch behind the frontier skips at
    most INDEX_STRIDE - 1 lines from the nearest indexed offset. The reader
    instance lives on the driver across micro-batches
    (SimpleDataSourceStreamReader), so the index survives the whole run."""

    def __init__(self, path: str, gc_floor: int = 0) -> None:
        self.path = path
        # rows below this position are "garbage collected": fetching from
        # before the floor raises the CRDB GC error (for fallback tests)
        self.gc_floor = gc_floor
        self.index = LineIndex()

    @property
    def lines_scanned(self) -> int:
        """Total lines pulled off disk (skips + consumed); tests assert this
        stays O(rows), not O(batches * rows)."""
        return self.index.lines_read

    def fetch(self, pos: int, cursor: str | None, limit: int) -> list[WireRow]:
        if pos < self.gc_floor:
            raise GcThresholdError(
                f"batch timestamp {cursor or '0.0'} must be after replica GC threshold 1.0"
            )
        idx = self.index
        with open(self.path, "rb") as f:
            idx.seek(f, pos)
            if idx.n_lines < pos:
                return []
            # lines already indexed, then the rest indexed on the way
            lines = [f.readline() for _ in range(min(limit, idx.n_lines - pos))]
            idx.lines_read += len(lines)
            if len(lines) < limit:
                idx.scan(f, limit - len(lines), lines)
        out = []
        for line in lines:
            t, k, v = json.loads(line)
            out.append(WireRow(t, k.encode() if k is not None else None, v.encode()))
        return out


class CrdbConnection:
    """Live changefeed over the Postgres wire protocol. Requires psycopg and
    a reachable CockroachDB (DATABASE_URL) — not bundled in this
    environment, so the constructor gates on the import."""

    def __init__(self, database_url: str, table: str, frequency: str) -> None:
        try:
            import psycopg  # type: ignore[import-not-found]  # noqa: F401
        except ImportError as e:  # pragma: no cover
            raise RuntimeError("psycopg is required for a live CRDB changefeed") from e
        self.database_url = database_url
        self.table = table
        self.frequency = frequency

    def fetch(self, pos: int, cursor: str | None, limit: int) -> list[WireRow]:  # pragma: no cover
        import psycopg

        query = build_changefeed_query(self.table, self.frequency, cursor)
        out: list[WireRow] = []
        with psycopg.connect(self.database_url) as conn, conn.cursor() as cur:
            try:
                cur.execute(query)
                for row in cur:
                    out.append(WireRow(row[0], row[1], row[2]))
                    if len(out) >= limit:
                        break
            except psycopg.errors.Error as e:
                if should_retry(str(e)) is RetryReason.INVALID_CURSOR:
                    raise GcThresholdError(str(e)) from e
                raise
        return out


class ChangefeedSimpleStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        replay = options.get("replay")
        if replay:
            self.conn: ChangefeedConnection = JsonlReplayConnection(
                replay, gc_floor=int(options.get("gc_floor", "0") or 0)
            )
        else:
            self.conn = CrdbConnection(
                options.get("database_url") or "",
                options.get("table", ""),
                options.get("cursor_frequency", "10s"),
            )
        self.batch_limit = int(options.get("batch_limit", "10000") or 10000)

    def initialOffset(self) -> dict:
        # reference: no cursor stored -> start from now (main.rs:118-120);
        # for replay, "now" is position 0 of the recording.
        return {"pos": 0, "resolved": None}

    def _fetch(self, start: dict, limit: int) -> tuple[list[WireRow], int]:
        """Fetch up to `limit` rows; returns (rows, effective_start).

        `effective_start` is the position the rows actually begin at — equal
        to `start["pos"]` normally, but advanced to the GC floor after a
        fallback, so callers can compute the end offset from where the fetch
        really started (otherwise fallback batches would be replayed twice)."""
        try:
            return self.conn.fetch(start["pos"], start.get("resolved"), limit), start["pos"]
        except GcThresholdError as e:
            # main.rs:175 (ignore_cursor): fall back to a cursor-less scan —
            # skip to "now", accept the gap, log loudly.
            import logging

            logging.getLogger(__name__).warning(
                "changefeed cursor invalid (%s); restarting without cursor "
                "(data between cursor and now is lost, reference parity)",
                e,
            )
            if isinstance(self.conn, JsonlReplayConnection):
                floor = self.conn.gc_floor
                return self.conn.fetch(floor, None, limit), floor
            return self.conn.fetch(0, None, limit), 0

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        rows, effective_start = self._fetch(start, self.batch_limit)
        resolved = start.get("resolved")
        for r in rows:
            if r.table is None and r.key is None:
                try:
                    resolved = json.loads(r.value)["resolved"]
                except (json.JSONDecodeError, KeyError):
                    pass
        end = {"pos": effective_start + len(rows), "resolved": resolved}
        return iter([(r.table, r.key, r.value) for r in rows]), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        rows, effective_start = self._fetch(start, end["pos"] - start["pos"])
        # After a fallback, rows begin at the GC floor, not start['pos'];
        # never hand Spark more rows than the committed offset range.
        rows = rows[: max(end["pos"] - effective_start, 0)]
        return iter([(r.table, r.key, r.value) for r in rows])

    def commit(self, end: dict) -> None:
        # Spark's commit log is the durable cursor (cursors.rs:45-57 analog);
        # nothing to do source-side.
        pass


@dataclass
class FeedRangePartition(InputPartition):
    """A contiguous line range of the recorded feed, with the byte offsets
    of its first line and of the line after its last, so the executor seeks
    straight there and the planner knows its size. Picklable (ships
    driver -> executor)."""

    path: str
    start_line: int
    end_line: int
    start_byte: int
    end_byte: int


def planned_feed_ranges(df: DataFrame) -> list[FeedRangePartition] | None:
    """The `FeedRangePartition`s `df` scans (the partitioned reader's epoch,
    planned before any row is read), or None when its scan is not feed
    ranges. Follows the planned RDD's first parents down to the scan and
    unpickles the Python input partitions it finds there; plans only,
    starts no job."""
    rdd = df._jdf.queryExecution().toRdd()
    while rdd.dependencies().size():
        rdd = rdd.dependencies().apply(0).rdd()
    ranges = []
    for part in rdd.partitions():
        if part.getClass().getSimpleName() != "DataSourceRDDPartition":
            return None
        inputs = part.inputPartitions()
        for ip in (inputs.apply(i) for i in range(inputs.size())):
            p = ip.getClass().getSimpleName().startswith("Python") and pickle.loads(
                bytes(ip.pickedPartition()))
            if not isinstance(p, FeedRangePartition):
                return None
            ranges.append(p)
    return ranges or None


class ChangefeedPartitionedStreamReader(DataSourceStreamReader):
    """Executor-parallel replay reader — the SCALE path for recorded feeds.

    The simple reader (`ChangefeedSimpleStreamReader`) routes every row
    through the driver (that is the simple API's contract) and mirrors the
    reference's one-connection serial scan (src/main.rs:211-213). This
    reader instead plans each micro-batch as `read_partitions` line ranges;
    the driver maintains only a byte-offset line index, and EXECUTORS open
    the feed and read their ranges directly — rows never touch the driver.
    Feed order is recoverable downstream because partitions are planned in
    feed order (Spark's input-partition index is the list position, so the
    publish path's (key, _seq) sort reproduces per-key order exactly as in
    the simple-reader path).

    GC-threshold parity: a batch start below `gc_floor` is clamped to the
    floor — the pre-floor rows are lost, loudly, exactly like the
    reference's ignore_cursor fallback (src/main.rs:175).

    Offsets are {"pos": <line count>}; by default each micro-batch claims
    ALL lines available at planning time. `epoch_rows` caps the rows
    ADMITTED per micro-batch (the maxOffsetsPerTrigger analog the Python
    stream API lacks a ReadLimit hook for): latestOffset returns at most
    epoch_rows past the high-water mark, the highest end offset Spark has
    planned through `partitions` in this run, or the initial offset 0 when
    it has planned none. The mark is never behind the checkpoint: on
    pyspark 4.1 a restarted query calls `partitions(c, c)`, c being the
    offset log's last end, before its first latestOffset (then re-plans an
    uncommitted batch, if any), while a clean start calls latestOffset
    before initialOffset with nothing planned. So every epoch is bounded,
    the first one of a clean start or a restart included, which bounds
    the at-least-once replay window and the per-epoch commit cost.
    `batch_limit` is a simple-reader option; it is ignored here.

    Driver memory: the `LineIndex` stores one byte offset per INDEX_STRIDE
    lines — O(lines/stride), not O(lines) — and that strided list is all
    that rides the pickled reader into executor tasks.

    Skew robustness: ranges are split by BYTES, not line counts. A feed
    whose line sizes are 100x skewed (a fat-value table next to a thin one)
    would produce a straggler partition under equal line counts; equal byte
    spans bound every task by I/O volume. Cut i of n is the first line that
    starts at or after the byte target `sb + span * i / n`, so each range's
    byte size is within one line of its share.
    """

    def __init__(self, options: dict) -> None:
        path = options.get("replay")
        if not path:
            raise ValueError(
                "partitioned mode requires a recorded feed: .option('replay', ...)"
            )
        self.path = path
        self.gc_floor = int(options.get("gc_floor", "0") or 0)
        # Default read parallelism tracks the machine (SPARK_GRAFT_CPUS is
        # the session convention, else os.cpu_count): stream_bench measured
        # the old fixed default of 4-8 ranges leaving a 32-core box ~4x
        # under-read (18.5k -> 66k rows/s at 32 ranges, 200k-row batches).
        default_parts = int(
            os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
        )
        self.n_parts = max(
            1, int(options.get("read_partitions", str(default_parts)) or default_parts)
        )
        # admission control: max lines per planned micro-batch (0 = all
        # available); see class docstring for the restart semantics
        self.epoch_rows = int(options.get("epoch_rows", "0") or 0)
        self._hwm = 0  # highest planned end offset (this run)
        self.index = LineIndex()

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        with open(self.path, "rb") as f:
            self.index.scan(f)
        n_lines = self.index.n_lines
        if self.epoch_rows > 0:
            return {"pos": min(n_lines, self._hwm + self.epoch_rows)}
        return {"pos": n_lines}

    def partitions(self, start: dict, end: dict):
        s, e = start["pos"], end["pos"]
        # high-water mark for epoch_rows admission: the next latestOffset
        # advances from this batch's planned end (monotone within a run;
        # a restart re-creates the reader, and Spark re-plans from its
        # checkpoint here before asking for the next latestOffset)
        self._hwm = max(self._hwm, e)
        if s < self.gc_floor:
            import logging

            logging.getLogger(__name__).warning(
                "changefeed cursor %s below GC floor %s; skipping to floor "
                "(data loss, reference parity)",
                s,
                self.gc_floor,
            )
            s = min(self.gc_floor, e)
        n = max(min(self.n_parts, e - s), 1)
        idx = self.index
        with open(self.path, "rb") as f:
            idx.scan(f)
            sb, eb = idx.seek(f, s), idx.seek(f, e)
            cuts = [(s, sb)]
            cuts += [idx.first_line_at(f, sb + (eb - sb) * i // n) for i in range(1, n)]
            cuts.append((e, eb))
        return [
            FeedRangePartition(self.path, lo[0], hi[0], lo[1], hi[1])
            for lo, hi in zip(cuts, cuts[1:])
        ]

    def read(self, partition: FeedRangePartition) -> Iterator[tuple]:
        with open(partition.path, "rb") as f:
            f.seek(partition.start_byte)
            for _ in range(partition.end_line - partition.start_line):
                line = f.readline()
                if not line:
                    break
                t, k, v = json.loads(line)
                yield (t, k.encode() if k is not None else None, v.encode())

    def commit(self, end: dict) -> None:
        pass


class CrdbChangefeedDataSource(DataSource):
    """spark.readStream.format("crdb_changefeed")
         .option("table", "foo")            # live mode (needs DATABASE_URL)
         .option("cursor_frequency", "10s")
         .option("replay", "/path/feed.jsonl")  # replay mode (tests/bench)
         .option("read_partitions", "8")

    Reader selection: a recorded feed gets the executor-parallel
    partitioned reader unless `batch_limit` is set (that knob only exists
    on the serial simple reader — setting it asks for driver-paced
    micro-batches). Live changefeeds are inherently one serial cursor
    (reference parity, src/main.rs:211-213) and always use the simple
    reader.
    """

    @classmethod
    def name(cls) -> str:
        return "crdb_changefeed"

    def schema(self) -> StructType:
        return CHANGEFEED_WIRE_SCHEMA

    def _use_partitioned(self) -> bool:
        return bool(self.options.get("replay")) and "batch_limit" not in self.options

    def streamReader(self, schema: StructType) -> ChangefeedPartitionedStreamReader:
        # raising NOT_IMPLEMENTED makes Spark fall back to simpleStreamReader()
        if self._use_partitioned():
            return ChangefeedPartitionedStreamReader(dict(self.options))
        from pyspark.errors import PySparkNotImplementedError

        raise PySparkNotImplementedError(
            errorClass="NOT_IMPLEMENTED", messageParameters={"feature": "streamReader"}
        )

    def simpleStreamReader(self, schema: StructType) -> ChangefeedSimpleStreamReader:
        return ChangefeedSimpleStreamReader(dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(CrdbChangefeedDataSource)
