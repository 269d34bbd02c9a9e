"""The two CDC workloads: a chunked catch-up drain (``cdc_backfill``) and an
open-loop live tail (``cdc_live_tail``).

Both drive the package's public entry points: the ``crdb_changefeed``
source, ``streaming.pipeline.run_pipeline`` (which builds its
``foreachBatch`` with ``make_foreach_batch``), the fan-out ``DirQueue``
publish and a ``FileCursorStore`` mirror. The benchmark sees the pipeline
through ``run_pipeline``'s ``on_batch``/``on_batch_timing`` hooks, the
query's progress reports and the status store. When traced it also times
``publish_batch`` and ``FileCursorStore.set`` by wrapping them from here.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from common import StatusStore, Verdict, batch_of, median
from feeds import (FeedShape, hlc, make_feed, order_violations, read_queue_files,
                   tail_schedule)

HERE = os.path.dirname(os.path.abspath(__file__))

# cdc_backfill: BACKFILL_CHUNKS timed chunks per phase, of CHUNK_LINES_PER_S
# x --seconds lines each, after warm-up chunks of the listed fractions of a
# chunk
BACKFILL_CHUNKS = 5
CHUNK_LINES_PER_S = 6_000
BACKFILL_WARMUP = (0.25, 0.5, 1.0)

# cdc_live_tail: offered load, generator tick, warm-up before the window,
# and the backlog drained after the open loop (in whole batch_limit epochs)
TAIL_RATE = 3_000
TAIL_TICK_S = 0.005
TAIL_WARMUP_S = 5.0
TAIL_BATCH_LIMIT = 10_000
TAIL_BURST_EPOCHS = 8
GENERATOR_LATE_LIMIT_MS = 250.0


def _file_sizes(root: str) -> dict[str, int]:
    sizes = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            sizes[p] = os.path.getsize(p)
    return sizes


@dataclass
class Tracer:
    """Benchmark-side timing of two pipeline calls. ``on`` switches it; while
    off, the wrapped calls go straight through."""

    out_dir: str = ""
    on: bool = False
    publish_s: list[float] = field(default_factory=list)
    files: list[int] = field(default_factory=list)  # queue files each publish wrote
    count_s: list[float] = field(default_factory=list)  # time spent counting them
    persist_s: list[float] = field(default_factory=list)
    mirrored: list[tuple[str, float]] = field(default_factory=list)  # (cursor, wall time)

    def install(self):
        """Wrap ``pipeline.publish_batch``; returns the undo function."""
        from crdb_changefeed_publisher_spark.streaming import pipeline

        original = pipeline.publish_batch

        def timed_publish(*args, **kwargs):
            if not self.on:
                return original(*args, **kwargs)
            c0 = time.perf_counter()
            before = _file_sizes(self.out_dir)
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                self.publish_s.append(t1 - t0)
                # each queue file a publish appends to is one open + one fsync
                after = _file_sizes(self.out_dir)
                self.files.append(sum(1 for p, n in after.items() if before.get(p) != n))
                self.count_s.append(t0 - c0 + time.perf_counter() - t1)

        pipeline.publish_batch = timed_publish
        return lambda: setattr(pipeline, "publish_batch", original)

    def cursor_store(self, path: str):
        from crdb_changefeed_publisher_spark.streaming.cursors import FileCursorStore

        tracer = self

        class TimedCursorStore(FileCursorStore):
            def set(self, cursor: str) -> None:
                if not tracer.on:
                    return super().set(cursor)
                t0 = time.perf_counter()
                super().set(cursor)
                tracer.persist_s.append(time.perf_counter() - t0)
                tracer.mirrored.append((cursor, time.time()))

        return TimedCursorStore(path)


class EpochLog:
    """What the driver-side hooks of ``run_pipeline`` see per epoch."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.end: dict[int, float] = {}
        self.body_s: dict[int, float] = {}
        self.publish_s: dict[int, float] = {}
        self.files: dict[int, int] = {}
        self.count_s: dict[int, float] = {}
        self._timed = 0

    def on_batch_timing(self, batch_id: int, start: float, end: float) -> None:
        self.body_s[batch_id] = end - start
        # a publish timed since the last epoch is this epoch's (none when
        # tracing switched on while the epoch ran)
        if len(self.tracer.publish_s) > self._timed:
            self._timed = len(self.tracer.publish_s)
            self.publish_s[batch_id] = self.tracer.publish_s[-1]
            self.files[batch_id] = self.tracer.files[-1]
            self.count_s[batch_id] = self.tracer.count_s[-1]

    def on_batch(self, batch_id: int, _sent: int, _resolved: list[str]) -> None:
        self.end[batch_id] = time.time()


_POS_RE = re.compile(r"pos\W*(\d+)")


def _pos(offset: str | None) -> int:
    return int(_POS_RE.search(offset).group(1)) if offset and offset != "None" else 0


def keep_progress(spark) -> None:
    """Keep every epoch's progress report for the run (Spark keeps 100)."""
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")


def progress_by_batch(query) -> dict[int, dict]:
    """The progress report of each batch that read rows, with its feed
    lines. (``numInputRows`` counts every scan of the batch, and the
    pipeline scans each batch more than once.)"""
    out = {}
    for p in query.recentProgress:
        if p.numInputRows > 0:
            start, end = _pos(p.sources[0].startOffset), _pos(p.sources[0].endOffset)
            out[p.batchId] = {"duration": dict(p.durationMs), "rows": end - start,
                              "end_pos": end}
    return out


def epoch_layers(store: StatusStore, query, progress: dict[int, dict],
                 epochs: list[int], log: EpochLog) -> dict:
    """Per-layer numbers of the streaming engine and the pipeline over
    ``epochs`` (batch ids), from progress reports and the status store."""
    def phase(name):
        return median(progress[b]["duration"].get(name, 0) for b in epochs)

    by_batch: dict[int, list] = {b: [] for b in epochs}
    for j in store.jobs(str(query.runId)):
        if batch_of(j) in by_batch:
            by_batch[batch_of(j)].append(j)
    stages = store.stages()
    per_epoch = [store.job_counts(by_batch[b], stages) for b in epochs]
    rows = sum(progress[b]["rows"] for b in epochs)
    traced = [b for b in epochs if b in log.publish_s]

    def count(name):  # median over epochs: an epoch without a resolved row runs fewer jobs
        return median(c[name] for c in per_epoch)

    def per_row(name):
        return sum(c[name] for c in per_epoch) / rows

    return {
        "sources.latest_offset_ms": phase("latestOffset"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.commit_offsets_ms": phase("commitOffsets"),
        "streaming.epochs": len(epochs),
        "pipeline.add_batch_ms": phase("addBatch"),
        "pipeline.publish_ms": median(log.publish_s[b] * 1000 for b in traced),
        "pipeline.cursor_pass_ms": median(
            (log.body_s[b] - log.publish_s[b] - log.count_s[b]) * 1000 for b in traced),
        "pipeline.jobs_per_epoch": count("jobs"),
        "pipeline.stages_per_epoch": count("stages"),
        "pipeline.tasks_per_epoch": count("tasks"),
        "pipeline.shuffle_write_bytes_per_row": per_row("shuffle_write_bytes"),
        "pipeline.executor_run_ms_per_krow": per_row("executor_run_ms") * 1000,
        "queues.files_per_epoch": median(log.files[b] for b in traced),
    }


def verify(feed, n_lines: int, out_dir: str, cursor_path: str) -> Verdict:
    """Check the published queue against the feed's first ``n_lines``.

    - every change row is published at least once;
    - every published line equals an independently formatted envelope;
    - per-key versions increase along each queue file;
    - the mirrored cursor equals the last resolved row written.
    """
    from crdb_changefeed_publisher_spark.streaming.cursors import FileCursorStore

    files = read_queue_files(out_dir)
    published = [line for lines in files.values() for line in lines]
    expected = set(feed.envelopes(0, n_lines))
    seen = set(published)
    missing = len(expected - seen)
    foreign = sum(1 for line in published if line not in expected)
    disorder = order_violations(files)
    mirror = FileCursorStore(cursor_path).get()
    cursor_bad = int(mirror != feed.last_resolved(n_lines))
    return Verdict(
        attempted=len(expected),
        failed=missing + foreign + disorder + cursor_bad,
        detail={"missing": missing, "foreign": foreign, "order_violations": disorder,
                "duplicates": len(published) - len(seen), "cursor_ok": not cursor_bad},
    )


# ------------------------------------------------------------ cdc_backfill


class Backfill:
    """Catch-up drain of a recorded multi-table feed, delivered in chunks.

    Each chunk appears at once (copy, append, rename), so the partitioned
    reader plans it as exactly one epoch; ``processAllAvailable`` drains it.
    With several phases the timed chunks take turns: chunk k after the
    warm-up belongs to phase ``k % phases``, so every phase spans the same
    stretch of the run.
    """

    name = "cdc_backfill"

    def __init__(self, work: str, seed: int, seconds: int, phases: int = 1,
                 scale: float = 1.0) -> None:
        self.work = work
        self.chunk = max(1000, int(CHUNK_LINES_PER_S * seconds * scale))
        warm = [max(1000, int(self.chunk * f)) for f in BACKFILL_WARMUP]
        self.sizes = warm + [self.chunk] * (BACKFILL_CHUNKS * phases)
        self.n_warm = len(warm)
        self.phases = phases
        self.feed = make_feed(seed, sum(self.sizes), FeedShape())

    def inputs(self) -> None:
        """Write each chunk to its own file (untimed)."""
        os.makedirs(self.work, exist_ok=True)
        lo = 0
        for i, n in enumerate(self.sizes):
            self.feed.write(os.path.join(self.work, f"chunk-{i:03d}.jsonl"), lo, lo + n)
            lo += n

    def run(self, spark, tracer: Tracer, traced_phase: int | None = None, rss=None) -> dict:
        """Drain every chunk. Tracing is on during the chunks of
        ``traced_phase``."""
        w = self.work
        feed_path = os.path.join(w, "feed.jsonl")
        open(feed_path, "wb").close()
        out_dir, cursor_path = os.path.join(w, "out"), os.path.join(w, "cursor.json")
        from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline

        tracer.out_dir = out_dir
        log = EpochLog(tracer)
        keep_progress(spark)
        stream = spark.readStream.format("crdb_changefeed").option("replay", feed_path).load()
        query = run_pipeline(stream, out_dir, os.path.join(w, "ckpt"),
                             cursor_store=tracer.cursor_store(cursor_path),
                             fan_out_tables=True, on_batch=log.on_batch,
                             on_batch_timing=log.on_batch_timing)
        chunks = []  # (phase, rows, delivered, drained)
        try:
            for i, n in enumerate(self.sizes):
                phase = -1 if i < self.n_warm else (i - self.n_warm) % self.phases
                tracer.on = phase == traced_phase
                tmp = feed_path + ".next"
                shutil.copyfile(feed_path, tmp)
                with open(tmp, "ab") as dst, open(os.path.join(w, f"chunk-{i:03d}.jsonl"), "rb") as src:
                    shutil.copyfileobj(src, dst)
                t0 = time.time()
                os.replace(tmp, feed_path)
                query.processAllAvailable()
                chunks.append((phase, n, t0, time.time()))
        finally:
            tracer.on = False
            query.stop()
        return {"query": query, "chunks": chunks, "log": log,
                "out_dir": out_dir, "cursor_path": cursor_path}

    def summarize(self, r: dict, phase: int) -> dict:
        """End-to-end numbers of one phase of timed chunks."""
        progress = progress_by_batch(r["query"])
        ends = r["log"].end
        # batch ids in delivery order: one epoch per chunk
        order = sorted(progress)
        if len(order) != len(r["chunks"]):
            raise RuntimeError(f"{len(r['chunks'])} chunks ran as {len(order)} epochs")
        rates, lat, epochs = [], [], []
        lo = 0
        for (ph, n, t0, t1), b in zip(r["chunks"], order):
            changes = self.feed.n_changes(lo, lo + n)
            lo += n
            if ph == phase:
                rates.append(changes / (t1 - t0))
                lat.append((ends[b] - t0) * 1000)
                epochs.append(b)
        return {"ops_per_s": median(rates), "latency_p50_ms": median(lat),
                "chunk_rows_per_s": [round(x) for x in rates],
                "epochs": epochs, "progress": progress}

    def layers(self, spark, r: dict, s: dict, tracer: Tracer) -> dict:
        out = epoch_layers(StatusStore(spark), r["query"], s["progress"], s["epochs"], r["log"])
        out["cursors.persist_ms"] = median(x * 1000 for x in tracer.persist_s)
        # resolved lag: chunk delivery to the mirror holding its last resolved row
        delivered = {}
        lo = 0
        for _, n, t0, _ in r["chunks"]:
            delivered[self.feed.last_resolved(lo + n)] = t0
            lo += n
        lags = [(t - delivered[c]) * 1000 for c, t in tracer.mirrored if c in delivered]
        out["cursors.resolved_lag_ms"] = median(lags)
        return out

    def verify(self, r: dict) -> Verdict:
        return verify(self.feed, len(self.feed), r["out_dir"], r["cursor_path"])


# ----------------------------------------------------------- cdc_live_tail


class LiveTail:
    """Open loop: a generator process appends lines at TAIL_RATE while the
    pipeline reads them with the simple (driver-fetch) reader under the
    default trigger. An event's latency runs from its due time to the end of
    the ``foreachBatch`` that published it.

    After the loop, a backlog of TAIL_BURST_EPOCHS x TAIL_BATCH_LIMIT lines
    appears at once (copy, append, rename) and the same query drains it in
    that many full epochs: how fast the tail catches up after a stall. In
    the open loop the publish rate is the offered load whenever the
    pipeline keeps up; the drain's rate is set by the pipeline."""

    name = "cdc_live_tail"

    def __init__(self, work: str, seed: int, seconds: int, phases: int = 1) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.duration = TAIL_WARMUP_S + seconds * phases + 1.0
        self.burst = TAIL_BURST_EPOCHS * TAIL_BATCH_LIMIT
        self.feed, self.due = tail_schedule(seed, TAIL_RATE, self.duration, self.burst)
        self.n_sched = len(self.feed) - self.burst

    def inputs(self) -> None:
        """The generator process formats the loop's lines; the backlog is
        written here (untimed)."""
        os.makedirs(self.work, exist_ok=True)
        self.feed.write(os.path.join(self.work, "backlog.jsonl"), self.n_sched)

    def prewarm(self, spark, tracer: Tracer) -> None:
        """An untimed drain of the same code path before the open loop, so
        the loop does not start behind a cold session's backlog."""
        from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline

        w = os.path.join(self.work, "prewarm")
        os.makedirs(w)
        warm = make_feed(self.seed + 1, 4 * TAIL_RATE, FeedShape(resolved_every=TAIL_RATE + 1))
        warm.write(os.path.join(w, "feed.jsonl"))
        stream = (spark.readStream.format("crdb_changefeed")
                  .option("replay", os.path.join(w, "feed.jsonl"))
                  .option("batch_limit", str(TAIL_RATE)).load())
        run_pipeline(stream, os.path.join(w, "out"), os.path.join(w, "ckpt"),
                     cursor_store=tracer.cursor_store(os.path.join(w, "cursor.json")),
                     fan_out_tables=True, drain_all=True)

    def run(self, spark, tracer: Tracer, traced_phase: int | None = None, rss=None) -> dict:
        from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline

        self.prewarm(spark, tracer)
        w = self.work
        feed_path = os.path.join(w, "feed.jsonl")
        open(feed_path, "wb").close()
        out_dir, cursor_path = os.path.join(w, "out"), os.path.join(w, "cursor.json")
        tracer.out_dir = out_dir
        log = EpochLog(tracer)
        keep_progress(spark)
        stream = (spark.readStream.format("crdb_changefeed").option("replay", feed_path)
                  .option("batch_limit", str(TAIL_BATCH_LIMIT)).load())
        query = run_pipeline(stream, out_dir, os.path.join(w, "ckpt"),
                             cursor_store=tracer.cursor_store(cursor_path),
                             fan_out_tables=True, on_batch=log.on_batch,
                             on_batch_timing=log.on_batch_timing)
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "feeds.py"), "tail", feed_path, str(self.seed),
             str(TAIL_RATE), str(self.duration), str(self.burst), str(TAIL_TICK_S)],
            stdout=subprocess.PIPE, text=True)
        if rss is not None:
            rss.exclude.add(gen.pid)
        try:
            t0 = float(gen.stdout.readline())  # the generator's start, once its lines are ready
            if traced_phase is not None:
                switch = t0 + TAIL_WARMUP_S + self.seconds * traced_phase
                while gen.poll() is None and not tracer.on:
                    if time.time() >= switch:
                        tracer.on = True
                    time.sleep(0.05)
            out, _ = gen.communicate(timeout=self.duration + 60)
            if gen.returncode != 0:
                raise RuntimeError(f"tail generator exited with {gen.returncode}")
            query.processAllAvailable()
            # the backlog
            tmp = feed_path + ".next"
            shutil.copyfile(feed_path, tmp)
            with open(tmp, "ab") as dst, open(os.path.join(w, "backlog.jsonl"), "rb") as src:
                shutil.copyfileobj(src, dst)
            burst_t0 = time.time()
            os.replace(tmp, feed_path)
            query.processAllAvailable()
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
            tracer.on = False
            query.stop()
        return {"query": query, "t0": t0, "gen": json.loads(out.strip().splitlines()[-1]),
                "burst_t0": burst_t0, "log": log, "out_dir": out_dir, "cursor_path": cursor_path}

    def drain_rates(self, r: dict, progress: dict[int, dict]) -> list[float]:
        """Change rows per second of each backlog epoch, from the previous
        epoch's end (the backlog's arrival for the first) to its own."""
        ends = r["log"].end
        prev, rates = r["burst_t0"], []
        for b in sorted(b for b in progress if progress[b]["end_pos"] > self.n_sched):
            end_pos = progress[b]["end_pos"]
            rows = self.feed.n_changes(end_pos - progress[b]["rows"], end_pos)
            rates.append(rows / (ends[b] - prev))
            prev = ends[b]
        if len(rates) != TAIL_BURST_EPOCHS:
            raise RuntimeError(f"the backlog ran as {len(rates)} epochs, not {TAIL_BURST_EPOCHS}")
        return rates

    def summarize(self, r: dict, phase: int) -> dict:
        """Event latencies of the changes due in phase ``phase``'s window,
        and the backlog drain's rate."""
        progress = progress_by_batch(r["query"])
        ends = r["log"].end
        batches = sorted(progress)
        bounds = np.array([progress[b]["end_pos"] for b in batches])
        lo_s = TAIL_WARMUP_S + self.seconds * phase
        window = np.flatnonzero((self.due >= lo_s) & (self.due < lo_s + self.seconds)
                                & (self.feed.table >= 0))
        # line i is in the first batch whose end offset exceeds i
        which = np.searchsorted(bounds, window, side="right")
        end_t = np.array([ends[batches[k]] for k in which])
        lat = (end_t - (r["t0"] + self.due[window])) * 1000.0
        pct = {q: float(np.percentile(lat, q)) for q in (50, 75, 90)}
        epochs = sorted({batches[k] for k in which})
        # how many epochs hold an event beyond each tail percentile
        beyond = {q: len({batches[k] for k, x in zip(which, lat) if x > pct[q]})
                  for q in (75, 90)}
        rates = self.drain_rates(r, progress)
        return {"ops_per_s": median(rates), "drain_rows_per_s": [round(x) for x in rates],
                "latency_p50_ms": pct[50], "latency_p75_ms": pct[75],
                "latency_p90_ms": pct[90], "epochs": epochs, "epochs_beyond": beyond,
                "progress": progress}

    def layers(self, spark, r: dict, s: dict, tracer: Tracer) -> dict:
        out = epoch_layers(StatusStore(spark), r["query"], s["progress"], s["epochs"], r["log"])
        out["cursors.persist_ms"] = median(x * 1000 for x in tracer.persist_s)
        # the j-th resolved row carries hlc(j); the backlog's are never due
        due_of = {hlc(j): r["t0"] + self.due[i]
                  for j, i in enumerate(np.flatnonzero(self.feed.table < 0))
                  if np.isfinite(self.due[i])}
        out["cursors.resolved_lag_ms"] = median(
            (t - due_of[c]) * 1000 for c, t in tracer.mirrored if c in due_of)
        return out

    def verify(self, r: dict) -> Verdict:
        v = verify(self.feed, len(self.feed), r["out_dir"], r["cursor_path"])
        late = r["gen"]["late_p99_ms"]
        v.detail["generator_late_p99_ms"] = late
        if late > GENERATOR_LATE_LIMIT_MS:
            # the offered load was not the scheduled one: the run is invalid
            v.detail["generator_lagged"] = True
            v.failed += 1
        return v
