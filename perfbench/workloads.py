"""The benchmark's workloads: set-up, the timed closed loop, and checks.

Both workloads are a closed loop with a single client.  A round is one
write (an lsn epoch, or a streaming micro-batch) followed by pairs of
lookups (1 key, 64 keys) interleaved with three reads of the changes
feed, all pinned to the version the write committed.  Only the write
and the reads are timed; the state the reads are checked against is
collected between them, outside the timers.
A round starts only if, at the pace of the previous one, it ends inside
the timed window, so a run never overshoots ``--seconds`` by a round.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.inputs import EVENT_SCHEMA, TABLE_SCHEMA, LogShape

KEY = ["url"]
ORDER = ["warc_ts", "lsn"]
# keys per lookup in a round: a point lookup and a 64-key batch
LOOKUP_SIZES = (1, 64)
# changes-feed reads per round, all of the same two versions: the first
# read of a new version is the slowest, the median of three skips it
FEED_READS = 3


@dataclass
class Loop:
    """What one timed loop measured."""

    epochs: list[float] = field(default_factory=list)  # write wall per epoch
    events: int = 0  # events applied in the timed loop
    lookups: list[float] = field(default_factory=list)
    feeds: list[float] = field(default_factory=list)
    rounds: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # traced rounds only
    reports: list = field(default_factory=list)  # EpochReports
    lookup_plan: list[float] = field(default_factory=list)
    lookup_exec: list[float] = field(default_factory=list)
    files_read: list[int] = field(default_factory=list)
    files_in_buckets: list[int] = field(default_factory=list)
    trigger_overhead: list[float] = field(default_factory=list)
    trace_overhead: list[float] = field(default_factory=list)  # tracer's own wall per round
    # whole loop
    bytes_added: int = 0
    meta_bytes_per_commit: float = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


def _md5(b) -> str | None:
    return None if b is None else hashlib.md5(bytes(b)).hexdigest()


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
    return total


class Workload:
    """What both workloads share: inputs, per-version state, reads, checks."""

    name = ""
    shape: LogShape
    # the workloads' shapes have 5k urls, not 20k, to fit the run budget
    # (perfbench/README.md, "Budget")
    epoch_events = 10_000
    n_buckets = 16
    with_text = False
    # lookup pairs per round, interleaved with the feed reads
    lookup_pairs = 1
    # set-up's warm-up reads: (lookups, feed reads).  A read path keeps
    # getting faster over its first several calls as the JVM compiles
    # it, so one warm-up call leaves the timed reads on that slope
    warm = (1, 1)

    def __init__(self, work: str, seed: int, seconds: float, cores: int):
        self.spark = None
        self.tracer = None
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.pick_rng = np.random.default_rng([seed, 7])
        # one epoch per four seconds of the window: a round (one epoch and
        # its reads) takes over 10 s today, so the log runs out only for a
        # program several times faster
        self.max_epochs = int(seconds) // 4 + 2
        self.table = None
        self.loop = Loop()

    # ------------------------------------------------------------ inputs

    def _log(self) -> pa.Table:
        rng = np.random.default_rng(self.seed)
        n = self.shape.n_urls
        first = inputs.initial_load(rng, self.shape)
        rest = inputs.changes(rng, n, (self.max_epochs + 1) * self.epoch_events, self.shape)
        log = pa.concat_tables([first, rest])
        # url id per lsn, for picking "just written" keys
        self.url_ids = np.array(
            [int(u.rsplit("/", 1)[1]) for u in log.column("url").to_pylist()]
        )
        return log

    def _epoch(self, i: int) -> tuple[int, int]:
        """lsn range of change epoch ``i`` (epoch 0 runs in set-up)."""
        lo = self.shape.n_urls + i * self.epoch_events
        return lo, lo + self.epoch_events - 1

    # ------------------------------------------------------------- state

    def _projection(self):
        cols = [F.col("url"), F.col("lsn"), F.col("warc_ts"), F.col("lang"), F.md5("html")]
        if self.with_text:
            cols.append(F.md5(F.encode("text", "UTF-8")))
        return cols

    def _row(self, r) -> tuple:
        t = (r["url"], r["lsn"], r["warc_ts"], r["lang"], _md5(r["html"]))
        if self.with_text:
            t += (_md5(None if r["text"] is None else r["text"].encode()),)
        return t

    def state_at(self, version: int) -> dict[str, tuple]:
        rows = self.table.read(version=version).select(*self._projection()).collect()
        return {r[0]: tuple(r) for r in rows}

    # ------------------------------------------------------------- rounds

    def _pick_keys(self, lo: int, hi: int, k: int) -> list[str]:
        """Half the keys (rounded down) from the epoch just written, the
        rest skewed towards low url ids (the hot url is id 0).  A point
        lookup thus mostly asks for a key the latest delta lacks, which a
        Bloom sidecar can prune; a 64-key batch hits every bucket's delta."""
        n = self.shape.n_urls
        fresh = self.pick_rng.choice(self.url_ids[lo : hi + 1], size=k // 2)
        skewed = (n * self.pick_rng.random(k - k // 2) ** 3).astype(np.int64)
        return [inputs.url_of(int(i)) for i in np.concatenate([fresh, skewed])]

    def reads(self, version: int, prev: int, state, prev_state, lo: int, hi: int) -> None:
        """The round's lookup pairs interleaved with its changes-feed
        reads, all at ``version``.  Each result is checked against the
        same snapshot's read()."""
        for i in range(max(self.lookup_pairs, FEED_READS)):
            if i < self.lookup_pairs:
                for size in LOOKUP_SIZES:
                    self._lookup(version, state, self._pick_keys(lo, hi, size), stats=i == 0)
            if i < FEED_READS:
                self._feed(version, prev, state, prev_state)

    def _lookup(self, version: int, state, keys: list[str], stats: bool) -> None:
        loop = self.loop
        t0 = time.monotonic()
        df = self.table.lookup(keys, version=version)
        t1 = time.monotonic()
        rows = df.collect()
        t2 = time.monotonic()
        loop.attempted += 1
        loop.lookups.append(t2 - t0)
        got = sorted(self._row(r) for r in rows)
        want = sorted(state[k] for k in set(keys) if k in state)
        if got != want:
            loop.fail(f"lookup v{version} {len(keys)} keys: {len(got)} rows, want {len(want)}")
        if self._traced():
            loop.lookup_plan.append(t1 - t0)
            loop.lookup_exec.append(t2 - t1)
            if stats:  # the round's first pair: later pairs plan alike
                self._bloom_stats(df, keys, version)

    def _feed(self, version: int, prev: int, state, prev_state) -> None:
        loop = self.loop
        t0 = time.monotonic()
        rows = self.table.read_changes(prev, version).collect()
        loop.feeds.append(time.monotonic() - t0)
        loop.attempted += 1
        bad = self._check_feed(rows, state, prev_state)
        if bad:
            loop.fail(f"feed v{prev}->v{version}: {bad}")

    def _check_feed(self, rows, state, prev_state) -> str | None:
        ups: dict[str, tuple] = {}
        dels: set[str] = set()
        for r in rows:
            if r["change_type"] == "upsert":
                if r["url"] in ups:
                    return f"duplicate upsert {r['url']}"
                ups[r["url"]] = self._row(r)
            elif r["change_type"] == "delete":
                dels.add(r["url"])
        want = {k: v for k, v in state.items() if prev_state.get(k) != v}
        if ups != want:
            return f"{len(ups)} upserts, want {len(want)}"
        if not (prev_state.keys() - state.keys()) <= dels or dels & state.keys():
            return "deletes differ from the snapshots"
        return None

    def _bloom_stats(self, df, keys: list[str], version: int) -> None:
        """Files the lookup plan reads vs live files in the keys' buckets."""
        from realdeal_spark.lake.inspect import files_df

        snap = self.table.snapshot(version)
        kdf = self.spark.createDataFrame([(k,) for k in keys], "url string")
        buckets = [r[0] for r in kdf.select(self.table.bucket_expr(snap)).distinct().collect()]
        in_buckets = files_df(self.table, version).where(F.col("bucket").isin(buckets)).count()
        self.loop.files_read.append(len(df.inputFiles()))
        self.loop.files_in_buckets.append(in_buckets)

    def warm_reads(self, prev: int) -> None:
        """Unchecked lookups (64 keys, 1 key, 64 keys, ...) and feed
        reads, so the read paths are compiled before the timed loop."""
        v = self.table.current_version()
        lookups, feeds = self.warm
        for j in range(lookups):
            size = LOOKUP_SIZES[(j + 1) % len(LOOKUP_SIZES)]
            self.table.lookup(self._pick_keys(*self._epoch(0), size), version=v).collect()
        for _ in range(feeds):
            self.table.read_changes(prev, v).collect()

    def more_rounds(self, window_start: float) -> bool:
        """Whether another round runs: the first always does, a later one
        only if, at the last round's pace, it ends inside the window."""
        return not self.loop.rounds or (
            time.monotonic() + self._round_wall <= window_start + self.seconds
        )

    def begin_round(self) -> None:
        # a round starts on a collected heap, in the JVM and in Python,
        # so it is not charged for a pause over set-up's garbage
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()
        if self.tracer is not None:
            self.tracer.active = True
            self._trace_s0 = self.tracer.self_s
        self._round_t0 = time.monotonic()

    def end_round(self) -> None:
        self.loop.rounds += 1
        self._round_wall = time.monotonic() - self._round_t0
        if self.tracer is not None:
            self.tracer.active = False
            self.loop.trace_overhead.append(self.tracer.self_s - self._trace_s0)

    def _traced(self) -> bool:
        return self.tracer is not None and self.tracer.active

    # ------------------------------------------------------------ checks

    def oracle_check(self, events) -> list[str]:
        """Final visible state == max-(warc_ts, lsn) per url of the applied
        events, deletes excluded, compared with EXCEPT ALL both ways."""
        events.createOrReplaceTempView("bench_applied")
        want = self.spark.sql(
            """
            SELECT url, warc_ts, lsn, html, lang FROM (
              SELECT *, row_number() OVER (
                PARTITION BY url ORDER BY warc_ts DESC, lsn DESC) AS rn
              FROM bench_applied)
            WHERE rn = 1 AND op <> 'delete'
            """
        )
        # the program's answer is read once and materialised: EXCEPT ALL
        # planned straight over a merge-on-read reconcile fails to resolve
        # ``html`` (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, Spark 4.1)
        cols = ["url", "warc_ts", "lsn", "html", "lang"]
        text_col = ["text"] if self.with_text else []
        got = self.table.read().select(*cols, *text_col).localCheckpoint()
        self.visible_rows = got.count()
        errors = []
        missing = want.exceptAll(got.select(*cols)).count()
        extra = got.select(*cols).exceptAll(want).count()
        if missing or extra:
            errors.append(f"final state: {missing} oracle rows missing, {extra} extra rows")
        if self.with_text:
            from realdeal_spark.extract.html_text import extract_text

            bad = sum(
                1
                for r in got.select("html", "text").collect()
                if extract_text(r["html"]) != r["text"]
            )
            if bad:
                errors.append(f"text differs from extract_text(html) on {bad} rows")
        return errors

    def table_stats(self) -> tuple[int, int]:
        """(live-file bytes, visible rows) of the current snapshot; the
        rows were counted by the final-state check."""
        from realdeal_spark.lake.inspect import files_df

        live = files_df(self.table).agg(F.sum("bytes"), F.count("*")).first()
        self.files_live = int(live[1])
        return int(live[0]), self.visible_rows

    def _meta_bytes(self) -> int:
        return _tree_bytes(os.path.join(self.table.root, "_meta"))

    def _loop_bytes(self, meta0: int, bytes0: int, commits: int) -> None:
        self.loop.bytes_added = _tree_bytes(self.table.root) - bytes0
        self.loop.meta_bytes_per_commit = (self._meta_bytes() - meta0) / max(commits, 1)


class TailCowText(Workload):
    """Scrape -> enrich -> upsert: lsn epochs through CdcApplier with the
    html->text transform into a copy-on-write table."""

    name = "tail_cow_text"
    shape = LogShape(n_urls=5_000, paragraphs=8)
    with_text = True
    # lookups on this table take under a second: more of them, after a
    # longer warm-up, make the median steady
    lookup_pairs = 3
    warm = (4, 2)

    def generate(self) -> None:
        inputs.write_striped(self._log(), os.path.join(self.work, "log"), self.cores)

    def _events(self):
        return self.spark.read.schema(EVENT_SCHEMA).parquet(os.path.join(self.work, "log"))

    def setup(self) -> float:
        from realdeal_spark.cdc.apply import CdcApplier
        from realdeal_spark.extract.html_text import with_text
        from realdeal_spark.lake.table import LakeTable

        events = self._events()
        t0 = time.monotonic()
        self.table = LakeTable.create(
            self.spark, os.path.join(self.work, "table"), TABLE_SCHEMA + ", text string",
            KEY, ORDER, n_buckets=self.n_buckets, soft_delete=True,
        )
        self.table.append(with_text(events.where(F.col("lsn") < self.shape.n_urls)))
        v0 = self.table.current_version()
        self.applier = CdcApplier(self.table, transform=with_text, merge_mode="cow")
        self.applier.apply_epoch(events, *self._epoch(0))
        self.warm_reads(v0)
        self.applied_to = self._epoch(0)[1]
        return time.monotonic() - t0

    def run(self) -> None:
        loop = self.loop
        events = self._events()
        prev = self.table.current_version()
        prev_state = self.state_at(prev)
        meta0, bytes0 = self._meta_bytes(), _tree_bytes(self.table.root)
        start = time.monotonic()
        i = 1
        while i <= self.max_epochs and self.more_rounds(start):
            self.begin_round()
            traced = self._traced()
            lo, hi = self._epoch(i)
            t0 = time.monotonic()
            rep = self.applier.apply_epoch(events, lo, hi)
            dt = time.monotonic() - t0
            loop.attempted += 1
            loop.epochs.append(dt)
            loop.events += rep.events_in
            if traced:
                loop.reports.append(rep)
            self.applied_to = hi
            cur = self.table.current_version()
            state = self.state_at(cur)
            self.reads(cur, prev, state, prev_state, lo, hi)
            self.end_round()
            prev, prev_state = cur, state
            i += 1
        self._loop_bytes(meta0, bytes0, len(loop.epochs))

    def check(self) -> list[str]:
        return self.oracle_check(self._events().where(F.col("lsn") <= self.applied_to))


class ServeMixed(Workload):
    """Reads beside a streaming catch-up drain: a backlog of micro-batch
    files, one hot url carrying half the events, drains through
    StreamingCdcApplier into a merge-on-read table with key Bloom
    sidecars.  Each batch is followed by the round's reads at the version
    it committed, so they see a base file plus two deltas per bucket (set-up's
    micro-batch and this one), and then by a compaction."""

    name = "serve_mixed"
    shape = LogShape(n_urls=5_000, paragraphs=3, hot_share=0.5)

    def generate(self) -> None:
        """The initial load, then one backlog file per change epoch;
        mtimes order the backlog for the stream source."""
        log = self._log()
        n = self.shape.n_urls
        inputs.write_file(log.slice(0, n), os.path.join(self.work, "initial", "part-0.parquet"))
        base = time.time() - 10_000
        self.backlog = []
        for i in range(self.max_epochs + 1):
            lo, hi = self._epoch(i)
            path = os.path.join(self.work, "backlog", f"batch-{i:05d}.parquet")
            inputs.write_file(log.slice(lo, hi - lo + 1), path, mtime=base + i)
            self.backlog.append(path)

    def setup(self) -> float:
        """Create the table, append the initial load, drain change epoch 0
        as the stream's first micro-batch, and read."""
        from realdeal_spark.lake.table import LakeTable
        from realdeal_spark.streaming.stream_apply import StreamingCdcApplier

        self.src_dir = os.path.join(self.work, "source")
        self.ckpt = os.path.join(self.work, "checkpoint")
        os.makedirs(self.src_dir)
        self._link(self.backlog[:1])
        initial = self.spark.read.schema(EVENT_SCHEMA).parquet(os.path.join(self.work, "initial"))
        t0 = time.monotonic()
        self.table = LakeTable.create(
            self.spark, os.path.join(self.work, "table"), TABLE_SCHEMA, KEY, ORDER,
            n_buckets=self.n_buckets, soft_delete=True, key_blooms=True,
        )
        self.table.append(initial)
        self.applier = StreamingCdcApplier(self.table, "drain", merge_mode="mor")
        # the benchmark's foreachBatch body wraps the applier's
        self._apply = self.applier.apply_batch
        self.applier.apply_batch = self._on_batch
        self.recording = False
        self.stopping = False
        self.applied_files: list[str] = []
        self._drain()
        if self.loop.errors:
            raise RuntimeError(f"set-up micro-batch failed: {self.loop.errors}")
        self.warm_reads(self.table.current_version() - 1)
        return time.monotonic() - t0

    def _link(self, files: list[str]) -> None:
        for path in files:
            os.link(path, os.path.join(self.src_dir, os.path.basename(path)))

    def _drain(self):
        """Run the stream (availableNow) until it drains or the window
        closes; returns the stopped query."""
        from realdeal_spark.streaming.stream_apply import StreamingCdcApplier

        self.done = threading.Event()
        source = StreamingCdcApplier.file_source(self.spark, self.src_dir, EVENT_SCHEMA, 1)
        query = self.applier.start(source, self.ckpt)
        while query.isActive and not self.done.wait(0.1):
            pass
        query.stop()
        err = query.exception()
        if err is not None:
            self.loop.fail(f"streaming query: {err}")
        return query

    def _batch_files(self, batch_id: int) -> list[str]:
        """The files a micro-batch read, from the query's offset log."""
        with open(os.path.join(self.ckpt, "sources", "0", str(batch_id))) as f:
            lines = f.read().splitlines()[1:]
        return [json.loads(x)["path"].replace("file://", "") for x in lines]

    def _on_batch(self, df, batch_id: int):
        """foreachBatch body: apply, the round's reads, compact."""
        if self.stopping:
            return None
        loop = self.loop
        try:
            if not self.recording:  # the set-up micro-batch
                self._apply(df, batch_id)
                self.applied_files.extend(self._batch_files(batch_id))
                return None
            # the window is checked when the next batch arrives, so the
            # last measured batch's progress is reported before the stop
            if not self.more_rounds(self.window_start):
                self.stopping = True
                self.done.set()
                return None
            self.begin_round()
            traced = self._traced()
            t0 = time.monotonic()
            self._apply(df, batch_id)
            t1 = time.monotonic()
            rep = self.applier.reports[-1]
            files = self._batch_files(batch_id)
            self.applied_files.extend(files)
            loop.attempted += 1
            loop.epochs.append(t1 - t0)
            loop.events += rep.events_in
            if traced:
                loop.reports.append(rep)
            cur = self.table.current_version()
            state = self.state_at(cur)
            lo, hi = self._epoch(int(os.path.basename(files[0])[6:11]))
            self.reads(cur, self.prev, state, self.prev_state, lo, hi)
            # not timed end to end: its cost is lake.table.compact_s, its
            # effect table_bytes_per_row and the next round's lookups
            self.table.compact()
            self.end_round()
            # compaction changes files, not visible rows
            self.prev, self.prev_state = self.table.current_version(), state
        except Exception as e:  # a failing batch ends the drain; counted, not hidden
            loop.fail(f"batch {batch_id}: {type(e).__name__}: {e}")
            self.stopping = True
            self.done.set()
        finally:
            if self.tracer is not None:
                self.tracer.active = False
        return None

    def run(self) -> None:
        loop = self.loop
        meta0, bytes0 = self._meta_bytes(), _tree_bytes(self.table.root)
        commits0 = self.prev = self.table.current_version()
        self.prev_state = self.state_at(self.prev)
        self.recording = True
        self._link(self.backlog[1:])
        self.window_start = time.monotonic()
        query = self._drain()
        self.recording = False
        for p in query.recentProgress:
            d = p.durationMs or {}
            if p.numInputRows and "triggerExecution" in d and "addBatch" in d:
                loop.trigger_overhead.append((d["triggerExecution"] - d["addBatch"]) / 1000)
        self._loop_bytes(meta0, bytes0, self.table.current_version() - commits0)

    def check(self) -> list[str]:
        paths = [os.path.join(self.work, "initial")] + sorted(set(self.applied_files))
        return self.oracle_check(self.spark.read.schema(EVENT_SCHEMA).parquet(*paths))


WORKLOADS = {w.name: w for w in (TailCowText, ServeMixed)}
