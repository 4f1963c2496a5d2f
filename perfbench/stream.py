"""stream_windows: the structured-streaming job fed open-loop.

`streaming.job.run_stream` runs at its defaults (watermark → dedup → 1 h
tumbling windows → exactly-once epoch sink) except for the batch width:
`files_per_trigger` is raised so one trigger takes every file that arrived,
as the job's docstring advises for production ingest.  A generator thread
atomically renames pre-written page files into the source directory at a
fixed rate.  A file's latency runs from the time it was due to be
published to the end of the micro-batch that committed it (the mtime of
that batch's commit-log entry).
"""

from __future__ import annotations

import json
import math
import os
import threading
import time

import pyarrow.parquet as pq

from perfbench import config, gen
from perfbench.harness import sample_rows


class LoadGen(threading.Thread):
    """Publishes `files` (staged paths) into `dst` at `rate` files/s from
    wall-clock time `t0`; records when each file was due and published."""

    def __init__(self, files: list[str], dst: str, rate: float, t0: float):
        super().__init__(daemon=True, name="loadgen")
        self.files, self.dst, self.rate, self.t0 = files, dst, rate, t0
        self.due: dict[str, float] = {}
        self.published: dict[str, float] = {}

    def run(self):
        for k, src in enumerate(self.files):
            due = self.t0 + k / self.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = os.path.basename(src)
            os.rename(src, os.path.join(self.dst, name))
            self.published[name] = time.time()
            self.due[name] = due


def _log_entries(d: str):
    """(log file name, lines after the version line) of a checkpoint log."""
    if not os.path.isdir(d):
        return
    for f in os.listdir(d):
        if f.startswith(".") or f.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(d, f)) as fh:
                yield f, fh.read().splitlines()[1:]
        except OSError:
            continue


def file_times(cp: str, log: str = "commits") -> dict[str, float]:
    """{file name: when the micro-batch that read it was planned
    (log='offsets') or committed (log='commits')}.

    The file source logs each file under a source log offset; the offset
    log maps each micro-batch to the highest source offset it read.  An
    offset-log entry is written when a micro-batch is planned, a commit-log
    entry when it ends; their mtimes give the times."""
    times = {int(f): os.path.getmtime(os.path.join(cp, log, f))
             for f, _ in _log_entries(os.path.join(cp, log)) if f.isdigit()}
    batch_offset = {}
    for f, lines in _log_entries(os.path.join(cp, "offsets")):
        if f.isdigit() and len(lines) >= 2:
            batch_offset[int(f)] = json.loads(lines[1]).get("logOffset", -1)
    # micro-batches in order: (highest source offset read, time)
    ends = sorted((off, times[b]) for b, off in batch_offset.items() if b in times)
    out = {}
    for _f, lines in _log_entries(os.path.join(cp, "sources", "0")):
        for line in lines:
            try:
                e = json.loads(line)
            except ValueError:
                continue
            for off, t in ends:
                if off >= e.get("batchId", 1 << 62):
                    out[os.path.basename(e["path"])] = t
                    break
    return out


class StreamWindows:
    name = "stream_windows"

    def generate(self, ctx, out):
        n_timed = int(math.ceil(config.STREAM_RATE_FILES_PER_S * ctx.seconds))
        self.files = gen.stream_pages(ctx.seed, n_timed + 1, config.STREAM_PAGES_PER_FILE)
        self.stage = os.path.join(out, "stage")
        os.makedirs(self.stage, exist_ok=True)
        self.paths = []
        for k, rows in enumerate(self.files):
            path = os.path.join(self.stage, f"f{k:05d}.parquet")
            pq.write_table(gen.table(rows, gen.PAGE_ARROW_SCHEMA), path)
            self.paths.append(path)

    def docs(self):
        return sum(len(f) for f in self.files[1:])

    def sample_pages(self, ctx):
        rows = [r for f in self.files for r in f]
        return [(r[1], r[3]) for r in sample_rows(rows, ctx.seed, config.TRACE_SAMPLE)]

    def _start(self, ctx):
        import joern_spark.streaming.job as job

        self.src = ctx.path("stream", "src")
        self.out = ctx.path("stream", "out")
        self.cp = ctx.path("stream", "cp")
        os.makedirs(self.src, exist_ok=True)
        self.sink_s: list[float] = []
        orig = job.exactly_once_batch_writer
        sink_s = self.sink_s

        def timed_writer(*a, **kw):
            write = orig(*a, **kw)

            def timed(df, batch_id):
                t = time.perf_counter()
                write(df, batch_id)
                sink_s.append(time.perf_counter() - t)
            return timed
        if ctx.trace:
            job.exactly_once_batch_writer = timed_writer
        try:
            self.query = job.run_stream(ctx.spark, self.src, self.out, self.cp,
                                        files_per_trigger=config.STREAM_FILES_PER_TRIGGER)
        finally:
            job.exactly_once_batch_writer = orig

    def _wait_committed(self, names: set[str], deadline: float) -> dict[str, float]:
        while True:
            done = file_times(self.cp)
            if names <= done.keys() or time.time() >= deadline:
                return done
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            time.sleep(0.05)

    def _wait_idle(self, deadline: float):
        """Wait until every planned micro-batch has committed and none has
        been planned for a second: after the warm-up batch the stream runs
        a no-data batch to advance the watermark, and the timed load must
        not start inside it."""
        def ids(d):
            return max((int(f) for f in os.listdir(os.path.join(self.cp, d)) if f.isdigit()),
                       default=-1)
        last, since = None, time.time()
        while time.time() < deadline:
            state = (ids("offsets"), ids("commits"))
            if state != last:
                last, since = state, time.time()
            elif state[0] == state[1] and time.time() - since >= 1.0:
                return
            time.sleep(0.05)

    def warmup(self, ctx):
        """Start the query and let it commit the first (untimed) file."""
        tr = ctx.tracer
        with tr.span("stream.start"):
            self._start(ctx)
        first = self.paths[0]
        os.rename(first, os.path.join(self.src, os.path.basename(first)))
        with tr.span("stream.first_commit"):
            done = self._wait_committed({os.path.basename(first)}, time.time() + 120)
        if os.path.basename(first) not in done:
            raise RuntimeError("warm-up file was not committed")
        with tr.span("stream.idle"):
            self._wait_idle(time.time() + 60)
        self.first_timed_batch = max(
            int(f) for f in os.listdir(os.path.join(self.cp, "commits")) if f.isdigit()) + 1
        self.n_warm_sink = len(self.sink_s)
        self.rdds_before = ctx.spark.sparkContext._jsc.getPersistentRDDs().size()

    def measure(self, ctx) -> dict:
        timed = self.paths[1:]
        t0 = time.time() + 0.05
        gen_thread = LoadGen(timed, self.src, config.STREAM_RATE_FILES_PER_S, t0)
        p0 = time.perf_counter()
        gen_thread.start()
        gen_thread.join()
        t_end = time.time()
        names = {os.path.basename(p) for p in timed}
        done = self._wait_committed(names, t_end + config.STREAM_DRAIN_S)
        wall = time.perf_counter() - p0
        # the progress report of the last micro-batch lands just after its commit
        last = max(int(f) for f in os.listdir(os.path.join(self.cp, "commits")) if f.isdigit())
        deadline = time.time() + 5
        while time.time() < deadline and (self.query.lastProgress or {}).get("batchId", -1) < last:
            time.sleep(0.05)
        progress = [json.loads(q.json) for q in self.query.recentProgress]
        self.progress = [p for p in progress if p["batchId"] >= self.first_timed_batch]
        self.batches = [(p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution"))
                        for p in progress]
        self.query.stop()
        self.query.awaitTermination(30)
        self.cached_delta_total = (ctx.spark.sparkContext._jsc.getPersistentRDDs().size()
                                   - self.rdds_before)
        lat = [done[n] - gen_thread.due[n] for n in sorted(names) if n in done]
        self.committed = {n for n in names if n in done}
        planned = file_times(self.cp, "offsets")
        self.loadgen = {
            "late_max_s": max(gen_thread.published[n] - gen_thread.due[n] for n in names),
            # published by the end of the window but not yet taken by a batch
            "backlog_files_end": sum(1 for n in names if planned.get(n, math.inf) > t_end),
        }
        committed_pages = sum(len(self.files[1 + k]) for k, p in enumerate(timed)
                              if os.path.basename(p) in done)
        self.committed_pages_all = committed_pages + len(self.files[0])
        return {"latencies": lat, "wall_s": wall, "committed_pages": committed_pages}

    def check(self, ctx) -> tuple[bool, int, dict]:
        """The sink's final read_results equals batch windowed_findings over
        the committed files, each page counted once.  Pages of files not
        committed by the end of the run and <parse-error> pages fail."""
        from joern_spark.sources.corpus import PAGE_SCHEMA
        from joern_spark.streaming.job import read_results, windowed_findings

        spark = ctx.spark
        got = {tuple(r) for r in read_results(spark, self.out).collect()}
        files = [os.path.join(self.src, os.path.basename(p)) for p in self.paths]
        committed = [f for f in files if os.path.basename(f) in self.committed
                     or f == files[0]]
        batch = windowed_findings(spark.read.schema(PAGE_SCHEMA).parquet(*committed),
                                  set_watermark=False, dedup=True)
        want = {tuple(r) for r in batch.select("window_start", "query_name", "n_matches",
                                               "n_docs").collect()}
        lost = sum(len(self.files[k]) for k, f in enumerate(files)
                   if k > 0 and os.path.basename(f) not in self.committed)
        parse_errors = sum(r[3] for r in got if r[1] == "<parse-error>")
        return got == want, lost + parse_errors, {"windows": len(want), "pages_lost": lost}
