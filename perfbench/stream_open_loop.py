"""``stream_open_loop``: an open-loop file stream read by two streaming
queries.

A generator thread writes one seeded JSON-lines file per tick on a fixed
schedule that does not slow when the system slows; each event carries its
creation stamp (the tick's due time) and a Zipf-skewed ``user_id``. Both
queries read the same directory:

(a) ``firehose.sink.produce`` with the reference-default settings
    (parallelism 1, ordered, default ``RetryPolicy``) except a 3.2 s time
    window, into the bench client. One seeded event in every third trigger
    interval's files fails its first put, and the client throttles that
    request's first retry, so a fixed third of the produce batches waits two
    backoffs (0.5 s, then 1 s) and the rest wait none;
(b) ``streaming.stateful.running_user_stats`` into the bench's own
    ``foreachBatch``.

The set-up's warm-up starts both queries and feeds them the lead-in files,
one micro-batch at a time, so their first, slower batches fall outside the
measurement; the timed files then follow on the running queries.

Latencies are measured from outside the program: the creation stamp comes
from the generator's log, the micro-batch that read a file from the
file-source log in each query's checkpoint, and the end of a batch from the
produce query's progress (trigger start + ``triggerExecution``) or from the
bench's ``foreachBatch``. An event is done when both queries are done with
it; the end-to-end latency runs from its creation stamp to then.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import threading
import time
import zlib
from collections import Counter, defaultdict
from dataclasses import dataclass

from fs2_kinesis_firehose_spark.firehose.settings import MAX_BATCH_SIZE
from perfbench import datagen
from perfbench.client import BenchClientFactory, read_put_log
from perfbench.sink_bulk import sink_counters
from perfbench.tracing import JobCounters, event_log_counters, percentile

NAME = "stream_open_loop"
RATE = 150  # events/s
TICK_S = 0.2
N_USERS = 2000
ZIPF_A = 1.3
TRIGGER_S = 3.2  # 16 files, 480 events: one request per produce batch
FAIL_EVERY = 3  # one event fails its first put in every 3rd trigger interval
DRAIN_S = 8.0
LEAD_IN_TIMEOUT_S = 60.0
LEAD_IN_FILES = 2


@dataclass
class _File:
    name: str
    events: list[tuple[int, int, float, bool]]
    timed: bool
    due: float = 0.0
    written: float = 0.0


def _checkpoint_files(ckpt: str) -> dict[str, int]:
    """file name -> the batch that read it, from the file-source log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _Streams:
    """The two queries over one input directory: the lead-in files, unpaced,
    then the timed files on the open-loop schedule."""

    def __init__(self, wl: "Workload", base: str, lead_in: list, timed: list):
        self.wl = wl
        self.in_dir = os.path.join(base, "in")
        self.staging = os.path.join(base, "staging")
        self.log_dir = os.path.join(base, "puts")
        self.ckpt_p = os.path.join(base, "ckpt-produce")
        self.ckpt_s = os.path.join(base, "ckpt-stateful")
        for d in (self.in_dir, self.staging):
            os.makedirs(d, exist_ok=True)
        self.files = [_File(f"lead-{i:05d}.json", ev, False) for i, ev in enumerate(lead_in)]
        self.files += [_File(f"part-{i:05d}.json", ev, True) for i, ev in enumerate(timed)]
        self.emitted: list[tuple[int, float, list[tuple]]] = []
        self.total = sum(len(f.events) for f in self.files)

    def _foreach_batch(self, df, batch_id: int) -> None:
        rows = [tuple(r) for r in df.select(
            "user_id", "n_events", "total_value", "max_value").collect()]
        self.emitted.append((batch_id, time.time(), rows))

    def _write(self, files: list[_File], t0: float, paced: bool) -> None:
        for i, f in enumerate(files):
            due = t0 + i * TICK_S if paced else time.time()
            if paced:
                time.sleep(max(0.0, due - time.time()))
            created_ms = int(round(due * 1000))
            f.due = created_ms / 1000.0
            tmp = os.path.join(self.staging, f.name)
            with open(tmp, "w") as out:
                out.write("\n".join(datagen.event_json(e, created_ms) for e in f.events) + "\n")
            os.rename(tmp, os.path.join(self.in_dir, f.name))
            f.written = time.time()

    def _wait_processed(self, n: int, deadline: float) -> None:
        queries = (self.produce_q, self.stateful_q)
        while time.time() < deadline and not all(
                sum(p["numInputRows"] for p in _progress(q)) >= n for q in queries):
            time.sleep(0.1)

    def start(self) -> None:
        """Start both queries and process the lead-in files, one micro-batch
        each, so the queries' first batches are done before any timing."""
        from fs2_kinesis_firehose_spark.firehose import ProducerSettings, produce
        from fs2_kinesis_firehose_spark.streaming.stateful import running_user_stats

        wl, spark = self.wl, self.wl.run.spark
        events = spark.readStream.schema(datagen.EVENT_SCHEMA).json(self.in_dir)
        settings = ProducerSettings(stream_name="bench-stream", time_window_s=TRIGGER_S)
        factory = BenchClientFactory(log_dir=self.log_dir, nonce=wl.run.nonce,
                                     fail_marker=datagen.FAIL_ONCE_MARKER)
        self.produce_q = produce(events, settings, factory, serializer="json",
                                 checkpoint_dir=self.ckpt_p, query_name="perfbench_produce")
        self.stateful_q = (
            running_user_stats(events).writeStream.outputMode("update")
            .foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.ckpt_s)
            .trigger(processingTime=f"{TRIGGER_S} seconds")
            .queryName("perfbench_stateful")
            .start()
        )
        # each lead-in file is written once both queries have planned the
        # batch that reads the previous one, so each gets a batch of its own
        deadline = time.time() + LEAD_IN_TIMEOUT_S
        lead_in = [f for f in self.files if not f.timed]
        for i, f in enumerate(lead_in):
            self._write([f], time.time(), paced=False)
            while time.time() < deadline and not all(
                    os.path.exists(os.path.join(c, "offsets", str(i)))
                    for c in (self.ckpt_p, self.ckpt_s)):
                time.sleep(0.05)
        self._wait_processed(sum(len(f.events) for f in lead_in), deadline)

    def run_timed(self) -> None:
        """Write the timed files on the open-loop schedule, drain, stop."""
        try:
            timed = [f for f in self.files if f.timed]
            # Spark fires processing-time triggers on multiples of the
            # interval; starting just after one makes every batch read the
            # same 5 files whatever the run's phase
            self.t0 = (math.floor(time.time() / TRIGGER_S) + 1) * TRIGGER_S + TICK_S / 2
            gen = threading.Thread(target=self._write, args=(timed, self.t0, True),
                                   name="generator")
            gen.start()
            gen.join()
            self.gen_end = self.t0 + len(timed) * TICK_S
            self.drain_deadline = self.gen_end + DRAIN_S
            self._wait_processed(self.total, self.drain_deadline)
            for q in (self.produce_q, self.stateful_q):
                q.processAllAvailable()
        finally:
            for q in (self.produce_q, self.stateful_q):
                q.stop()
        self.produce_progress = _progress(self.produce_q)
        self.stateful_progress = _progress(self.stateful_q)


class Workload:
    def __init__(self, run):
        self.run = run
        self.attempted = self.failed = 0

    def prepare(self, rep: int) -> None:
        batches = max(1, math.floor(self.run.seconds / TRIGGER_S))
        seed, per_batch = self.run.seed, round(TRIGGER_S / TICK_S)
        files = datagen.event_schedule(seed, batches * per_batch + LEAD_IN_FILES,
                                       int(RATE * TICK_S), N_USERS, ZIPF_A)
        timed = files[LEAD_IN_FILES:]
        datagen.flag_fail_once(seed, timed, per_batch, FAIL_EVERY)
        self.streams = _Streams(self, str(self.run.work / f"stream-{rep}"),
                                files[:LEAD_IN_FILES], timed)

    def warm_up(self) -> None:
        self.streams.start()

    def measure(self) -> None:
        with self.run.tracer.span("streaming:open_loop") as self.span_id:
            self.streams.run_timed()

    # -- results ------------------------------------------------------------
    def check(self) -> list[str]:
        s, problems = self.streams, []
        truth: dict[int, tuple[int, float, float]] = {}
        digest = nbytes = marked = 0
        for f in s.files:
            for e in f.events:
                n, tot, mx = truth.get(e[1], (0, 0.0, float("-inf")))
                truth[e[1]] = (n + 1, tot + e[2], max(mx, e[2]))
                line = (datagen.event_json(e, int(round(f.due * 1000))) + "\n").encode()
                digest += zlib.crc32(line)
                nbytes += len(line)
                marked += e[3]
        last: dict[int, tuple] = {}
        for _, _, rows in sorted(s.emitted, key=lambda b: b[0]):
            for user, n, tot, mx in rows:
                last[user] = (n, tot, mx)
        expected = {u: (n, round(tot, 2), mx) for u, (n, tot, mx) in truth.items()}
        if last != expected:
            bad = sorted(u for u in set(last) | set(expected) if last.get(u) != expected.get(u))
            problems.append(f"running_user_stats differs from the ground truth for "
                            f"{len(bad)} users, e.g. {bad[:3]}")
        self.puts = puts = read_put_log(s.log_dir)
        if (puts.delivered, puts.delivered_bytes, puts.digest) != (s.total, nbytes, digest):
            problems.append(f"produce delivered {puts.delivered} records / {puts.delivered_bytes}"
                            f" B, expected each of {s.total} events exactly once ({nbytes} B)")
        if puts.failed_puts != marked:
            problems.append(f"retried records {puts.failed_puts} != {marked} marked by the seed")
        self._latencies()
        return problems

    def _latencies(self) -> None:
        s = self.streams
        self.p_batch, self.s_batch = _checkpoint_files(s.ckpt_p), _checkpoint_files(s.ckpt_s)
        p_end = {p["batchId"]: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
                 for p in s.produce_progress}
        s_end = {b: t for b, t, _ in s.emitted}
        inf = float("inf")
        done = {f.name: max(p_end.get(self.p_batch.get(f.name), inf),
                            s_end.get(self.s_batch.get(f.name), inf)) for f in s.files}
        timed = [f for f in s.files if f.timed]
        emitted = [f for f in timed if done[f.name] <= s.drain_deadline]
        self.attempted = sum(len(f.events) for f in timed)
        self.failed = self.attempted - sum(len(f.events) for f in emitted)
        self.lat = [(done[f.name] - f.due) * 1e3 for f in emitted]
        self.lat_w = [len(f.events) for f in emitted]
        self.last_done = max((done[f.name] for f in emitted), default=s.gen_end)
        acked = [f for f in timed if self.p_batch.get(f.name) in p_end]
        self.produce_lat = [(p_end[self.p_batch[f.name]] - f.due) * 1e3 for f in acked]
        self.produce_w = [len(f.events) for f in acked]
        # stateful: per (batch, user), from the newest event of that user in
        # the batch to the completion of the foreachBatch that emitted it
        files_of: dict[int, list[_File]] = defaultdict(list)
        for f in timed:
            if self.s_batch.get(f.name) in s_end:
                files_of[self.s_batch[f.name]].append(f)
        self.stateful_lat, self.stateful_w = [], []
        for b, files in files_of.items():
            newest: dict[int, float] = {}
            count: Counter = Counter()
            for f in files:
                for _, u, _, _ in f.events:
                    newest[u] = max(newest.get(u, 0.0), f.due)
                    count[u] += 1
            for u, c in count.items():
                self.stateful_lat.append((s_end[b] - newest[u]) * 1e3)
                self.stateful_w.append(c)

    def end_to_end(self) -> dict[str, float]:
        return {
            "throughput_per_s": (self.attempted - self.failed)
            / (self.last_done - self.streams.t0),
            "latency_p50_ms": percentile(self.lat, 50, self.lat_w),
            "latency_p99_ms": percentile(self.lat, 99, self.lat_w),
        }

    def per_layer(self) -> dict[str, float]:
        s, puts, tracer = self.streams, self.puts, self.run.tracer
        progress = s.produce_progress + s.stateful_progress
        for f in s.files:
            tracer.add("sources:file_written", f.due, f.written, parent=self.span_id,
                       file=f.name, events=len(f.events))
        for p in progress:
            start = _epoch(p["timestamp"])
            layer = "firehose.sink" if p in s.produce_progress else "streaming"
            tracer.add(f"{layer}:micro_batch", start,
                       start + p["durationMs"].get("triggerExecution", 0) / 1e3,
                       parent=self.span_id, query=p["name"], batch=p["batchId"],
                       rows=p["numInputRows"])
        for start, end, n_in in puts.puts:
            tracer.add("firehose.client:put_record_batch", start, end, parent=self.span_id,
                       records=n_in)
        for start, _, gap in puts.retries:
            tracer.add("firehose.retry:backoff", start - gap, start, parent=self.span_id)
        if puts.puts:
            tracer.add("firehose.batching:requests", puts.puts[0][0], puts.puts[-1][1],
                       parent=self.span_id, requests=puts.requests)

        out: dict[str, float] = {"streaming.batches": len(progress)}
        for name, key in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                          ("query_planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit"),
                          ("commit_offsets_ms", "commitOffsets"),
                          ("latest_offset_ms", "latestOffset")):
            values = [p["durationMs"].get(key, 0) for p in progress]
            out[f"streaming.{name}_p50"] = percentile(values, 50)
            out[f"streaming.{name}_p99"] = percentile(values, 99)
        states = [p["stateOperators"][0] for p in s.stateful_progress if p.get("stateOperators")]
        if states:
            out["streaming.state_rows_total"] = states[-1]["numRowsTotal"]
            out["streaming.state_commit_ms_p50"] = percentile(
                [st["commitTimeMs"] for st in states], 50)
            out["streaming.state_memory_bytes"] = states[-1]["memoryUsedBytes"]
        # read lag: how long the oldest file a batch read had waited when the
        # batch started
        due = {f.name: f.due for f in s.files}
        lags = []
        for prog, batch_of in ((s.produce_progress, self.p_batch),
                               (s.stateful_progress, self.s_batch)):
            oldest: dict[int, float] = {}
            for name, b in batch_of.items():
                oldest[b] = min(oldest.get(b, due[name]), due[name])
            lags += [max(0.0, _epoch(p["timestamp"]) - oldest[p["batchId"]]) * 1e3
                     for p in prog if p["batchId"] in oldest]
        out["sources.read_lag_ms_p99"] = percentile(lags, 99)
        run_id = s.produce_progress[0]["runId"] if s.produce_progress else ""
        sink = event_log_counters(str(self.run.event_log_dir)).get(run_id, JobCounters())
        out.update(sink_counters(sink, puts.busy_s, 1))
        requests = max(puts.requests, 1)
        out.update({
            "streaming.emitted_fraction": 1 - self.failed / self.attempted,
            "streaming.produce_p50_ms": percentile(self.produce_lat, 50, self.produce_w),
            "streaming.produce_p99_ms": percentile(self.produce_lat, 99, self.produce_w),
            "streaming.stateful_p50_ms": percentile(self.stateful_lat, 50, self.stateful_w),
            "streaming.stateful_p99_ms": percentile(self.stateful_lat, 99, self.stateful_w),
            "firehose.batching.requests": puts.requests,
            "firehose.batching.fill_ratio": s.total / requests / MAX_BATCH_SIZE,
            "firehose.retry.attempts_per_request": puts.calls / requests,
            "firehose.retry.retried_records": puts.failed_puts,
            "firehose.retry.throttled_calls": puts.throttled,
            "firehose.retry.backoff_s": puts.backoff_s,
            "firehose.client.put_calls": puts.calls,
            "firehose.client.put_busy_s": puts.busy_s,
            "firehose.client.records_per_put": puts.records_in / max(puts.calls, 1),
        })
        return out
