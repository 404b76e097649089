"""``sink_bulk``: closed-loop ``write_batch`` calls over a cached seeded record
table, at ``parallelism = nproc`` (the unordered repartition path), into the
bench client with a fixed per-put latency and no faults.

End to end: records delivered per second, and each record's wait from the
start of its ``write_batch`` call to the end of the put that delivered it
(p50 and p99 within a call); each is the median over the run's calls.
"""

from __future__ import annotations

import bisect
import statistics
import time
import zlib

from perfbench import datagen
from perfbench.client import BenchClientFactory, read_put_log
from perfbench.tracing import JobCounters, event_log_counters, percentile

NAME = "sink_bulk"
RECORDS = 100_000


class Workload:
    def __init__(self, run):
        self.run = run
        self.log_dir = str(run.work / "puts")
        self.calls: list[tuple[float, float, int, int, int, int]] = []
        self.call_spans: list[int] = []
        self.attempted = self.failed = 0

    def _factory(self, log_dir: str) -> BenchClientFactory:
        return BenchClientFactory(log_dir=log_dir, nonce=self.run.nonce)

    def prepare(self, rep: int) -> None:
        run = self.run
        self.table = datagen.record_table(run.spark, run.seed, RECORDS, run.cpus).cache()
        self.table.count()

    def _write_batch(self, df, factory) -> tuple[int, int, int, int]:
        from pyspark.sql import functions as F

        from fs2_kinesis_firehose_spark.firehose import ProducerSettings, write_batch

        settings = ProducerSettings(stream_name="bench-bulk", parallelism=self.run.cpus)
        acks = write_batch(df, settings, factory, serializer="json")
        row = acks.agg(F.count(F.lit(1)), F.sum("n_records"), F.sum("failed_records"),
                       F.sum("request_bytes")).collect()[0]
        return tuple(int(v or 0) for v in row)

    def warm_up(self) -> None:
        """One call over the timed table, into a client that logs elsewhere."""
        self._write_batch(self.table, self._factory(str(self.run.work / "warm-puts")))

    def measure(self) -> None:
        factory = self._factory(self.log_dir)
        deadline = time.perf_counter() + self.run.seconds
        while time.perf_counter() < deadline:
            with self.run.span("firehose.sink:write_batch") as span:
                t0 = time.time()
                acks = self._write_batch(self.table, factory)
                self.calls.append((t0, time.time()) + acks)
                self.call_spans.append(span.id)
        if self.run.traced:
            self._trace_frame()

    def _trace_frame(self) -> None:
        """The serializer alone: ``serialize_and_frame`` to the noop sink."""
        from fs2_kinesis_firehose_spark.firehose.serializers import serialize_and_frame

        with self.run.span("firehose.serializers:serialize_and_frame"):
            t0 = time.perf_counter()
            serialize_and_frame(self.table, "json", b"\n").write.format("noop").mode(
                "overwrite").save()
            self.frame_s = time.perf_counter() - t0

    def check(self) -> list[str]:
        problems = []
        self.expected = [datagen.expected_record_json(self.run.seed, i) for i in range(RECORDS)]
        self.expected_bytes = sum(map(len, self.expected))
        digest = sum(map(zlib.crc32, self.expected))
        self.puts = read_put_log(self.log_dir)
        n = len(self.calls)
        self.attempted = n * RECORDS
        self.failed = sum(c[4] for c in self.calls)
        if self.failed:
            problems.append(f"{self.failed} records still failed after retries")
        if sum(c[3] for c in self.calls) != n * RECORDS:
            problems.append("acked record count differs from the input")
        if self.puts.delivered != n * RECORDS:
            problems.append(f"delivered {self.puts.delivered} records, expected {n * RECORDS}")
        if self.puts.delivered_bytes != n * self.expected_bytes:
            problems.append("delivered bytes differ from the input's JSON lines")
        if self.puts.digest != n * digest:
            problems.append("delivered payloads differ from the input's JSON lines")
        return problems

    def end_to_end(self) -> dict[str, float]:
        rates = [RECORDS / (end - start) for start, end, *_ in self.calls]
        starts = [c[0] for c in self.calls]
        waits: list[list[float]] = [[] for _ in self.calls]
        weights: list[list[int]] = [[] for _ in self.calls]
        for start, end, n_in in self.puts.puts:
            call = max(bisect.bisect_right(starts, start) - 1, 0)
            waits[call].append((end - starts[call]) * 1000.0)
            weights[call].append(n_in)
        return {
            "throughput_per_s": statistics.median(rates),
            "latency_p50_ms": statistics.median(
                percentile(w, 50, n) for w, n in zip(waits, weights)),
            "latency_p99_ms": statistics.median(
                percentile(w, 99, n) for w, n in zip(waits, weights)),
        }

    def per_layer(self) -> dict[str, float]:
        from fs2_kinesis_firehose_spark.firehose.batching import slice_requests
        from fs2_kinesis_firehose_spark.firehose.settings import (
            MAX_BATCH_BYTES,
            MAX_BATCH_SIZE,
            MAX_RECORD_BYTES,
        )

        run, puts, n = self.run, self.puts, len(self.calls)
        with run.tracer.span("firehose.batching:slice_requests"):
            t0 = time.perf_counter()
            for _ in slice_requests(self.expected, batch_size=MAX_BATCH_SIZE,
                                    max_batch_bytes=MAX_BATCH_BYTES,
                                    max_record_bytes=MAX_RECORD_BYTES):
                pass
            slice_s = time.perf_counter() - t0
        starts = [c[0] for c in self.calls]
        for start, end, n_in in puts.puts:
            call = max(bisect.bisect_right(starts, start) - 1, 0)
            run.tracer.add("firehose.client:put_record_batch", start, end,
                           parent=self.call_spans[call], records=n_in)
        sink = event_log_counters(str(run.event_log_dir)).get(
            "firehose.sink:write_batch", JobCounters())
        requests = sum(c[2] for c in self.calls)
        return {
            "firehose.serializers.frame_s": self.frame_s,
            "firehose.serializers.framed_bytes": self.expected_bytes,
            "firehose.batching.requests": requests / n,
            "firehose.batching.fill_ratio": RECORDS * n / requests / MAX_BATCH_SIZE,
            "firehose.batching.slice_s": slice_s,
            "firehose.retry.attempts_per_request": puts.calls / puts.requests,
            "firehose.retry.retried_records": puts.failed_puts,
            "firehose.retry.throttled_calls": puts.throttled,
            "firehose.retry.backoff_s": puts.backoff_s,
            "firehose.client.put_calls": puts.calls / n,
            "firehose.client.put_busy_s": puts.busy_s / n,
            "firehose.client.records_per_put": puts.records_in / puts.calls,
            **sink_counters(sink, puts.busy_s, n),
        }


def sink_counters(sink: JobCounters, put_busy_s: float, n: int) -> dict[str, float]:
    """The sink layer's engine counters per call (or per run when ``n`` is 1);
    Python overhead is task time not spent inside the client's puts."""
    return {
        "firehose.sink.jobs": sink.jobs / n,
        "firehose.sink.stages": sink.stages / n,
        "firehose.sink.tasks": sink.tasks / n,
        "firehose.sink.executor_run_s": sink.executor_run_s / n,
        "firehose.sink.executor_cpu_s": sink.executor_cpu_s / n,
        "firehose.sink.gc_s": sink.gc_s / n,
        "firehose.sink.shuffle_write_bytes": sink.shuffle_write_bytes / n,
        "firehose.sink.python_overhead_s": (sink.executor_run_s - put_busy_s) / n,
    }
