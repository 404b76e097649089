"""The benchmark's boto3-shaped Firehose client.

It stands in for the service, so it stays cheap and bounded:

- every ``put_record_batch`` sleeps the same fixed per-put latency;
- a record whose payload holds ``fail_marker`` fails on its first put and
  succeeds on its retry. Only records fail this way, never whole calls. The
  workload's inputs, generated from the seed, decide which records carry
  the marker;
- the first retry of every request is throttled (raises, so the caller
  retries the unchanged request after its next backoff). A request is
  retried only when it holds a marked record, so the throttled calls are the
  seeded ones too, and each such request waits the same two backoffs
  whichever worker process makes the calls;
- the only per-record state is the set of marked records that failed once and
  await their retry, which empties as the retries land.

Each put appends one line of counters to ``<log_dir>/puts-<pid>-<id>.log``;
``read_put_log`` sums them after the run. The factory's ``kwargs`` carries a
per-run nonce, because the sink caches one client per executor process keyed
on those kwargs; without it a run could reuse a client that holds another
run's retry state.
"""

from __future__ import annotations

import glob
import os
import time
import zlib
from dataclasses import dataclass, field
from typing import Any

PUT_LATENCY_S = 0.002

_OK = {"RecordId": "bench"}
_FAILED = {"ErrorCode": "ServiceUnavailableException", "ErrorMessage": "bench"}


class ThrottlingException(Exception):
    """Raised for a throttled call, in botocore's ``ClientError`` shape."""

    def __init__(self) -> None:
        super().__init__("Rate exceeded")
        self.response = {"Error": {"Code": "ThrottlingException"}}


class BenchFirehose:
    def __init__(
        self,
        *,
        log_dir: str,
        nonce: str,
        fail_marker: bytes | None = None,
    ) -> None:
        self._marker = fail_marker
        self._awaiting_retry: set[tuple[int, int]] = set()
        self._retry_next = self._chain_throttled = False
        self._last_end = 0.0
        os.makedirs(log_dir, exist_ok=True)
        path = os.path.join(log_dir, f"puts-{os.getpid()}-{id(self):x}.log")
        self._log = open(path, "a", buffering=1)

    def put_record_batch(
        self, DeliveryStreamName: str, Records: list[dict[str, bytes]]
    ) -> dict[str, Any]:
        start = time.time()
        retry = self._retry_next
        gap = start - self._last_end if retry else 0.0
        if not retry:
            self._chain_throttled = False  # a new request
        throttled = retry and not self._chain_throttled
        self._chain_throttled |= throttled
        responses: list[dict[str, str]] = []
        n_ok = n_failed = ok_bytes = digest = 0
        if not throttled:
            for rec in Records:
                data = rec["Data"]
                if self._marker and self._marker in data:
                    key = (zlib.crc32(data), len(data))
                    if key not in self._awaiting_retry:
                        self._awaiting_retry.add(key)
                        n_failed += 1
                        responses.append(_FAILED)
                        continue
                    self._awaiting_retry.discard(key)
                n_ok += 1
                ok_bytes += len(data)
                digest += zlib.crc32(data)
                responses.append(_OK)
        time.sleep(PUT_LATENCY_S)
        end = time.time()
        self._last_end = end
        self._retry_next = throttled or n_failed > 0
        self._log.write(
            f"{start:.6f} {end:.6f} {len(Records)} {n_ok} {n_failed} {ok_bytes} "
            f"{digest} {int(throttled)} {int(retry)} {gap:.6f}\n"
        )
        if throttled:
            raise ThrottlingException()
        return {"FailedPutCount": n_failed, "RequestResponses": responses}


class BenchClientFactory:
    """Picklable zero-argument client factory; ``kwargs`` keys the sink's
    per-executor client cache."""

    def __init__(self, **kwargs: Any) -> None:
        self.kwargs = kwargs

    def __call__(self) -> BenchFirehose:
        return BenchFirehose(**self.kwargs)


@dataclass
class PutTotals:
    calls: int = 0
    records_in: int = 0
    delivered: int = 0
    failed_puts: int = 0
    delivered_bytes: int = 0
    digest: int = 0
    throttled: int = 0
    retry_calls: int = 0
    backoff_s: float = 0.0
    busy_s: float = 0.0
    puts: list[tuple[float, float, int]] = field(default_factory=list)
    retries: list[tuple[float, float, float]] = field(default_factory=list)

    @property
    def requests(self) -> int:
        return self.calls - self.retry_calls


def read_put_log(log_dir: str) -> PutTotals:
    """Sum the per-put counter lines every client process wrote."""
    t = PutTotals()
    for path in sorted(glob.glob(os.path.join(log_dir, "puts-*.log"))):
        with open(path) as f:
            for line in f:
                parts = line.split()
                if len(parts) != 10:
                    continue  # a line cut by a killed worker
                start, end = float(parts[0]), float(parts[1])
                n_in, n_ok, n_failed, nbytes, digest, thr, retry = map(int, parts[2:9])
                t.calls += 1
                t.records_in += n_in
                t.delivered += n_ok
                t.failed_puts += n_failed
                t.delivered_bytes += nbytes
                t.digest += digest
                t.throttled += thr
                t.retry_calls += retry
                t.busy_s += end - start
                t.puts.append((start, end, n_in))
                if retry:
                    t.backoff_s += float(parts[9])
                    t.retries.append((start, end, float(parts[9])))
    return t
