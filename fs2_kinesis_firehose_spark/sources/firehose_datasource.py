"""Firehose as a first-class Spark data source (Spark 4 Python DataSource API).

Gives the reference's produce pipe (firehose.scala:67-80) the same surface as
the built-in Kafka sink::

    register_firehose_source(spark)
    framed.write.format("firehose").option("streamName", "s").save()        # batch
    stream.writeStream.format("firehose").option("streamName", "s").start() # streaming

Contract (mirrors the Kafka sink): the DataFrame must have a single ``value``
column (binary or string) — use ``firehose.serializers.serialize_and_frame``
to serialize+frame arbitrary rows.  Each executor partition slices its rows
into ≤500-record requests (A2's count bound) and delivers with
shrink-to-failed retry (A8, Firehose.scala:70-105 semantics); commit messages
aggregate per-partition delivery accounting back on the driver.

Options: ``streamName`` (required), ``batchSize`` (≤500), ``maxBatchBytes``
(≤4 MiB), ``maxRecordBytes`` (≤1,000 KiB), ``maxRetries``, ``baseBackoffMs``,
``separator`` (appended if the upstream didn't frame), ``spoolDir`` (use the
in-memory fake client, spooling for observation — tests/CI),
region/endpoint passthrough for the real boto3 client.  They are parsed into
one ``ProducerSettings``, so a value outside the AWS quotas raises at
``save()``/``start()``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)

from fs2_kinesis_firehose_spark.firehose.client import (
    boto3_client_factory,
    fake_client_factory,
)
from fs2_kinesis_firehose_spark.firehose.retry import put_batch_with_retry
from fs2_kinesis_firehose_spark.firehose.settings import (
    MAX_BATCH_BYTES,
    MAX_BATCH_SIZE,
    MAX_RECORD_BYTES,
    ProducerSettings,
    RetryPolicy,
)


@dataclass
class FirehoseCommitMessage(WriterCommitMessage):
    partition_id: int
    n_requests: int
    n_records: int
    failed_records: int


class _WriterCore:
    """Shared executor-side write loop for batch and streaming writers."""

    def __init__(self, options: dict[str, str]) -> None:
        # normalize option keys (Spark lowercases DataSource option names)
        opts = {k.lower(): v for k, v in options.items()}
        if not opts.get("streamname"):
            raise ValueError("firehose source requires .option('streamName', ...)")
        # ProducerSettings owns the quota range checks and the record clamp
        self.settings = ProducerSettings(
            stream_name=opts["streamname"],
            batch_size=int(opts.get("batchsize", MAX_BATCH_SIZE)),
            separator=opts.get("separator", "").encode(),
            retry=RetryPolicy(
                max_retries=int(opts.get("maxretries", RetryPolicy.max_retries)),
                base_backoff_s=float(opts.get("basebackoffms", 500)) / 1000.0,
            ),
            max_batch_bytes=int(opts.get("maxbatchbytes", MAX_BATCH_BYTES)),
            max_record_bytes=int(opts.get("maxrecordbytes", MAX_RECORD_BYTES)),
        )
        if opts.get("spooldir"):
            self.client_factory = fake_client_factory(spool_dir=opts["spooldir"])
        else:
            endpoint = {"endpoint_url": opts["endpoint"]} if opts.get("endpoint") else {}
            self.client_factory = boto3_client_factory(opts.get("region"), **endpoint)

    def write(self, iterator: Iterator[Any]) -> FirehoseCommitMessage:
        from pyspark import TaskContext

        from fs2_kinesis_firehose_spark.firehose.batching import slice_requests

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        settings = self.settings
        client = self.client_factory()
        n_requests = n_records = failed = 0

        def payloads() -> Iterator[bytes]:
            for row in iterator:
                v = row["value"]
                payload = v.encode() if isinstance(v, str) else bytes(v)
                if settings.separator:
                    payload += settings.separator
                yield payload

        for buf, _bytes in slice_requests(
            payloads(),
            batch_size=settings.batch_size,
            max_batch_bytes=settings.max_batch_bytes,
            max_record_bytes=settings.max_record_bytes,
        ):
            resp = put_batch_with_retry(
                client, settings.stream_name, [{"Data": p} for p in buf], settings.retry
            )
            n_requests += 1
            n_records += len(buf)
            failed += int(resp.get("FailedPutCount", 0))
        return FirehoseCommitMessage(
            partition_id=pid, n_requests=n_requests, n_records=n_records, failed_records=failed
        )


class FirehoseBatchWriter(DataSourceWriter):
    def __init__(self, options: dict[str, str]) -> None:
        self.core = _WriterCore(options)

    def write(self, iterator: Iterator[Any]) -> FirehoseCommitMessage:
        return self.core.write(iterator)

    def commit(self, messages: list[FirehoseCommitMessage]) -> None:  # driver-side
        total_failed = sum(m.failed_records for m in messages if m)
        if total_failed:
            raise RuntimeError(f"firehose delivery incomplete: {total_failed} records failed")


class FirehoseStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict[str, str]) -> None:
        self.core = _WriterCore(options)

    def write(self, iterator: Iterator[Any]) -> FirehoseCommitMessage:
        return self.core.write(iterator)

    def commit(self, messages: list[FirehoseCommitMessage], batchId: int) -> None:
        total_failed = sum(m.failed_records for m in messages if m)
        if total_failed:
            raise RuntimeError(
                f"firehose delivery incomplete in batch {batchId}: {total_failed} failed"
            )

    def abort(self, messages: list[FirehoseCommitMessage], batchId: int) -> None:
        # at-least-once: delivered records of an aborted batch may duplicate
        # (same contract as the reference's retry, SURVEY.md §7 hard-part 3)
        pass


class FirehoseDataSource(DataSource):
    """``format("firehose")`` — write-only (Firehose is write-only by nature;
    SURVEY.md §2: the reference never reads a stream)."""

    @classmethod
    def name(cls) -> str:
        return "firehose"

    def schema(self) -> str:
        return "value binary"

    def writer(self, schema: Any, overwrite: bool) -> FirehoseBatchWriter:
        self._check_schema(schema)
        return FirehoseBatchWriter(self.options)

    def streamWriter(self, schema: Any, overwrite: bool) -> FirehoseStreamWriter:
        self._check_schema(schema)
        return FirehoseStreamWriter(self.options)

    @staticmethod
    def _check_schema(schema: Any) -> None:
        names = [f.name for f in schema.fields]
        if names != ["value"]:
            raise ValueError(
                f"firehose sink expects exactly one 'value' column (binary/string), got {names}; "
                "use serialize_and_frame() upstream"
            )


def register_firehose_source(spark) -> None:
    spark.dataSource.register(FirehoseDataSource)
