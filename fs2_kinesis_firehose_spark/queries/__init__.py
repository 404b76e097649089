"""Query catalog for the driver harness (``__spark_entry__.py``).

Every implemented operator from SURVEY.md §2 registers here via the
``@query(name, oracle=...)`` decorator:

- ``QUERIES[name]``  — ``(spark, sf_dir) -> DataFrame`` (idiomatic DataFrame API).
- ``ORACLES[name]``  — equivalent ANSI SQL that DuckDB runs over the same
  parquet tables.  Column names are aliased identically on both sides because
  the driver sorts columns by name before value-hashing.

Queries whose semantics are not SQL-expressible (hash-seeded MinHash, streaming
state machines) register WITHOUT an oracle; the driver then records a weaker
rows-only check and pytest covers semantics against ground truth instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent).  Registration
    order is module-import order."""
    from fs2_kinesis_firehose_spark.queries import (  # noqa: F401
        cluster_q,
        curation_q,
        dq_q,
        format_q,
        graph_q,
        layout_q,
        llm,
        relational,
        retrieval_q,
        robust_q,
        sinkq,
        sketch_q,
        stats_q,
        streaming_q,
        stringsim_q,
        temporal_q,
        tpch_q,
        upsert_q,
        url_q,
    )

