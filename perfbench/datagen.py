"""Seeded inputs for every workload. The same seed gives the same inputs.

- ``record_table``: the FIXTURES.md §A record shape (``record_id``,
  ``payload`` binary of 20–1000 B, ``ts``), built by Spark expressions so a
  large table costs no driver memory; ``expected_record_json`` restates each
  record's JSON line in plain Python for the output check.
- ``event_schedule``: the open-loop generator's events, one list per tick;
  ``flag_fail_once`` picks the ones the bench client fails on their first put.
- ``write_catalog_tables``: TESTDATA-shaped parquet tables for the catalog
  mix (the tables its queries read), written with pyarrow.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import os

import numpy as np

TS_BASE = 1704067200  # 2024-01-01T00:00:00Z


# --- sink_bulk records -----------------------------------------------------

def record_table(spark, seed: int, n: int, partitions: int):
    from pyspark.sql import functions as F

    return (
        spark.range(0, n, numPartitions=partitions)
        .select(
            F.col("id").alias("record_id"),
            F.sha2(F.concat_ws(":", F.lit(str(seed)), F.col("id").cast("string")), 256)
            .alias("h"),
        )
        .select(
            "record_id",
            F.expr(
                "substring(unhex(repeat(h, 32)), 1,"
                " 20 + pmod(cast(conv(substring(h, 1, 4), 16, 10) as int), 981))"
            ).alias("payload"),
            F.timestamp_seconds(F.lit(TS_BASE) + F.col("record_id")).alias("ts"),
        )
    )


def expected_record_json(seed: int, i: int) -> bytes:
    """The framed JSON line ``write_batch(serializer="json")`` must deliver
    for record ``i``."""
    h = hashlib.sha256(f"{seed}:{i}".encode()).hexdigest()
    payload = (bytes.fromhex(h) * 32)[: 20 + int(h[:4], 16) % 981]
    ts = dt.datetime.fromtimestamp(TS_BASE + i, dt.timezone.utc)
    return (
        f'{{"record_id":{i},"payload":"{base64.b64encode(payload).decode()}",'
        f'"ts":"{ts:%Y-%m-%dT%H:%M:%S}.000Z"}}\n'
    ).encode()


# --- stream_open_loop events -----------------------------------------------

def event_schedule(seed: int, ticks: int, per_tick: int, n_users: int,
                   zipf_a: float) -> list[list[tuple[int, int, float, bool]]]:
    """``ticks`` files of ``per_tick`` events ``(event_id, user_id, value,
    fail_once)``, none flagged ``fail_once`` yet. ``user_id`` is Zipf-skewed;
    ``value`` is a multiple of 0.25, so sums are exact in floating point
    whatever order they are added in."""
    rng = np.random.default_rng([seed, 1])
    n = ticks * per_tick
    users = (rng.zipf(zipf_a, size=n) - 1) % n_users
    values = rng.integers(0, 4000, size=n) / 4.0
    ids = np.arange(n)
    return [
        [(i, u, v, False) for i, u, v in zip(ids[t * per_tick:(t + 1) * per_tick].tolist(),
                                             users[t * per_tick:(t + 1) * per_tick].tolist(),
                                             values[t * per_tick:(t + 1) * per_tick].tolist())]
        for t in range(ticks)
    ]


def flag_fail_once(seed: int, files: list[list[tuple]], group: int, every: int) -> int:
    """Flag one event ``fail_once`` in every ``every``-th run of ``group``
    consecutive files, from a seeded offset; the file and the event within
    the run are seeded too. Returns the number flagged, which is
    ``len(files) // (group * every)`` whatever the seed."""
    rng = np.random.default_rng([seed, 3])
    span = group * every
    offset = int(rng.integers(every)) * group
    flagged = 0
    for start in range(0, len(files) - span + 1, span):
        f = files[start + offset + int(rng.integers(group))]
        k = int(rng.integers(len(f)))
        f[k] = f[k][:3] + (True,)
        flagged += 1
    return flagged


def event_json(event: tuple[int, int, float, bool], created_ms: int) -> str:
    """One event as the generator writes it, and (with the produce query's
    serializer) as the sink must deliver it."""
    event_id, user_id, value, fail_once = event
    return (f'{{"event_id":{event_id},"user_id":{user_id},"value":{value!r},'
            f'"created_ms":{created_ms},"fail_once":{"true" if fail_once else "false"}}}')


FAIL_ONCE_MARKER = b'"fail_once":true'

EVENT_SCHEMA = ("event_id BIGINT, user_id BIGINT, value DOUBLE, created_ms BIGINT, "
                "fail_once BOOLEAN")


# --- catalog_mix tables ----------------------------------------------------

_WORDS = ("join hash row batch scan customer column filter small slow merge order "
          "vector line data table agg value key stream window spark a group part big "
          "sort query fast the shuffle").split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]


def write_catalog_tables(seed: int, out_dir: str, *, n_orders: int, n_parts: int,
                         n_customers: int, n_docs: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    write("customer", {
        "c_custkey": np.arange(n_customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_customers),
    })

    day = np.timedelta64(1, "D")
    orderdate = np.datetime64("1995-01-01", "us") + rng.integers(0, 2400, n_orders) * day
    write("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": orderdate,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })

    lines = np.minimum(1 + rng.poisson(3.0, n_orders), 13)
    n_lines = int(lines.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    linenumber = np.arange(n_lines) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    write("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_parts, n_lines),
        "l_suppkey": rng.integers(0, 100, n_lines),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": np.repeat(orderdate, lines) + rng.integers(1, 122, n_lines) * day,
    })

    # Each language draws the shared vocabulary with its own Zipf ranking, so
    # character n-grams carry the label; one document in ten is a near copy
    # of an earlier one, so the similarity queries have pairs to find.
    ranks = {lang: rng.permutation(len(_WORDS)) for lang in _LANGS}
    zipf_p = 1.0 / np.arange(1, len(_WORDS) + 1) ** 0.8
    zipf_p /= zipf_p.sum()
    langs = rng.choice(_LANGS, n_docs, p=_LANG_P)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = "dup"
            else:
                words.append("dup")
        else:
            picks = rng.choice(len(_WORDS), int(rng.integers(8, 90)), p=zipf_p)
            words = [_WORDS[ranks[langs[i]][k]] for k in picks]
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
