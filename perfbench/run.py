#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics untraced, the per-layer metrics traced). The exit code is 0 only when
every output check passed. Workloads, metrics and the layer predictions are
described in ``perfbench/LAYERS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench.metrics import report  # noqa: E402
from perfbench.tracing import SPAN_PROPERTY, MemorySampler, Tracer, descendants  # noqa: E402

SETUP_REPS = 3


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of the machine's RAM, between 1 GiB and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(max(total_kib // 8 // 1024, 1024), 4096)}m"


def configure_env(work: Path) -> None:
    """Machine-derived settings, exported before the JVM starts so it and the
    Python workers inherit them; every temporary path lives under ``work``."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


class Run:
    """State of one benchmark run: the session, the tracer and the work
    directory, shared by the workload code."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool, work: Path):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.cpus = nproc()
        self.nonce = uuid.uuid4().hex
        self.tracer = Tracer(traced, trace_id=f"{workload}-{seed}-{self.nonce[:8]}")
        self.spark = None
        self.event_log_dir = work / "eventlog"

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.traced:
            self.event_log_dir.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start_session(self) -> None:
        """A fresh SparkSession; the first call also boots the JVM."""
        from fs2_kinesis_firehose_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", extra_conf=self.conf())

    def span(self, name: str):
        """A tracer span whose Spark jobs carry ``name`` as their
        ``perfbench.span`` local property."""
        return _JobSpan(self, name)

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for every child process."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        _reap_children()


class _JobSpan:
    def __init__(self, run: Run, name: str):
        self.run, self.name = run, name

    def __enter__(self):
        self._span = self.run.tracer.span(self.name)
        self.id = self._span.__enter__()
        if self.run.traced:
            self.run.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, self.name)
        return self

    def __exit__(self, *exc):
        if self.run.traced and self.run.spark is not None:
            self.run.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, None)
        return self._span.__exit__(*exc)


def _reap_children(timeout_s: float = 20.0) -> None:
    """Wait for every descendant process to end; kill what outlives the
    timeout."""
    deadline = time.time() + timeout_s
    while (kids := descendants(os.getpid())) and time.time() < deadline:
        for pid, _ in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
    for pid, _ in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def load_workload(name: str):
    from perfbench import catalog_mix, sink_bulk, stream_open_loop

    workloads = {m.NAME: m for m in (sink_bulk, stream_open_loop, catalog_mix)}
    if name not in workloads:
        raise SystemExit(f"unknown workload {name!r}; expected one of {sorted(workloads)}")
    return workloads[name]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "fs2_kinesis_firehose_spark" / "__init__.py").is_file():
        log(f"the program's package fs2_kinesis_firehose_spark is not in {ROOT}")
        return 2
    module = load_workload(args.workload)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    configure_env(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    workload = module.Workload(run)
    starts, setups = [], []
    try:
        with MemorySampler(os.getpid()) as mem:
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                with run.tracer.span("session:start"):
                    run.start_session()
                t1 = time.perf_counter()
                with run.tracer.span("session:inputs"):
                    workload.prepare(rep)
                t2 = time.perf_counter()
                starts.append(t1 - t0)
                setups.append(t2 - t0)
                log(f"set-up {rep + 1}/{SETUP_REPS}: session {t1 - t0:.2f} s, "
                    f"inputs {t2 - t1:.2f} s")
            t0 = time.perf_counter()
            with run.tracer.span("session:warmup"):
                workload.warm_up()
            t1 = time.perf_counter()
            warmup = t1 - t0
            workload.measure()
            t2 = time.perf_counter()
            mem.sample()
        # the checks run after the timer and outside the memory window
        problems = workload.check()
        log(f"warm-up {warmup:.2f} s, measured {t2 - t1:.2f} s, "
            f"checked {time.perf_counter() - t2:.2f} s")
        end_to_end = {
            "setup_s": statistics.median(setups) + warmup,
            "peak_pss_mb": mem.peak_bytes / 2**20,
            **workload.end_to_end(),
        }
        attempted, failed = workload.attempted, workload.failed
        end_to_end["success_rate"] = (attempted - failed) / attempted
        run.stop()
        per_layer = {}
        if run.traced:
            per_layer = {
                "session.boot_s": starts[0],
                "session.start_s": statistics.median(starts),
                "session.warmup_s": warmup,
                **workload.per_layer(),
            }
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        log(f"CHECK FAILED: {p}")
    if run.traced:
        metrics = report("per_layer", per_layer)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        with open(out_dir / f"{args.workload}-seed{args.seed}-trace.json", "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "correct": not problems, "problems": problems,
                "end_to_end": end_to_end, "per_layer": per_layer,
                "layers_covered": sorted(run.tracer.covered_layers()),
                "peak_pss_processes": mem.peak_processes,
                "spans": run.tracer.spans,
            }, f, indent=1)
    else:
        metrics = report("end_to_end", end_to_end)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
