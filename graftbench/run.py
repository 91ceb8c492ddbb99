"""Run one benchmark workload and print its metrics.

    python3 graftbench/run.py --workload snapshot_full_load --seed 1 \
        --seconds 6 --trace 0

Run it from the repository root. One process drives one closed-loop
client against Spark local[nproc]. The seeded inputs are generated
first, untimed. setup_s is then the set-up a user of a fresh process
pays: JVM launch, first Spark session, builds and checked warm-up
operations. It is measured once per run, always from a fresh JVM, so
every sample is cold; a repeat would need another JVM. Then operations
run back to back for --seconds, each followed by its untimed output
check, ending on a whole cycle of the workload's schedule.

--trace 0 prints the end-to-end metrics. --trace 1 repeats the
measurement in a second session with Spark's event log on and spans
around every layer call, and prints the per-layer metrics, including the
tracing overhead against the untraced pass of the same run.

stdout ends with three JSON lines: the pinned environment, the
workload's own report (every metric with unit and sample count), and the
result object {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"
DEADLINE_S = 170  # hard stop, below the 180 s a run may take

# Every workload reports every one of these (see README.md for what each
# means per workload); the workload-specific metrics go to the report.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "answer_recall": "ratio",
    "answer_precision": "ratio",
}
PER_LAYER = {
    "jobs.run_snapshot.s": "s",
    "jobs.source_passes": "count",
    "jobs.driver_only.s": "s",
    "sources.scan.s": "s",
    "sources.rows_read": "count",
    "sources.bytes_read": "B",
    "functions.sanitize.s": "s",
    "operators.snapshot.pipeline.s": "s",
    "operators.snapshot.shuffle_bytes": "B",
    "operators.snapshot.shuffle_records": "count",
    "operators.snapshot.kept_ratio": "ratio",
    "sinks.idempotent.write.s": "s",
    "sinks.idempotent.task_run_ms": "ms",
    "sinks.idempotent.rows_sent": "count",
    "sinks.idempotent.batches": "count",
    "sinks.idempotent.retries": "count",
    "sinks.idempotent.rows_applied_ratio": "ratio",
    "sinks.idempotent.db_bytes_per_user_byte": "ratio",
    "sinks.control.validate.s": "s",
    "operators.dedup.lsh_candidates.s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.true_pair_ratio": "ratio",
    "operators.dedup.shuffle_bytes": "B",
    "operators.components.dedup_clusters.s": "s",
    "operators.components.dedup_clusters.jobs": "count",
    "operators.components.dedup_clusters.shuffle_records": "count",
    "operators.components.canonical_keep.s": "s",
    "operators.inverted_index.build.s": "s",
    "operators.inverted_index.append.s": "s",
    "operators.inverted_index.search.plan.s": "s",
    "operators.inverted_index.search.exec.s": "s",
    "operators.inverted_index.tasks_per_query": "count",
    "operators.inverted_index.bytes_read_per_query": "B",
    "operators.ivf_index.build.s": "s",
    "operators.ivf_index.append.s": "s",
    "operators.ivf_index.search.plan.s": "s",
    "operators.ivf_index.search.exec.s": "s",
    "operators.ivf_index.tasks_per_query": "count",
    "operators.ivf_index.bytes_read_per_query": "B",
    "operators.similarity.brute_force.s": "s",
    "session.jobs": "count",
    "session.tasks": "count",
    "session.executor_run_ms": "ms",
    "session.executor_cpu_ms": "ms",
    "session.shuffle_write_bytes": "B",
    "session.shuffle_write_records": "count",
    "session.spill_bytes": "B",
    "session.gc_ms": "ms",
    "tracing.overhead_frac": "ratio",
}
MIN_OPS = 3  # so that a slow first operation does not move the median

_CALIB = "s = 0\nfor i in range(2_000_000):\n    s += i * i\n"


def pin_environment(work: str) -> dict:
    """Pin cores, shuffle width, driver memory, executor PYTHONPATH and
    scratch dirs before the JVM starts; everything stays in `work`."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_SHUFFLE": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            # Python workers import the engine; without this they fail with
            # ModuleNotFoundError when launched outside the repo root.
            "PYTHONPATH": os.pathsep.join([ROOT] + ([path] if path else [])),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "TZ": "UTC",
        }
    )
    time.tzset()
    return {"nproc": nproc, "driver_memory": DRIVER_MEM, "loadavg_start": os.getloadavg()}


def calibrate(nproc: int) -> dict:
    """Wall time of a fixed CPU loop alone and on all nproc cores at once;
    a par/serial ratio well above 1 means the host was busy."""

    def timed(n: int) -> float:
        t0 = time.perf_counter()
        procs = [subprocess.Popen([sys.executable, "-c", _CALIB]) for _ in range(n)]
        for p in procs:
            p.wait()
        return time.perf_counter() - t0

    serial, par = timed(1), timed(nproc)
    return {"calib_serial_s": serial, "calib_par_s": par, "calib_par_ratio": par / serial}


def start_session(work: str, event_log: bool):
    from migrate_cassandra_to_mysql_spark.session import get_spark

    os.makedirs(f"{work}/eventlog", exist_ok=True)
    return get_spark(
        "graftbench",
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.eventLog.enabled": str(event_log).lower(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"{work}/eventlog",
        },
    )


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def shutdown_jvm(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for every process the
    JVM started (Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    kids = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except ProcessLookupError:
            pass
    SparkContext._gateway = SparkContext._jvm = None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


@dataclass
class Record:
    kind: str
    seconds: float
    outcome: object
    span: object = None
    probes: dict = field(default_factory=dict)


def one_op(wl, spark, tr, kind, arg, probe: bool = False) -> Record:
    from graftbench.workloads import Outcome

    wl.before(kind, arg)
    span = None
    t0 = time.perf_counter()
    try:
        with tr.span("op") as span:
            result = wl.run(spark, tr, kind, arg)
        seconds = time.perf_counter() - t0
        outcome = wl.check(kind, arg, result)
    except Exception:  # a failed operation is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        seconds, outcome = time.perf_counter() - t0, Outcome(False)
    rec = Record(kind, seconds, outcome, span)
    if probe and outcome.ok:
        rec.probes = wl.probe(spark, tr, kind, arg, result)
    wl.after(spark)
    return rec


def measure(wl, spark, tr, seconds: float, probe: bool = False) -> list[Record]:
    """Operations back to back until `seconds` have passed, ending on a
    whole cycle of the workload's schedule."""
    records: list[Record] = []
    ops = wl.ops()
    deadline = time.perf_counter() + seconds
    while (
        len(records) < max(MIN_OPS, wl.cycle)
        or time.perf_counter() < deadline
        or len(records) % wl.cycle
    ):
        kind, arg = next(ops)
        records.append(one_op(wl, spark, tr, kind, arg, probe))
    return records


def set_up(wl, spark, tr):
    """Builds and checked warm-up operations."""
    from graftbench.workloads import SetupError

    wl.build(spark, tr)
    for kind, arg in wl.warm_up:
        rec = one_op(wl, spark, tr, kind, arg)
        if not rec.outcome.ok:
            raise SetupError(f"warm-up {kind} failed its check")


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest of p99.9/p99/p95/p90/p75/p50 with
    at least 10 samples beyond it (nearest rank)."""
    xs = sorted(values)
    for p in (99.9, 99, 95, 90, 75, 50):
        rank = max(1, -(-len(xs) * p // 100))
        if len(xs) - rank >= 10:
            return p, xs[int(rank) - 1]
    return None, None


def end_to_end(wl, records: list[Record], setup_s: float, hwm: float) -> tuple[dict, dict]:
    """(contract metrics, report) of one untraced measurement. The report
    carries every metric under its workload-specific name, with unit and
    sample count."""
    lat = [r.seconds for r in records]
    items = sum(r.outcome.items for r in records if r.outcome.ok) or 1
    if wl.unit == "requests":
        per_s = len(records) / sum(lat)  # closed loop: completed / busy time
    else:
        per_s = (items / len(records)) / statistics.median(lat)
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": per_s,
        "answer_recall": wl.answer_recall(records),
        "answer_precision": wl.answer_precision(records),
    }

    def entry(value, unit, n, **extra):
        return {"value": value, "unit": unit, "n": n, **extra}

    failed = sum(1 for r in records if not r.outcome.ok)
    report = {
        f"{wl.unit}_per_s": entry(per_s, "1/s", len(records)),
        "setup_s": entry(setup_s, "s", 1),
        "op_p50_ms": entry(statistics.median(lat) * 1000, "ms", len(lat),
                           samples=[x * 1000 for x in lat]),
        "failed_frac": entry(failed / len(records), "ratio", len(records)),
        "jvm_peak_rss_mb": entry(hwm, "MB", 1),
    }
    if wl.unit == "docs":
        report["dup_recall"] = entry(metrics["answer_recall"], "ratio", len(records))
        report["dup_precision"] = entry(metrics["answer_precision"], "ratio", len(records))
    if wl.unit == "requests":
        by_kind: dict[str, list[float]] = {}
        for r in records:
            by_kind.setdefault("append" if r.kind.startswith("append") else r.kind, []).append(
                r.seconds * 1000
            )
        for kind in ("bm25", "ann"):
            xs = by_kind.get(kind, [])
            p, v = tail(xs)
            report[f"{kind}_p50_ms"] = entry(statistics.median(xs) if xs else None, "ms", len(xs))
            report[f"{kind}_tail_ms"] = entry(v, "ms", len(xs), percentile=p)
        xs = by_kind.get("append", [])
        report["append_p50_ms"] = entry(statistics.median(xs) if xs else None, "ms", len(xs))
        report["ann_recall"] = entry(metrics["answer_recall"], "ratio", len(wl.input.ann_queries))
    return metrics, report


def per_layer(wl, rollup, records: list[Record], setup_spans, overhead: float) -> dict:
    samples: dict[str, list[float]] = {}
    for rec in records:
        if not rec.outcome.ok or rec.span is None:
            continue
        vals = wl.layer_values(rollup, rec)
        m = rollup.metrics(rec.span)
        for f in ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
                  "shuffle_write_bytes", "shuffle_write_records", "spill_bytes", "gc_ms"):
            vals[f"session.{f}"] = m[f]
        for k, v in vals.items():
            samples.setdefault(k, []).append(v)
    if hasattr(wl, "setup_values"):
        for k, v in wl.setup_values(rollup, setup_spans).items():
            samples.setdefault(k, []).append(v)
    samples["tracing.overhead_frac"] = [overhead]
    # A layer the workload does not call reports 0.
    return {k: statistics.median(samples[k]) if k in samples else 0.0 for k in PER_LAYER}


class DeadlineExceeded(BaseException):
    """Not an Exception, so one_op does not count it as a failed
    operation and carry on."""


def _deadline(signum, frame):
    raise DeadlineExceeded(f"the run took longer than {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # Raising lets the `finally` below stop the JVM and remove the work dir.
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    sys.path.insert(0, ROOT)
    try:
        import migrate_cassandra_to_mysql_spark  # noqa: F401
    except ImportError as exc:
        print(f"graftbench: the engine package is missing here: {exc}", file=sys.stderr)
        return 2
    from graftbench.spans import Rollup, Tracer, jobs_from_events, read_events
    from graftbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"graftbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".graftbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    spark = None
    try:
        env = pin_environment(work)
        env.update(calibrate(env["nproc"]))
        wl = WORKLOADS[args.workload](work, args.seed, env["nproc"])
        wl.generate()
        off = Tracer(enabled=False)
        t0 = time.perf_counter()
        spark = start_session(work, event_log=False)
        set_up(wl, spark, off)
        setup_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        plain = measure(wl, spark, off, args.seconds)
        if args.trace:
            spark.stop()
            spark = start_session(work, event_log=True)
            tr = Tracer(spark.sparkContext)
            with wl.instrumented(tr):
                n_setup = len(tr.spans)
                set_up(wl, spark, tr)
                setup_spans = tr.spans[n_setup:]
                traced = measure(wl, spark, tr, args.seconds, probe=True)
            spark.stop()  # closes the event log
            spark = None
            rollup = Rollup(tr.spans, jobs_from_events(read_events(f"{work}/eventlog")))
            overhead = (
                statistics.median(r.seconds for r in traced)
                / statistics.median(r.seconds for r in plain)
                - 1
            )
            records = plain + traced
            values = per_layer(wl, rollup, traced, setup_spans, overhead)
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}
            report = {"tracing.overhead_frac": {"value": overhead, "unit": "ratio",
                                                "n": len(traced)}}
        else:
            values, report = end_to_end(wl, plain, setup_s, vm_hwm_mb(jvm_pid))
            records = plain
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    finally:
        shutdown_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)
    signal.alarm(0)
    env["loadavg_end"] = os.getloadavg()
    failed = sum(1 for r in records if not r.outcome.ok)
    print(json.dumps({"env": env}))
    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": len(records), "failed": failed,
             "metrics": metrics}
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
