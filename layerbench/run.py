"""Layered benchmark of the relative-path table engine.

Usage (from the repository root):

    python3 layerbench/run.py --workload relocated_reads --seed 1 --seconds 17 --trace 0

One closed-loop client in one process drives a Spark session at
``local[k]``, with k set per workload. Ops run in whole rounds, at least
two, until their summed latency reaches ``--seconds``. Every op's answer
is checked against a model after its clock stops. Latencies are scaled
to a reference host speed by a fixed JVM call timed before each op. The
last stdout line is one JSON object: ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run
(see layerbench/README.md).
``--fault`` plants a wrong answer in one check kind, to show it fails.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import Counter, defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import scaled_latencies, tail_stats  # noqa: E402
from workloads import WORKLOADS, Context, QueryMix  # noqa: E402

DRIVER_MEM = "2g"  # fixed JVM heap, well below the host's memory
FAULTS = ("none", "count", "hash", "prune", "relocate", "oracle")
# two rounds at least, so that op_tail_ms can start from p75 with 10 or
# more samples beyond it
MIN_ROUNDS = 2
# The host's cores change speed by up to a third within a minute, with
# or without CPU steal, as other guests load the machine. A fixed call in
# the driver JVM is timed before every op, and latencies are reported
# at the speed at which that call takes PROBE_REF_S.
PROBE_REF_S = 0.020
PROBE_WARMUP = 20


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", choices=FAULTS, default="none")
    ap.add_argument("--spans", help="traced runs: write every span to this JSON file")
    return ap.parse_args(argv)


def engine_importable(root: str) -> bool:
    sys.path.insert(0, root)
    try:
        import __spark_entry__  # noqa: F401
        import iceberg_relative_io_spark  # noqa: F401
    except ImportError as exc:
        print(f"layerbench: the engine is not importable from {root}: {exc}", file=sys.stderr)
        return False
    return True


def start_spark(run_dir: str, cores: int):
    """Session with a fixed heap and every scratch file under run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    from iceberg_relative_io_spark.session import get_spark

    # get_spark derives local[k] and the shuffle partitions from SPARK_GRAFT_CPUS
    return get_spark(
        app_name="layerbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            # a heap of fixed size, which neither grows nor shrinks in a run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak RSS of the Python driver, plus the JVM's peak non-heap use
    (metaspace, code cache) and the heap the program still holds after
    a full collection at the end of the timed run. The JVM's resident
    size and its heap pools' peaks follow G1's sizing policy (when it
    collects), not what the program keeps alive."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    memory = mgmt.getMemoryMXBean()
    memory.gc()
    mb = {
        "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "heap after full GC": memory.getHeapMemoryUsage().getUsed() / 2**20,
    }
    for pool in mgmt.getMemoryPoolMXBeans():
        if pool.getType().name() == "NON_HEAP":
            mb[pool.getName()] = pool.getPeakUsage().getUsed() / 2**20
    print("layerbench: memory MB " + ", ".join(f"{k}={v:.0f}" for k, v in mb.items()), flush=True)
    return sum(mb.values())


def probe_s(spark) -> float:
    """Time of a fixed CPU-bound call in the driver JVM: 3**300000."""
    big = spark._jvm.java.math.BigInteger
    start = time.perf_counter()
    big.valueOf(3).pow(300000).bitLength()
    return time.perf_counter() - start


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


class OpRecord:
    __slots__ = ("index", "kind", "latency", "probe", "ok", "jobs", "tasks")

    def __init__(self, index: int, kind: str, latency: float, probe: float):
        self.index, self.kind, self.latency, self.probe = index, kind, latency, probe
        self.ok: bool | None = None
        self.jobs = self.tasks = 0


class SparkJobs:
    """Jobs and tasks per op, via job groups and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def group(self, op: int, part: str = "") -> str:
        name = f"layerbench-op{op}{part}"
        self.sc.setJobGroup(name, name)
        return name

    def jobs(self, op: int, parts=("", "-build", "-exec")) -> list[int]:
        out = []
        for part in parts:
            out += list(self.tracker.getJobIdsForGroup(f"layerbench-op{op}{part}"))
        return out

    def stages(self, jobs: list[int]) -> list[int]:
        out = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                out += list(info.stageIds)
        return out

    def tasks(self, jobs: list[int]) -> int:
        n = 0
        for s in self.stages(jobs):
            info = self.tracker.getStageInfo(s)
            if info is not None:
                n += info.numTasks
        return n


def streaming_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Batches(StreamingQueryListener):
        def __init__(self):
            self.active = False
            self.durations: list[float] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if self.active:
                self.durations.append(float(event.progress.batchDuration))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Batches()
    spark.streams.addListener(listener)
    return listener


def python_worker_ms(spark) -> float:
    collector = getattr(spark, "_profiler_collector", None)
    if collector is None:
        return 0.0
    stats = collector._perf_profile_results
    return 1000.0 * sum(s.total_tt for s in stats.values())


def run(args, run_dir: str) -> dict:
    t0 = time.perf_counter()
    spark = start_spark(run_dir, WORKLOADS[args.workload].task_threads)
    session_s = time.perf_counter() - t0
    tracer = None
    if args.trace:
        from spans import Tracer, instrument

        tracer = Tracer()
        instrument(tracer)
    ctx = Context(spark, args.seed, run_dir, args.fault, tracer)
    workload = WORKLOADS[args.workload](ctx)
    try:
        t1 = time.perf_counter()
        workload.setup_fixture()
        t2 = time.perf_counter()
        workload.warmup()
        for _ in range(PROBE_WARMUP):
            probe_s(spark)
        t3 = time.perf_counter()
        setup = {"session_s": session_s, "fixture_s": t2 - t1, "warmup_s": t3 - t2}
        return measure(args, spark, ctx, workload, tracer, setup)
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        stop_spark(spark)


def measure(args, spark, ctx, workload, tracer, setup: dict) -> dict:
    jobs = SparkJobs(spark) if tracer else None
    listener = None
    if tracer:
        listener = streaming_listener(spark)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        listener.active = True
    gc0 = jvm_gc_ms(spark) if tracer else 0.0
    records: list[OpRecord] = []
    timed = 0.0
    rounds = 0
    first_op_at = None
    while rounds < MIN_ROUNDS or timed < args.seconds:
        for item in workload.round(rounds):
            idx = len(records)
            ctx.op_index = idx
            probe = probe_s(spark)
            if tracer:
                jobs.group(idx)
                tracer.set_op(idx)
                span = tracer.begin("op")
            start = time.perf_counter()
            if first_op_at is None:
                first_op_at = start
            error = None
            try:
                result = item.run()
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                error, result = exc, None
                traceback.print_exc()
            latency = time.perf_counter() - start
            if tracer:
                tracer.end(span)
                tracer.set_op(None)
            timed += latency
            rec = OpRecord(idx, item.kind, latency, probe)
            records.append(rec)
            if error is not None:
                print(f"layerbench: op {idx} {item.kind} raised {error!r}", file=sys.stderr)
                rec.ok = False
            else:
                try:
                    rec.ok = item.check(result)
                except Exception:  # noqa: BLE001 — a failed check is counted, not fatal
                    print(f"layerbench: check of op {idx} raised", file=sys.stderr)
                    traceback.print_exc()
                    rec.ok = False
            if tracer:
                job_ids = jobs.jobs(idx)
                rec.jobs, rec.tasks = len(job_ids), jobs.tasks(job_ids)
        workload.after_round()
        rounds += 1
    if tracer:
        listener.active = False
    # read before the oracle runs, so the checker's memory is not counted;
    # not in traced runs, whose spark.jvm_gc_ms would count its full GC
    peak_mb = None if tracer else peak_rss_mb(spark)
    if isinstance(workload, QueryMix):
        verdict = workload.oracle_verdicts()
        for rec in records:
            if rec.ok is None:
                rec.ok = verdict.get(rec.kind, False)

    n = len(records)
    raw = [r.latency for r in records]
    probes = [r.probe for r in records]
    lat = scaled_latencies(raw, probes, PROBE_REF_S)
    ok = sum(1 for r in records if r.ok)
    pct, tail, beyond = tail_stats(lat)
    print(
        f"layerbench: workload={args.workload} seed={args.seed} rounds={rounds} "
        f"ops={n} ok={ok} timed_s={timed:.3f}; median over {n} samples; "
        f"tail = mean of the {beyond} samples above p{pct}; setup "
        + " ".join(f"{k}={v:.2f}" for k, v in setup.items()),
        flush=True,
    )
    raw_tail = tail_stats(raw)[1]
    print(
        f"layerbench: host probe median_ms={1000 * statistics.median(probes):.2f} "
        f"(reference {1000 * PROBE_REF_S:.0f}); unscaled ops_per_s={n / timed:.3f} "
        f"op_p50_ms={1000 * statistics.median(raw):.1f} "
        f"op_tail_ms={1000 * raw_tail if raw_tail else float('nan'):.1f}",
        flush=True,
    )
    for kind in sorted({r.kind for r in records}):
        ks = [x for r, x in zip(records, lat) if r.kind == kind]
        print(f"layerbench:   {kind:28s} n={len(ks):3d} median_ms={1000 * statistics.median(ks):9.1f}")
    for name, qs in sorted(getattr(workload, "query_stats", {}).items()):
        print("layerbench:   query " + name + " " + " ".join(
            f"{k}={statistics.fmean(v):.1f}" for k, v in qs.items()))
    result = {"correct": ok == n, "attempted": n, "failed": n - ok}
    if not tracer:
        if tail is None:
            print("layerbench: too few ops for op_tail_ms", file=sys.stderr)
            tail = max(lat)
        metrics = {
            "setup_s": (first_op_at - PROCESS_START, "s"),
            "ops_per_s": (n / sum(lat), "1/s"),
            "op_p50_ms": (1000 * statistics.median(lat), "ms"),
            "op_tail_ms": (1000 * tail, "ms"),
            "ok_ratio": (ok / n, "ratio"),
            "space_amp": (workload.space_amp(), "ratio"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
    else:
        print_attribution(tracer, records)
        metrics = layer_metrics(spark, workload, tracer, records, setup, sum(lat), gc0, listener)
        if args.spans:
            with open(args.spans, "w") as fh:
                json.dump([s.__dict__ for s in tracer.spans], fh)
    result["metrics"] = {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}
    return result


def print_attribution(tracer, records) -> None:
    """Per op kind: self time of each layer, in ms per op. A layer is a
    span name's module part; the op span's own self time is what no
    engine or benchmark span covers."""
    kind_of = {r.index: r.kind for r in records}
    per_kind = Counter(r.kind for r in records)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for i, span in enumerate(tracer.spans):
        if span.op is None:
            continue
        if span.name == "op":
            layer = "unattributed"
        elif span.name.startswith(("operators.", "spark.")):
            layer = span.name
        else:
            layer = span.name.split(".")[0]
        acc[kind_of[span.op]][layer] += tracer.self_time(i)
    for kind in sorted(acc):
        print(f"layerbench:   layers {kind} " + " ".join(
            f"{layer}={1000 * v / per_kind[kind]:.1f}" for layer, v in sorted(acc[kind].items())))


def layer_metrics(spark, workload, tracer, records, setup, scaled_s, gc0, listener) -> dict:
    from iceberg_relative_io_spark import caches

    n = len(records)
    c = tracer.counters

    def per_op(v):
        return v / n

    planned, total = c["spark_table.files_planned"], c["spark_table.files_total"]
    gap, op_time = tracer.unattributed_s()
    stats = getattr(workload, "query_stats", {})
    q = {name: stats.get(name, {}) for name in QueryMix.HEAVY + QueryMix.CHEAP}
    qstats = [s for s in q.values() if s]

    def q_total(key):
        return sum(sum(s.get(key, [])) for s in qstats)

    batches = listener.durations
    m = {
        "setup.session_s": (setup["session_s"], "s"),
        "setup.fixture_s": (setup["fixture_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "fs_catalog.load_table_ms": (per_op(tracer.total_ms("fs_catalog.load_table")), "ms/op"),
        "fs_catalog.load_table_calls": (per_op(tracer.calls("fs_catalog.load_table")), "1/op"),
        "table_ops.refresh_ms": (per_op(tracer.total_ms("table_ops.refresh")), "ms/op"),
        "table_ops.refresh_calls": (per_op(tracer.calls("table_ops.refresh")), "1/op"),
        "table_ops.commit_ms": (per_op(tracer.total_ms("table_ops.commit")), "ms/op"),
        "table_ops.commit_calls": (per_op(tracer.calls("table_ops.commit")), "1/op"),
        "table_ops.metadata_bytes_written": (per_op(c["table_ops.metadata_bytes_written"]), "B/op"),
        "fileio.read_calls": (per_op(tracer.calls("fileio.read.")), "1/op"),
        "fileio.read_bytes": (per_op(c["fileio.read_bytes"]), "B/op"),
        "fileio.list_calls": (per_op(tracer.calls("fileio.list.")), "1/op"),
        "fileio.write_calls": (per_op(tracer.calls("fileio.write.")), "1/op"),
        "fileio.write_bytes": (per_op(c["fileio.write_bytes"]), "B/op"),
        "fileio.self_ms": (per_op(tracer.self_ms("fileio.")), "ms/op"),
        "avro_ocf.decode_ms": (per_op(tracer.total_ms("avro_ocf.decode")), "ms/op"),
        "avro_ocf.records_decoded": (per_op(c["avro_ocf.records_decoded"]), "1/op"),
        "avro_ocf.encode_ms": (per_op(tracer.total_ms("avro_ocf.encode")), "ms/op"),
        "spark_table.plan_ms": (per_op(tracer.total_ms("spark_table.plan.")), "ms/op"),
        "spark_table.files_planned": (per_op(planned), "1/op"),
        "spark_table.files_total": (per_op(total), "1/op"),
        "spark_table.prune_ratio": (planned / total if total else 0.0, "ratio"),
        "spark_table.chain_len": (
            c["spark_table.chain_len"] / c["spark_table.plans"] if c["spark_table.plans"] else 0.0,
            "snapshots"),
        "spark_table.write_ms": (per_op(tracer.total_ms("spark_table.write.")), "ms/op"),
        "iceberg_export.write_ms": (per_op(tracer.total_ms("iceberg_export.write.")), "ms/op"),
        "iceberg_export.read_ms": (per_op(tracer.total_ms("iceberg_export.read.")), "ms/op"),
        "operators.build_ms": (per_op(q_total("build_ms")), "ms/op"),
        "operators.build_jobs": (per_op(q_total("build_jobs")), "1/op"),
        "operators.catalyst_ms": (per_op(q_total("catalyst_ms")), "ms/op"),
        "operators.exec_ms": (per_op(q_total("exec_ms")), "ms/op"),
        "operators.exec_stages": (per_op(q_total("exec_stages")), "1/op"),
        "spark.jobs": (per_op(sum(r.jobs for r in records)), "1/op"),
        "spark.tasks": (per_op(sum(r.tasks for r in records)), "1/op"),
        "spark.python_worker_ms": (per_op(python_worker_ms(spark)), "ms/op"),
        "spark.jvm_gc_ms": (per_op(jvm_gc_ms(spark) - gc0), "ms/op"),
        "streaming.batches": (per_op(len(batches)), "1/op"),
        "streaming.batch_ms_p50": (statistics.median(batches) if batches else 0.0, "ms"),
        "caches.persisted_count": (caches.persisted_count(), "count"),
        "trace.ops_per_s": (n / scaled_s, "1/s"),
        "trace.unattributed_share": (gap / op_time if op_time else 0.0, "ratio"),
    }
    for name, s in q.items():
        runs = len(s.get("build_ms", [])) or 1
        m[f"operators.build_jobs.{name}"] = (sum(s.get("build_jobs", [])) / runs, "jobs")
        m[f"operators.build_ms.{name}"] = (sum(s.get("build_ms", [])) / runs, "ms")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not engine_importable(root):
        return 2
    run_dir = tempfile.mkdtemp(prefix=".layerbench-run-", dir=root)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
