"""The two workloads: ``relocated_reads`` and ``query_mix``.

A workload builds its fixture, warms up, and then hands the runner one
round of ops at a time. An op has two parts: ``run`` is the timed call
into the engine, and ``check`` compares its answer with a model after
the clock has stopped. A check that returns ``None`` is settled after
the timed run (query answers meet their DuckDB twins after timing).

Every input comes from a ``numpy.random.default_rng`` seeded with the
run's seed, and no timed op changes what a later op sees, so the state
an op sees depends on the seed and its index only.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

from common import frame_digest, tree_bytes


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool | None]


class Context:
    """What every workload gets from the runner."""

    def __init__(self, spark, seed: int, run_dir: str, fault: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.tmp_dir = os.path.join(run_dir, "tmp")  # the session's TMPDIR
        self.fault = fault
        self.tracer = tracer
        self.traced = tracer is not None
        self.op_index: int | None = None  # set by the runner around each op

    def observed(self, check_kind: str, df: pd.DataFrame) -> pd.DataFrame:
        """The answer a check sees. ``--fault`` plants a defect here, one
        per check kind, to prove that each check can fail."""
        if df.empty:
            return df
        if (self.fault, check_kind) in {("count", "model"), ("prune", "prune")}:
            return df.iloc[:-1]
        if (self.fault, check_kind) == ("hash", "model"):
            df = df.copy()
            col = df.columns[0]
            df[col] = df[col].astype(object)
            df.iloc[0, 0] = "planted"
            return df
        return df

    def collect(self, df) -> pd.DataFrame:
        """``df.toPandas()``; traced runs give the Spark execution its
        own span, so it is attributed rather than left unattributed."""
        if not self.traced:
            return df.toPandas()
        with self.tracer.span("spark.collect"):
            return df.toPandas()

    def expected_digest(self, check_kind: str, digest: tuple) -> tuple:
        if (self.fault, check_kind) in {("relocate", "relocate"), ("oracle", "oracle")}:
            return digest[0] + 1, digest[1], digest[2]
        return digest


def _same(ctx: Context, check_kind: str, got: pd.DataFrame, want: pd.DataFrame) -> bool:
    return frame_digest(ctx.observed(check_kind, got)) == frame_digest(want)


_PARTS = ["p0", "p1", "p2", "p3"]
_COLS = ["id", "part", "v"]
_SCHEMA = {
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "part", "type": "string", "nullable": True, "metadata": {}},
        {"name": "v", "type": "long", "nullable": True, "metadata": {}},
    ],
}


def _parts_of(ids) -> list[str]:
    """Partition by id, round robin: every partition gets the same number
    of rows whatever the seed, so the seed moves values, not volumes."""
    return [_PARTS[i % len(_PARTS)] for i in ids]


def _spark_schema():
    from pyspark.sql.types import StructType

    return StructType.fromJson(_SCHEMA)


def export_mirror(run_dir: str, dest: str, df) -> None:
    """An Iceberg mirror at ``dest`` holding ``df``. It is exported from
    a one-snapshot source table that nothing else touches: the mirror's
    manifests name that table's data files by absolute path, so the
    source must neither be maintained nor moved."""
    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
    from iceberg_relative_io_spark.catalog import iceberg_export

    cat = FsCatalog(os.path.join(run_dir, "mirror_source"))
    cat.create_namespace(("bench",))
    source = RelativeTable(cat.create_table(("bench",), "source", _SCHEMA, partition_by=["part"]))
    source.append(df)
    iceberg_export.export_iceberg(source, dest)


# ---------------------------------------------------------------------------
# relocated_reads
# ---------------------------------------------------------------------------


class RelocatedReads:
    """Reads of a long-history table after its warehouse moved.

    Set-up builds the snapshot chain at one root, records the answer of
    every read the timed ops will make, moves the warehouse to a new
    POSIX root and serves a copy of it under an ``s3://`` root. Every
    timed op opens a fresh catalog and table, as a new reader process
    would, and runs one read. No timed op writes."""

    name = "relocated_reads"
    # local[1]. The reads take in a few KB, so more task threads gain
    # under 10% on a quiet host, while a stage of parallel tasks waits
    # for whichever core the hypervisor stalls
    task_threads = 1
    APPENDS = 12
    APPEND_ROWS = 40
    DELETE_AT = (3,)
    # reads per root and round, in this order. With two roots and
    # ICEBERG_READS mirror reads a round is 24 ops; sorted by latency the
    # 8 files reads sit in the middle, so the median falls in their band
    MIX = {"full": 1, "partition": 1, "range": 2, "time_travel": 1, "incremental": 2, "files": 4}
    ICEBERG_READS = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.orig = os.path.join(ctx.run_dir, "wh_orig")
        self.moved = os.path.join(ctx.run_dir, "wh_moved")
        self.mirror = os.path.join(ctx.run_dir, "mirror")
        self.s3_root = os.path.join(ctx.run_dir, "s3")

    def setup_fixture(self) -> None:
        from pyspark.sql import functions as F

        from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable

        cat = FsCatalog(self.orig)
        cat.create_namespace(("bench",))
        table = RelativeTable(cat.create_table(("bench",), "events_rel", _SCHEMA, partition_by=["part"]))
        rng = np.random.default_rng([self.ctx.seed, 0xC4])
        model = pd.DataFrame({c: pd.Series(dtype=t) for c, t in
                              (("id", "int64"), ("part", "object"), ("v", "int64"))})
        self.snaps: list[tuple[int, str]] = []
        self.state: dict[int, pd.DataFrame] = {}
        self.added: dict[int, pd.DataFrame] = {}
        for i in range(self.APPENDS):
            if i in self.DELETE_AT:
                k = int(rng.integers(0, 5))
                snap = table.delete_where_mor(self.spark, F.col("id") % 5 == k, ["id"])
                model = model[model.id % 5 != k].reset_index(drop=True)
                self._record(snap, "delete-mor", model, model.iloc[0:0])
            rows = pd.DataFrame({
                "id": np.arange(i * self.APPEND_ROWS, (i + 1) * self.APPEND_ROWS, dtype="int64"),
                "part": _parts_of(range(i * self.APPEND_ROWS, (i + 1) * self.APPEND_ROWS)),
                "v": rng.integers(0, 10_000, self.APPEND_ROWS),
            })
            snap = table.append(self.spark.createDataFrame(rows, _spark_schema()))
            model = pd.concat([model, rows], ignore_index=True)
            self._record(snap, "append", model, rows)
        self.model = model
        export_mirror(self.ctx.run_dir, self.mirror, self.spark.createDataFrame(model, _spark_schema()))
        self.table_rel = (("bench",), "events_rel")
        self._plan_params()

    def _record(self, snap: dict, op: str, model: pd.DataFrame, added: pd.DataFrame) -> None:
        sid = snap["snapshot-id"]
        self.snaps.append((sid, op))
        self.state[sid] = model
        self.added[sid] = added

    def _plan_params(self) -> None:
        """One seeded parameter per read kind, and its model answer. The
        seed moves values, not structure: every range, time-travel target
        and incremental stretch lies after the MoR delete and spans the
        same number of appends, so each kind costs about the same on
        every seed."""
        rng = np.random.default_rng([self.ctx.seed, 0x5E])
        m, rows, first = self.model, self.APPEND_ROWS, self.DELETE_AT[-1]
        appends = [sid for sid, op in self.snaps if op == "append"]
        part = str(rng.choice(_PARTS))
        k = int(rng.integers(first, self.APPENDS - 3))
        lo = k * rows + int(rng.integers(0, rows))
        hi = lo + 2 * rows - 1
        travel = appends[self.APPENDS * 3 // 4]
        start = int(rng.integers(first, self.APPENDS - 4))
        stretch = appends[start + 1: start + 4]
        self.params = {
            "full": (None, m),
            "partition": (part, m[m.part == part]),
            "range": ((lo, hi), m[(m.id >= lo) & (m.id <= hi)]),
            "time_travel": (travel, self.state[travel]),
            "incremental": ((appends[start], stretch[-1]),
                            pd.concat([self.added[s] for s in stretch], ignore_index=True)),
            "files": (None, None),
        }

    def _read(self, table, kind: str, arg):
        from pyspark.sql import functions as F

        spark = self.spark
        if kind == "full":
            return self.ctx.collect(table.read(spark))
        if kind == "partition":
            return self.ctx.collect(table.read(spark, partition_filter={"part": arg}))
        if kind == "range":
            lo, hi = arg
            df = table.read(spark, column_ranges={"id": (lo, hi)})
            return self.ctx.collect(df.filter(F.col("id").between(lo, hi)))
        if kind == "time_travel":
            return self.ctx.collect(table.read(spark, snapshot_id=arg))
        if kind == "incremental":
            return self.ctx.collect(table.incremental_read(spark, arg[0], arg[1]))
        if kind == "files":
            return self.ctx.collect(table.files(spark))
        raise ValueError(kind)

    def warmup(self) -> None:
        """Pre-move answers: one untimed pass of every read at the
        original root. Then move the warehouse and serve it twice."""
        from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
        from iceberg_relative_io_spark.catalog import iceberg_export
        from iceberg_relative_io_spark.catalog.mock_s3 import enable_mock_s3

        table = RelativeTable(FsCatalog(self.orig).load_table(*self.table_rel))
        self.before: dict[str, tuple] = {}
        self.pre_move_ok = True
        for kind, (arg, want) in self.params.items():
            got = self._read(table, kind, arg)
            self.before[kind] = frame_digest(got)
            if kind == "files":
                # the files table has no independent model: its row
                # counts must add up to the rows the appends wrote
                ok = int(got.row_count.sum()) == self.APPENDS * self.APPEND_ROWS
            else:
                ok = frame_digest(got) == frame_digest(want)
            self.pre_move_ok &= ok
        got = iceberg_export.read_iceberg(self.spark, self.mirror).toPandas()
        self.before["iceberg"] = frame_digest(got[_COLS])
        self.pre_move_ok &= frame_digest(got[_COLS]) == frame_digest(self.model)
        shutil.move(self.orig, self.moved)
        shutil.copytree(self.moved, os.path.join(self.s3_root, "bucket", "wh"))
        self.roots = {
            "posix": (self.moved, "pyarrow"),
            "s3": ("s3://bucket/wh", enable_mock_s3(self.s3_root)),
        }

    def round(self, r: int) -> list:
        from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
        from iceberg_relative_io_spark.catalog import iceberg_export

        out: list = []
        for wh, impl in self.roots.values():
            for kind, count in self.MIX.items():
                arg, want = self.params[kind]

                def run(wh=wh, impl=impl, kind=kind, arg=arg):
                    table = RelativeTable(FsCatalog(wh, io_impl=impl).load_table(*self.table_rel))
                    return self._read(table, kind, arg)

                def check(got, kind=kind, want=want) -> bool:
                    before = self.ctx.expected_digest("relocate", self.before[kind])
                    ok = frame_digest(self.ctx.observed("relocate", got)) == before
                    if want is not None:
                        check_kind = "prune" if kind in ("partition", "range") else "model"
                        ok &= _same(self.ctx, check_kind, got, want)
                    return ok and self.pre_move_ok

                out += [Op(kind, run, check)] * count

        def run_ice():
            return self.ctx.collect(iceberg_export.read_iceberg(self.spark, self.mirror))

        def check_ice(got) -> bool:
            before = self.ctx.expected_digest("relocate", self.before["iceberg"])
            return (
                frame_digest(got[_COLS]) == before
                and _same(self.ctx, "model", got[_COLS], self.model)
                and self.pre_move_ok
            )

        out += [Op("read_iceberg", run_ice, check_ice)] * self.ICEBERG_READS
        return out

    def after_round(self) -> None:
        pass

    def space_amp(self) -> float:
        from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable

        table = RelativeTable(FsCatalog(self.moved).load_table(*self.table_rel))
        live = int(table.files(self.spark).toPandas().size_bytes.sum())
        return tree_bytes(os.path.join(self.moved, "bench", "events_rel")) / live


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


class QueryMix:
    """``__spark_entry__`` queries in one warm session. An op builds one
    query with ``queries()[name](spark, sf_dir)`` and collects it. A round
    runs the heavy queries once and the cheap ones once before each heavy
    one, so most ops (and the median) fall in the cheap queries' band."""

    name = "query_mix"
    # local[3] on 4 cores: with one task thread the cold pass of the
    # set-up alone takes 10 s longer, more than the run's time budget has
    # to spare; the fourth core is left to the JVM's own threads
    task_threads = max(1, min(4, os.cpu_count() or 1) - 1)
    # eager-build-heavy (driver jobs, catalog commits, streaming) and
    # exec-bound queries: once per round
    HEAVY = ("a48_iceberg_merge", "b30_stream_tumbling_window", "c06_contamination_bloom")
    # cheap relational queries: len(HEAVY) times per round
    CHEAP = (
        "b34_tpch_q6", "b21_topk", "b14_distinct", "b09_join_anti", "c04_token_count",
        "b17_window_rank",
    )

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sf_dir = os.path.join(ctx.run_dir, "sf")
        self.results: dict[str, list[tuple]] = {}
        self.query_stats: dict[str, dict[str, float]] = {}

    @property
    def names(self) -> tuple[str, ...]:
        return self.HEAVY + self.CHEAP

    def setup_fixture(self) -> None:
        import __spark_entry__ as entry

        from fixtures import write_tables

        self.input_bytes = write_tables(self.sf_dir, self.ctx.seed)
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()

    def warmup(self) -> None:
        """The cold first pass of every query belongs to set-up."""
        for name in self.names:
            self.queries[name](self.spark, self.sf_dir).toPandas()
        self.tmp_bytes = tree_bytes(self.ctx.tmp_dir)

    def _collect(self, name: str) -> pd.DataFrame:
        if not self.ctx.traced:
            return self.queries[name](self.spark, self.sf_dir).toPandas()
        # traced: build and execute under their own job groups and spans
        tracer, op = self.ctx.tracer, self.ctx.op_index
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        build_group, exec_group = f"layerbench-op{op}-build", f"layerbench-op{op}-exec"
        sc.setJobGroup(build_group, name)
        idx = tracer.begin("operators.build")
        df = self.queries[name](self.spark, self.sf_dir)
        tracer.end(idx)
        build_s = tracer.duration(idx)
        sc.setJobGroup(exec_group, name)
        idx = tracer.begin("operators.exec")
        got = df.toPandas()
        tracer.end(idx)
        exec_s = tracer.duration(idx)
        phases = df._jdf.queryExecution().tracker().phases()
        catalyst_ms = 0.0
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                catalyst_ms += phases.apply(phase).durationMs()
        exec_jobs = list(tracker.getJobIdsForGroup(exec_group))
        stages = sum(len(tracker.getJobInfo(j).stageIds) for j in exec_jobs
                     if tracker.getJobInfo(j) is not None)
        s = self.query_stats.setdefault(name, {})
        for key, value in (
            ("build_ms", 1000 * build_s),
            ("build_jobs", len(tracker.getJobIdsForGroup(build_group))),
            ("catalyst_ms", catalyst_ms),
            ("exec_ms", 1000 * exec_s),
            ("exec_stages", stages),
        ):
            s.setdefault(key, []).append(value)
        return got

    def round(self, r: int) -> list:
        # a fixed order, the cheap set before each heavy query: the JVM's
        # background work (JIT, GC) is charged to whichever op overlaps
        # it, so a query must sit at the same place on every seed
        names = [name for heavy in self.HEAVY for name in (*self.CHEAP, heavy)]
        out: list = []
        for name in names:
            def check(got, name=name):
                self.results.setdefault(name, []).append(frame_digest(self.ctx.observed("model", got)))
                return None  # compared with the oracle after the timed run
            out.append(Op(name, lambda name=name: self._collect(name), check))
        return out

    def after_round(self) -> None:
        if not hasattr(self, "space_amp_value"):
            # what one round of the mix leaves on storage, over its input
            left = tree_bytes(self.ctx.tmp_dir) - self.tmp_bytes
            self.space_amp_value = (self.input_bytes + left) / self.input_bytes

    def oracle_verdicts(self) -> dict[str, bool]:
        """Per query: did every timed answer match its DuckDB twin?
        Computed once per run, after timing."""
        import duckdb

        from tools.check_oracle import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        verdict = {}
        for name, digests in self.results.items():
            want = self.ctx.expected_digest("oracle", frame_digest(con.execute(self.oracle_sql[name]).df()))
            verdict[name] = all(d == want for d in digests)
        con.close()
        return verdict

    def space_amp(self) -> float:
        return self.space_amp_value


WORKLOADS = {w.name: w for w in (RelocatedReads, QueryMix)}
