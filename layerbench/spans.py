"""Spans around calls into the engine's modules, for the traced run.

The tracer wraps public functions of each engine module (and one
planner internal, ``RelativeTable._prune``, whose input and output carry
the pruning counts) from outside: the engine itself is not edited. A span records its name,
start, end, parent span and op id; spans stay in memory and are
summarised when the run ends. Only calls on the benchmark's own thread
are recorded, not the engine's background work on its own threads.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    error: str | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op: int | None = None
        self._thread = threading.get_ident()
        self._restore: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self._op))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def end(self, idx: int, error: BaseException | None = None) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        if error is not None:
            span.error = type(error).__name__
        self._stack.pop()

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.idx = tracer.begin(name)

            def __exit__(self, exc_type, exc, tb):
                tracer.end(self.idx, exc)
                return False

        return _Ctx()

    def set_op(self, op: int | None) -> None:
        self._op = op

    def count(self, key: str, amount: float = 1.0) -> None:
        if self._op is not None:
            self.counters[key] += amount

    # -- instrumentation ---------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a recording wrapper. A missing
        attribute is reported and skipped, so a renamed engine function
        shows as a zero counter instead of a crash."""
        original = getattr(owner, attr, None)
        if original is None:
            import sys

            print(f"layerbench: cannot trace {name}: no {attr}", file=sys.stderr)
            return
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if threading.get_ident() != tracer._thread:
                return original(*args, **kwargs)
            idx = tracer.begin(name)
            try:
                result = original(*args, **kwargs)
            except BaseException as exc:
                tracer.end(idx, exc)
                raise
            tracer.end(idx)
            if on_result is not None and tracer._op is not None:
                on_result(tracer, args, kwargs, result)
            return result

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    # -- summaries ---------------------------------------------------------
    def duration(self, idx: int) -> float:
        s = self.spans[idx]
        return s.end - s.start

    def self_time(self, idx: int) -> float:
        """Span time minus the time its child spans cover (children of
        one span never overlap: they run on the same thread)."""
        return self.duration(idx) - sum(self.duration(c) for c in self.spans[idx].children)

    def in_ops(self, prefix: str):
        """Indices of spans inside timed ops whose name starts with prefix."""
        return [
            i for i, s in enumerate(self.spans)
            if s.op is not None and s.name.startswith(prefix)
        ]

    def total_ms(self, prefix: str) -> float:
        return 1000.0 * sum(self.duration(i) for i in self.in_ops(prefix))

    def self_ms(self, prefix: str) -> float:
        return 1000.0 * sum(self.self_time(i) for i in self.in_ops(prefix))

    def calls(self, prefix: str) -> int:
        return len(self.in_ops(prefix))

    def unattributed_s(self) -> tuple[float, float]:
        """(time of op spans not covered by any engine span, op time)."""
        gap = total = 0.0
        for i, s in enumerate(self.spans):
            if s.name == "op" and s.op is not None:
                total += self.duration(i)
                gap += self.self_time(i)
        return gap, total


def _nbytes(result) -> int:
    return len(result) if isinstance(result, (bytes, bytearray)) else 0


def instrument(tracer: Tracer) -> None:
    """Wrap the public boundaries of each engine layer."""
    from iceberg_relative_io_spark.catalog import avro_ocf, fileio, fs_catalog
    from iceberg_relative_io_spark.catalog import iceberg_export, spark_table, table_ops

    cat = fs_catalog.FsCatalog
    tracer.wrap(cat, "load_table", "fs_catalog.load_table")
    tracer.wrap(cat, "create_table", "fs_catalog.create_table")

    ops = table_ops.TableOperations
    tracer.wrap(ops, "refresh", "table_ops.refresh")
    tracer.wrap(ops, "commit", "table_ops.commit")

    io = fileio.RelativeFileIO

    def on_read(t, args, kwargs, result):
        t.count("fileio.read_bytes", _nbytes(result))

    def on_write(t, args, kwargs, result):
        loc, data = args[1], args[2]
        t.count("fileio.write_bytes", len(data))
        if "/metadata/" in f"/{loc}":
            t.count("table_ops.metadata_bytes_written", len(data))

    for attr in ("read_bytes", "new_input", "parquet_table", "parquet_metadata"):
        tracer.wrap(io, attr, f"fileio.read.{attr}", on_read if attr == "read_bytes" else None)
    for attr in ("write_bytes", "new_output"):
        tracer.wrap(io, attr, f"fileio.write.{attr}", on_write if attr == "write_bytes" else None)
    tracer.wrap(io, "list_prefix", "fileio.list.list_prefix")
    for attr in ("exists", "delete_file", "delete_files", "delete_prefix", "rename"):
        tracer.wrap(io, attr, f"fileio.meta.{attr}")

    def on_decode(t, args, kwargs, result):
        t.count("avro_ocf.records_decoded", len(result[2]))

    tracer.wrap(avro_ocf, "read_ocf", "avro_ocf.decode", on_decode)
    tracer.wrap(avro_ocf, "write_ocf", "avro_ocf.encode")

    rt = spark_table.RelativeTable

    def on_prune(t, args, kwargs, result):
        t.count("spark_table.files_total", len(args[1]))
        t.count("spark_table.files_planned", len(result))

    def on_plan(t, args, kwargs, result):
        meta = args[0].ops.current()
        live = [s for s in meta.get("snapshots", []) if not s.get("expired")]
        t.count("spark_table.chain_len", len(live))
        t.count("spark_table.plans")

    # _prune is the planner step every pruned scan goes through; its
    # input and output lengths are the files considered and kept
    tracer.wrap(rt, "_prune", "spark_table.prune", on_prune)
    for attr in ("read", "incremental_read", "scan_files", "files", "changelog"):
        tracer.wrap(rt, attr, f"spark_table.plan.{attr}", on_plan if attr != "scan_files" else None)
    for attr in ("append", "overwrite", "overwrite_partitions", "delete_where",
                 "delete_where_mor", "update_where", "update_where_mor", "merge"):
        tracer.wrap(rt, attr, f"spark_table.write.{attr}")

    for attr in ("export_iceberg", "append_iceberg", "delete_where_iceberg",
                 "merge_iceberg", "overwrite_partitions_iceberg", "update_where_iceberg",
                 "compact_iceberg", "expire_snapshots_iceberg", "rewrite_manifests_iceberg"):
        tracer.wrap(iceberg_export, attr, f"iceberg_export.write.{attr}")
    tracer.wrap(iceberg_export, "read_iceberg", "iceberg_export.read.read_iceberg")
    tracer.wrap(iceberg_export, "files_iceberg", "iceberg_export.read.files_iceberg")
