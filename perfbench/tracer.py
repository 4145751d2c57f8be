"""Span recorder and the traced-run wrappers.

Spans (name, start, end, parent, op id) are kept in memory and written
as JSON lines when the run ends. A span's self time is its duration
minus the part of its interval that its child spans cover.

The wrappers time calls into the engine's public functions from the
benchmark's side. Spark is lazy, so a wrapper around a DataFrame-
returning operator first materializes the operator's inputs (a child
span named ``trace.materialize``, which no layer metric counts), then
times the operator on those materialized inputs up to a materialized
output, and finally returns the operator's ORIGINAL lazy output so the
engine's own plan is unchanged. Eager calls are timed directly.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "atlassian_confluence_data_pipeline_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    thread: int


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus the union of its
    children's intervals, each clipped to the parent's interval."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


class Recorder:
    """In-memory span and counter store. Spans nest per thread; the
    streaming job's foreachBatch callbacks run on a callback thread, so
    their spans are roots of that thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        s = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None,
                 self.op, threading.get_ident())
        with self._lock:
            idx = len(self.spans)
            self.spans.append(s)
        stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def add(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[name] += value

    def self_time_by_name(self) -> dict[str, float]:
        totals: dict[str, float] = defaultdict(float)
        for s, t in zip(self.spans, self_times(self.spans)):
            totals[s.name] += t
        return totals

    def total_by_name(self) -> dict[str, float]:
        totals: dict[str, float] = defaultdict(float)
        for s in self.spans:
            totals[s.name] += s.end - s.start
        return totals

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s, t in zip(self.spans, self_times(self.spans)):
                fh.write(json.dumps({**asdict(s), "self": t}) + "\n")


def materialize(df):
    """Eager local checkpoint: the way a traced wrapper forces a lazy
    frame inside a span."""
    return df.localCheckpoint(eager=True)


class Patches:
    """Module-attribute replacements, undone by :meth:`restore`.

    :meth:`everywhere` rebinds a function in EVERY loaded module of the
    engine that imported it by name, so callers that did ``from x import
    f`` see the wrapper too."""

    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object]] = []

    def set(self, owner: object, name: str, value: object) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def everywhere(self, original, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self.set(mod, attr, wrapper)

    def restore(self) -> None:
        for owner, name, value in reversed(self._undo):
            setattr(owner, name, value)
        self._undo.clear()


@contextmanager
def job_group(sc, group: str):
    """Run Spark jobs under ``group`` and restore the caller's group, so
    traced materializations never count against an engine job group."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    prev_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        if prev is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev_desc or prev)


def install_pipeline_wrappers(rec: Recorder, patches: Patches, spark):
    """Wrap ``cdc_delta``, ``union_dedup`` and the clean-HTML UDF factory
    as ``pipeline`` sees them. Returns a function reading the UDF's
    worker-side counters: (rows, characters, busy seconds)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from atlassian_confluence_data_pipeline_spark import pipeline

    sc = spark.sparkContext

    def frame_op(name: str, fn, n_frames: int, count_prefix: str | None = None):
        def wrapper(*args, **kwargs):
            with rec.span(name):
                with rec.span("trace.materialize"), job_group(sc, "trace"):
                    frames = [materialize(a) for a in args[:n_frames]]
                    if count_prefix:
                        rec.add(f"{count_prefix}rows_in", frames[0].count())
                with job_group(sc, "trace"):
                    out = materialize(fn(*frames, *args[n_frames:], **kwargs))
                if count_prefix:
                    with rec.span("trace.materialize"), job_group(sc, "trace"):
                        rec.add(f"{count_prefix}rows_out", out.count())
            return fn(*args, **kwargs)

        return wrapper

    patches.set(pipeline, "cdc_delta",
                frame_op("operators.joins.cdc_delta", pipeline.cdc_delta, 2,
                         "operators.joins.cdc_"))
    patches.set(pipeline, "union_dedup",
                frame_op("operators.dedup.union_dedup", pipeline.union_dedup, 2))

    factory = pipeline.make_clean_html_udf
    acc_rows = sc.accumulator(0)
    acc_chars = sc.accumulator(0)
    acc_ns = sc.accumulator(0)

    def traced_factory(base_url: str = ""):
        inner = factory(base_url).func

        @F.pandas_udf(T.StringType())
        def clean_html_traced(s):
            t0 = time.perf_counter_ns()
            out = inner(s)
            acc_ns.add(time.perf_counter_ns() - t0)
            acc_rows.add(len(s))
            acc_chars.add(int(s.str.len().sum()))
            return out

        return clean_html_traced

    patches.set(pipeline, "make_clean_html_udf", traced_factory)
    return lambda: (acc_rows.value, acc_chars.value, acc_ns.value / 1e9)


def install_lsh_wrapper(rec: Recorder, patches: Patches, spark) -> None:
    """Wrap ``operators.lsh.verify_candidates_jaccard`` (the streaming
    curation job imports it at call time, so the module attribute is the
    one it uses)."""
    from atlassian_confluence_data_pipeline_spark.operators import lsh

    fn = lsh.verify_candidates_jaccard
    sc = spark.sparkContext

    def wrapper(cand, shingles, *args, **kwargs):
        with rec.span("operators.lsh.verify_candidates"), job_group(sc, "trace"):
            with rec.span("trace.materialize"):
                cand_m, shingles_m = materialize(cand), materialize(shingles)
                rec.add("operators.lsh.candidates", cand_m.count())
            out = materialize(fn(cand_m, shingles_m, *args, **kwargs))
            with rec.span("trace.materialize"):
                rec.add("operators.lsh.verified", out.count())
        return fn(cand, shingles, *args, **kwargs)

    patches.set(lsh, "verify_candidates_jaccard", wrapper)


def install_plans_wrappers(rec: Recorder, patches: Patches) -> None:
    """Wrap ``catalog.load_table`` and the ``plans._cache`` memo entry
    points wherever the engine bound them."""
    from atlassian_confluence_data_pipeline_spark import catalog
    from atlassian_confluence_data_pipeline_spark.plans import _cache

    load = catalog.load_table

    def load_table(*args, **kwargs):
        with rec.span("catalog.load_table"):
            rec.add("catalog.calls")
            return load(*args, **kwargs)

    patches.everywhere(load, load_table)

    def memo(fn):
        def wrapper(spark, sf_dir, name, builder):
            built = []

            def counted_builder(*a, **k):
                built.append(True)
                return builder(*a, **k)

            with rec.span("plans._cache.lookup") as s:
                out = fn(spark, sf_dir, name, counted_builder)
            if built:
                s.name = "plans._cache.build"
                rec.add("plans._cache.builds")
            else:
                rec.add("plans._cache.hits")
            return out

        return wrapper

    for fn in (_cache.shared_pair_table, _cache.shared_model_rows):
        patches.everywhere(fn, memo(fn))


def traced_store_classes(rec: Recorder):
    """Subclasses of the two state stores whose public methods record
    spans; the benchmark constructs these and hands them to the engine."""
    from atlassian_confluence_data_pipeline_spark.operators.state import (
        AppendIndexStore,
        StateStore,
    )

    class TracedStateStore(StateStore):
        def write(self, df):
            with rec.span("operators.state.StateStore.write"):
                snap = super().write(df)
            rec.add("operators.state.StateStore.bytes_written",
                    dir_bytes(os.path.join(self.path, snap)))
            return snap

        def upsert(self, spark, updates, *args, **kwargs):
            with rec.span("operators.state.StateStore.upsert"):
                return super().upsert(spark, updates, *args, **kwargs)

    class TracedAppendIndexStore(AppendIndexStore):
        def write_batch(self, df, batch_id):
            with rec.span("operators.state.AppendIndexStore.write_batch"):
                return super().write_batch(df, batch_id)

        def compact(self, spark, schema, keep_recent=8):
            with rec.span("operators.state.AppendIndexStore.compact"):
                return super().compact(spark, schema, keep_recent)

        def read(self, spark, schema):
            with rec.span("operators.state.AppendIndexStore.read"):
                df = super().read(spark, schema)
            rec.add("operators.state.AppendIndexStore.reads")
            rec.add("operators.state.AppendIndexStore.read_dirs",
                    len({os.path.dirname(f) for f in df.inputFiles()}))
            return df

    return TracedStateStore, TracedAppendIndexStore


def traced_sink_class(trace_file: str):
    """A ``confluence_html`` sink subclass whose driver-side commit
    appends its duration to ``trace_file`` (the commit runs in a Python
    worker, outside this process)."""
    from atlassian_confluence_data_pipeline_spark.sources.html_sink import (
        HtmlFileSinkDataSource,
        HtmlFileWriter,
    )

    class TracedWriter(HtmlFileWriter):
        def commit(self, messages) -> None:
            t0 = time.perf_counter()
            super().commit(messages)
            with open(trace_file, "a") as fh:
                fh.write(f"{time.perf_counter() - t0}\n")

    class TracedHtmlSink(HtmlFileSinkDataSource):
        @classmethod
        def name(cls) -> str:
            return "confluence_html_traced"

        def writer(self, schema, overwrite: bool):
            return TracedWriter(self.options, overwrite)

    return TracedHtmlSink


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
