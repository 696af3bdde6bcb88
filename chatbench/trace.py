"""Benchmark-side tracing: spans around calls into each layer, counters
from wrapping public functions, and a streaming-query listener.

Everything here lives in the benchmark process and wraps the program
from outside; nothing in the program changes. Spans are kept in memory
and read once the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict

from chatbench.eventlog import GROUP_PREFIX, parse_progress


def run_noop(df) -> None:
    """Evaluate every column of `df` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Records (label, start_ms, end_ms) spans. While a span is open its
    label is the Spark job group, so the event log ties jobs to it."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[str] = []
        self.listener = None  # set for streaming workloads

    def _set_group(self, label: str | None) -> None:
        value = None if label is None else GROUP_PREFIX + label
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", value)

    @contextlib.contextmanager
    def span(self, label: str, group: bool = True):
        """`group=False` records the window only: for spans whose jobs run
        on another thread (a streaming `foreachBatch`)."""
        if group:
            self._stack.append(label)
            self._set_group(label)
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans.append((label, t0, time.time() * 1000.0))
            if group:
                self._stack.pop()
                self._set_group(self._stack[-1] if self._stack else None)

    def force(self, label: str, df) -> float:
        """Run `df` to completion inside a span (noop sink); returns seconds."""
        t0 = time.perf_counter()
        with self.span(label):
            run_noop(df)
        return time.perf_counter() - t0

    def count(self, df) -> int:
        """Row count for ratio metrics, in a span of its own."""
        with self.span("trace.count"):
            return df.count()

    def durations(self, label: str) -> list[float]:
        return [(b - a) / 1000.0 for name, a, b in self.spans if name == label]

    # -- wrappers around public functions ---------------------------------
    def patch(self, owner, name: str, wrapper) -> None:
        """Replace owner.name for the rest of the process."""
        original = getattr(owner, name)
        setattr(owner, name, functools.wraps(original)(wrapper(original)))

    def instrument(self) -> None:
        """Count dispatch decisions, ETL appends and storage-seam calls."""
        from poc_spark.operators import etl, network
        from poc_spark.sources import storage

        counts = self.counts

        def chunked(orig):
            def f(df):
                out = orig(df)
                counts["plans.dispatch.calls"] += 1
                counts["plans.dispatch.chunked_calls"] += bool(out)
                return out
            return f

        def append(orig):
            def f(messages, path):
                with self.span("operators.etl.append"):
                    n = orig(messages, path)
                counts["operators.etl.rows_written"] += n
                return n
            return f

        self.patch(network, "use_chunked", chunked)
        self.patch(etl, "append_messages", append)

        def seam(method):
            def wrap(orig):
                def f(self_, *args):
                    counts["sources.storage.calls"] += 1
                    if method == "carry_obj":
                        counts["sources.storage.carry_calls"] += 1
                    if method in ("put_atomic", "put_if_absent"):
                        counts["sources.storage.put_bytes"] += len(args[1])
                    return orig(self_, *args)
                return f
            return wrap

        for method in ("get_bytes", "exists", "is_dir", "list_names",
                       "scan_entries", "mtime", "put_atomic", "put_if_absent",
                       "make_prefix", "carry_obj", "carry_tree", "adopt_tree",
                       "promote_tree_exclusive", "migrate_tree", "delete_obj",
                       "delete_tree", "replace_symlink"):
            self.patch(storage.PosixStorage, method, seam(method))


def stream_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event's
    JSON; returns the listener (its `.progress` list fills as batches end)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[str] = []

        def wait_for(self, query_id: str, batches: int, timeout_s: float = 10.0) -> None:
            """Events arrive asynchronously: wait until `batches` progress
            events with data have arrived for the query."""
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                got = parse_progress(self.progress)
                if sum(p["query_id"] == query_id for p in got) >= batches:
                    return
                time.sleep(0.02)

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(event.progress.json)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener
