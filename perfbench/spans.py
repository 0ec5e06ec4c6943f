"""Spans recorded around calls into the engine's layers, from outside.

The engine is not edited: ``Tracer.install`` replaces each public entry
point with a timing wrapper wherever a module of the package binds it
(``from ... import load_table`` copies the function into the importing
module, so the defining module alone is not enough), and ``restore``
puts the originals back. Spans stay in memory until the run writes them
out.
"""

from __future__ import annotations

import functools
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

_PACKAGE = "beam_pyspark_runner_spark"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark stamps its events with
    end: float
    parent: int | None  # index of the enclosing span, or None
    query: str | None  # label of the query being run, "<pass>|<name>"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.query: str | None = None
        self._open: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.query))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.time()

    def _wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _patch_bindings(self, name: str, fn: Callable) -> None:
        traced = self._wrap(name, fn)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(_PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._undo.append((mod, attr, value))
                    setattr(mod, attr, traced)

    def _patch_method(self, cls: type, attr: str, name: str) -> None:
        fn = cls.__dict__[attr]
        self._undo.append((cls, attr, fn))
        setattr(cls, attr, self._wrap(name, fn))

    def install(self) -> None:
        """Wrap the layer entry points named in the per-layer metrics."""
        from pyspark.sql.classic.dataframe import DataFrame

        from beam_pyspark_runner_spark.operators.pipeline import PCol
        from beam_pyspark_runner_spark.plans import audit, dag
        from beam_pyspark_runner_spark.sources import readers, writers
        from beam_pyspark_runner_spark.streaming import runner

        self._patch_bindings("sources.load_table", readers.load_table)
        for attr in dir(writers):
            if attr.startswith("write_"):
                self._patch_bindings("sources.write", getattr(writers, attr))
        self._patch_method(PCol, "write_text", "sources.write")
        self._patch_method(PCol, "write_parquet", "sources.write")
        self._patch_bindings("plans.audit.checkpoint", audit.checkpoint_audited)
        for auditor in (
            audit.unbounded_hinted_broadcasts,
            audit.unbounded_cross_joins,
            audit.unpartitioned_ordered_windows,
        ):
            self._patch_bindings("plans.audit.auditor", auditor)
        self._patch_method(dag.PlanContext, "lower", "plans.dag.lower")
        self._patch_bindings("streaming.run", runner.run_stream_to_df)
        # Counted only where a lowering span encloses it: the fan-out
        # persists that PlanContext.lower makes.
        self._patch_method(DataFrame, "persist", "spark.persist")

    def restore(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


class ProgressListener(StreamingQueryListener):
    """Streaming progress, keyed by the query that started each stream.

    ``onQueryStarted`` runs before ``DataStreamWriter.start`` returns, so
    the label the benchmark set for the current query is the stream's.
    """

    def __init__(self) -> None:
        self.current: str | None = None
        self.run_label: dict[str, str] = {}
        self.progress: list[tuple[str, dict]] = []

    def onQueryStarted(self, event) -> None:
        if self.current is not None:
            self.run_label[str(event.runId)] = self.current

    def onQueryProgress(self, event) -> None:
        p = event.progress
        label = self.run_label.get(str(p.runId))
        if label is None:
            return
        ops = p.stateOperators
        self.progress.append((label, {
            "batch_ms": p.batchDuration,
            "input_rows": p.numInputRows,
            "durations": dict(p.durationMs),
            "state_rows": sum(op.numRowsTotal for op in ops),
            "state_bytes": sum(op.memoryUsedBytes for op in ops),
            "state_commit_ms": sum(op.commitTimeMs for op in ops),
            "state_instances": sum(op.numStateStoreInstances for op in ops),
        }))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
