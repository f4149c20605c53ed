"""Spans and counters around the engine's layer entry points.

Tracing is done from the benchmark's side: :func:`instrument` temporarily
replaces the public entry point of each layer with a wrapper that opens a
span and tags the Spark jobs fired inside it with a job group naming the
layer. Nothing in ``lakehouse_engine_spark`` is edited; the originals are
restored when the traced run ends.

Spans are kept in memory and written out once, at the end of the process.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterator, List, Optional, Tuple

JOB_GROUP = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench:"

# span name -> job group of the Spark jobs fired inside it
LAYERS = {
    "algorithms.parse": "algorithms",
    "io.read": "io_read",
    "transformers.compose": "transformers",
    "dq.run": "dq",
    "spark.plan": "spark_plan",
    "io.write": "io_write",
    "terminators.run": "terminators",
}


@dataclass
class Span:
    id: int
    name: str
    run: int
    parent: Optional[int]
    start: float
    end: float = 0.0
    thread: str = ""
    py4j_calls: int = 0
    attrs: Dict[str, str] = field(default_factory=dict)


def self_times(spans: List[Span]) -> Dict[int, float]:
    """Each span's duration minus the part of it that its children cover.

    Children may overlap each other (a stream's callback thread runs while
    the main thread waits), so the covered part is the union of the child
    intervals, clipped to the parent's own interval.
    """
    children: Dict[int, List[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])
        ):
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Collects spans; one instance per benchmark process."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: List[Span] = []
        self.run = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: List[Span] = []

    def _stack(self) -> List[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Optional[Span]:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, **attrs: str) -> Iterator[Span]:
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        elif self._main_stack:
            # a callback thread (foreachBatch) working for the main thread's
            # open span, e.g. the streaming write that is awaiting it
            parent = self._main_stack[-1].id
        else:
            parent = None
        s = Span(next(self._ids), name, self.run, parent, time.perf_counter(),
                 thread=threading.current_thread().name, attrs=attrs)
        group = LAYERS.get(name)
        prev = None
        if group is not None and self.sc is not None:
            # local properties live on the JVM thread paired with this Python
            # thread, so jobs fired from a py4j callback thread are tagged too
            if "function" in attrs:
                group += f":{attrs.get('spec_id', '?')}/{attrs['function']}"
            prev = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, GROUP_PREFIX + group)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            if group is not None and self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev)
            s.end = time.perf_counter()
            with self._lock:
                self.spans.append(s)

    def count_py4j(self) -> None:
        st = self._stack()
        if st:
            st[-1].py4j_calls += 1

    def dump(self) -> List[dict]:
        with self._lock:
            return [asdict(s) for s in self.spans]


def _spec_ids(loader) -> Dict[int, str]:
    """id(TransformerSpec) -> owning transform spec_id, taken before the
    streaming re-plan moves chain tails into the output specs."""
    return {id(t): spec.spec_id for spec in loader.transform_specs for t in spec.transformers}


@contextmanager
def instrument(tracer: Tracer) -> Iterator[None]:
    """Wrap each layer's entry point for the duration of the block."""
    import py4j.clientserver
    import py4j.java_gateway
    from lakehouse_engine_spark.algorithms.data_loader import DataLoader
    from lakehouse_engine_spark.dq.dq_factory import DQFactory
    from lakehouse_engine_spark.io import writer_factory
    from lakehouse_engine_spark.io.reader_factory import ReaderFactory
    from lakehouse_engine_spark.terminators.terminator_factory import TerminatorFactory
    from lakehouse_engine_spark.transformers.transformer_factory import TransformerFactory

    owners: Dict[int, str] = {}
    patches: List[Tuple[object, str, object]] = []

    def patch(obj, attr, make):
        orig = obj.__dict__[attr]
        patches.append((obj, attr, orig))
        setattr(obj, attr, make(orig))

    def plain(orig):
        # unwrap staticmethod / classmethod descriptors
        return getattr(orig, "__func__", orig)

    def loader_init(orig):
        @functools.wraps(orig)
        def init(self, acon):
            with tracer.span("algorithms.parse"):
                orig(self, acon)
        return init

    def replan(orig):
        @functools.wraps(orig)
        def wrapped(self):
            owners.update(_spec_ids(self))
            return orig(self)
        return wrapped

    def get_data(orig):
        fn = plain(orig)

        @functools.wraps(fn)
        def wrapped(spark, spec):
            with tracer.span("io.read", spec_id=spec.spec_id):
                return fn(spark, spec)
        return staticmethod(wrapped)

    def get_transformer(orig):
        fn = plain(orig)

        @functools.wraps(fn)
        def wrapped(spec, data=None):
            attrs = {"spec_id": owners.get(id(spec), "?"), "function": spec.function}
            with tracer.span("transformers.compose", **attrs):
                inner = fn(spec, data)

            def apply(df):
                with tracer.span("transformers.compose", **attrs):
                    return inner(df)
            return apply
        return staticmethod(wrapped)

    def run_dq(orig):
        fn = plain(orig)

        @functools.wraps(fn)
        def wrapped(cls, spark, spec, df):
            with tracer.span("dq.run", spec_id=spec.spec_id):
                return fn(cls, spark, spec, df)
        return classmethod(wrapped)

    def write(orig):
        fn = plain(orig)

        @functools.wraps(fn)
        def wrapped(spark, df, spec, micro_batch_fn=None):
            if not df.isStreaming:
                with tracer.span("spark.plan", spec_id=spec.spec_id):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("io.write", spec_id=spec.spec_id):
                return fn(spark, df, spec, micro_batch_fn)
        return staticmethod(wrapped)

    def write_batch(orig):
        @functools.wraps(orig)
        def wrapped(spark, df, spec):
            cur = tracer.current()
            if cur is not None and cur.name == "io.write":
                return orig(spark, df, spec)
            # a foreachBatch micro-batch write on the stream's callback thread
            with tracer.span("io.write", spec_id=spec.spec_id):
                return orig(spark, df, spec)
        return wrapped

    def terminate(orig):
        fn = plain(orig)

        @functools.wraps(fn)
        def wrapped(spark, spec, data=None):
            with tracer.span("terminators.run", function=spec.function):
                return fn(spark, spec, data)
        return staticmethod(wrapped)

    def send(orig):
        @functools.wraps(orig)
        def wrapped(self, *args, **kwargs):
            tracer.count_py4j()
            return orig(self, *args, **kwargs)
        return wrapped

    try:
        patch(DataLoader, "__init__", loader_init)
        patch(DataLoader, "_replan_streaming_micro_batches", replan)
        patch(ReaderFactory, "get_data", get_data)
        patch(TransformerFactory, "get_transformer", get_transformer)
        patch(DQFactory, "run_dq_process", run_dq)
        patch(writer_factory.WriterFactory, "write", write)
        patch(writer_factory, "_write_batch", write_batch)
        patch(TerminatorFactory, "execute", terminate)
        patch(py4j.clientserver.ClientServerConnection, "send_command", send)
        patch(py4j.java_gateway.GatewayConnection, "send_command", send)
        yield
    finally:
        for obj, attr, orig in reversed(patches):
            setattr(obj, attr, orig)
