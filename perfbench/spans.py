"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's own files: ``install`` wraps the
engine's entry points (and the layer functions behind them) in place and
``uninstall`` restores them. Each span keeps its name, start, end, parent
span and op id; counters are recorded at the same boundaries. Nothing is
written while the run measures: ``dump`` writes the spans out at the end.

When ``Tracer.on`` is false a wrapper only forwards the call, so one run
can alternate traced and untraced ops and report the tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        # (name, start_ns, end_ns, parent index, op id)
        self.spans: list[tuple[str, int, int, int, int]] = []
        # (op id, counter name, value)
        self.counts: list[tuple[int, str, float]] = []
        self.op_kind: dict[int, str] = {}
        self.traced_ops: set[int] = set()
        self.on = False
        self.op_id = -1
        self._op_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield -1
            return
        st = self._stack()
        # a span opened on an engine worker thread nests under the span the
        # op's own thread has open (it is waiting on that worker)
        outer = st or self._op_stack
        parent = outer[-1] if outer else -1
        with self._lock:  # engine threads record spans too
            i = len(self.spans)
            self.spans.append((name, time.perf_counter_ns(), 0, parent,
                               self.op_id))
        st.append(i)
        try:
            yield i
        finally:
            st.pop()
            n, t0, _, p, op = self.spans[i]
            self.spans[i] = (n, t0, time.perf_counter_ns(), p, op)

    @contextmanager
    def op(self, kind: str, traced: bool = True):
        """One benchmark op: the root span every layer span nests under,
        spans from engine worker threads included."""
        self.op_id += 1
        self.op_kind[self.op_id] = kind
        self.on = traced
        if not traced:
            yield
            self.on = False
            return
        self.traced_ops.add(self.op_id)
        self._op_stack = self._stack()
        try:
            with self.span("op." + kind):
                yield
        finally:
            self._op_stack = []
            self.on = False

    def count(self, name: str, value: float) -> None:
        if self.on:
            self.counts.append((self.op_id, name, float(value)))

    # -- wrapping ------------------------------------------------------

    def wrap(self, module: str, attr: str, name: str, after=None,
             around=None) -> None:
        """Replace ``module.attr`` (``attr`` may be ``Class.method``) with
        a wrapper recording span ``name``. ``after(tracer, args, res)``
        records counters from the result; ``around(call)`` runs the call
        and returns ``(result, extra)``, which ``after`` then receives as
        ``res``."""
        owner = importlib.import_module(module)
        *path, leaf = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        fn = owner.__dict__[leaf] if isinstance(owner, type) \
            else getattr(owner, leaf)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            with tracer.span(name):
                res = fn(*args, **kwargs) if around is None \
                    else around(lambda: fn(*args, **kwargs))
            if after is not None:
                after(tracer, args, res)
            return res if around is None else res[0]

        self._patched.append((owner, leaf, fn))
        setattr(owner, leaf, wrapper)

    def uninstall(self) -> None:
        for owner, leaf, fn in reversed(self._patched):
            setattr(owner, leaf, fn)
        self._patched.clear()
        self.on = False

    # -- reading -------------------------------------------------------

    def durations(self) -> dict[int, dict[str, float]]:
        """op id -> span name -> total ms inside that op."""
        out: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for name, t0, t1, _, op in self.spans:
            out[op][name] += (t1 - t0) / 1e6
        return out

    def self_times(self) -> dict[str, float]:
        """span name -> total self time in ms: the span's duration minus
        the part of it its child spans cover (children of one parent can
        overlap when the engine runs them on threads, so their covered
        interval is merged first)."""
        kids: dict[int, list[tuple[int, int]]] = defaultdict(list)
        for _, t0, t1, p, _ in self.spans:
            if p >= 0:
                kids[p].append((t0, t1))
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            covered, end = 0, t0
            for a, b in sorted(kids.get(i, ())):
                a, b = max(a, end), min(b, t1)
                if b > a:
                    covered += b - a
                    end = b
            out[name] += (t1 - t0 - covered) / 1e6
        return dict(out)

    def counters(self) -> dict[int, dict[str, float]]:
        out: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for op, name, v in self.counts:
            out[op][name] += v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, t0, t1, p, op) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start_ns": t0,
                                    "end_ns": t1, "parent": p, "op": op,
                                    "kind": self.op_kind.get(op)}) + "\n")
            for op, name, v in self.counts:
                f.write(json.dumps({"counter": name, "op": op,
                                    "value": v}) + "\n")


def median_or_zero(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# -- the engine boundaries the traced run records -------------------------

def _fetch_counts(tracer: Tracer, args, pdf) -> None:
    if pdf is None:  # routed to the cluster
        return
    tracer.count("search.fetch_rows", len(pdf))
    nbytes = 0
    for col in ("doc_deltas", "tfs", "dls", "positions"):
        if col in pdf:
            nbytes += int(pdf[col].map(len).sum())
    tracer.count("search.fetch_bytes", nbytes)


def _cache_counts(tracer: Tracer, args, hit) -> None:
    tracer.count("search.cache_lookups", 1)
    tracer.count("search.cache_hits", hit is not None)


def _kernel_around(call):
    from scripts.benchlib import spy_decodes

    return spy_decodes(call)


def _kernel_counts(tracer: Tracer, args, res) -> None:
    tracer.count("wand.blocks_decoded", res[1])


def _segment_counts(tracer: Tracer, args, lineage) -> None:
    tracer.count("build.segments_rebuilt", 1)
    tracer.count("build.docs_tokenized", lineage.get("docs_tokenized", 0))


def install(tracer: Tracer) -> None:
    # import first: streaming binds build_index at import time, and must
    # bind the original, not the wrapper installed below
    importlib.import_module("groonga_spark.streaming")
    w = tracer.wrap
    w("groonga_spark.search", "parse_query", "ql.parse")
    w("groonga_spark.search", "FulltextIndex.search", "search.search")
    w("groonga_spark.search", "FulltextIndex._check_generation",
      "search.generation_check")
    w("groonga_spark.search", "FulltextIndex._plan", "search.plan")
    w("groonga_spark.search", "FulltextIndex._local_blocks", "search.fetch",
      after=_fetch_counts)
    w("groonga_spark.search", "FulltextIndex._per_shard_eval",
      "search.per_shard_eval")
    w("groonga_spark.search", "FulltextIndex._result_cache_get",
      "search.cache_get", after=_cache_counts)
    w("groonga_spark.search", "FulltextIndex.delete_docs", "search.delete")
    w("groonga_spark.wand", "SegmentQueryKernel.run", "wand.kernel",
      around=_kernel_around, after=_kernel_counts)
    w("pyspark.sql.session", "SparkSession.createDataFrame",
      "session.create_df")
    w("groonga_spark.build", "build_index", "build.build_index")
    # streaming.append_docs calls build_index through its own binding
    w("groonga_spark.streaming", "build_index", "build.build_index")
    w("groonga_spark.build", "build_segment", "build.segment",
      after=_segment_counts)
    w("groonga_spark.build", "finalize_index", "build.finalize")
    # commands._cmd_select imports select.select at call time
    w("groonga_spark.select", "select", "select.select")
