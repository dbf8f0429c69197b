"""In-memory span tracer that wraps the program's public layer functions.

The traced run replaces each function listed in ``LAYERS`` by a wrapper, by
module attribute: every ``name_matching_spark`` module that holds a
reference to the original function gets the wrapper instead, so both
``from .x import f`` bindings made at import time and imports made inside a
function body at call time see it. The program's source is never edited.

A method (``Class.method``) is replaced on its class.

Each wrapped call records a span (name, start, end, parent) and runs under a
Spark job group named after the span, so the jobs, stages and tasks it
launches are attributed to it. A DataFrame the call returns is cached and
counted inside the span, so lazily planned work is charged to the layer that
planned it instead of to whichever later action first runs it. The
checkpoint layer is not forced: ``CheckpointManager.stage`` returns a table
it has already written, and caching it would change what later stages read.

Job, stage and task counts are read from Spark's status tracker when a root
span ends, before the tracker's retention limit (``spark.ui.retainedJobs``
and ``retainedStages``, 1000 each by default) can evict them.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (layer, module, attribute). Several functions may share one layer.
LAYERS = [
    ("extract", "name_matching_spark.operators.extract", "extract_names"),
    ("match_names", "name_matching_spark.pipeline", "match_names"),
    ("blocking", "name_matching_spark.pipeline", "jaro_candidates"),
    ("blocking", "name_matching_spark.operators.blocking", "shared_word_pairs"),
    ("tfidf", "name_matching_spark.operators.tfidf", "token_weights"),
    ("tfidf", "name_matching_spark.operators.tfidf", "tfidf_cosine_pairs"),
    ("human", "name_matching_spark.operators.human", "match_first_name"),
    ("address", "name_matching_spark.operators.address", "match_addresses"),
    ("pre_screen", "name_matching_spark.operators.prescreen", "pre_screen"),
    ("cc", "name_matching_spark.operators.cc", "name_clusters"),
    ("checkpoint", "name_matching_spark.checkpoint", "CheckpointManager.stage"),
    ("incremental", "name_matching_spark.pipeline", "incremental_resolve"),
    ("io", "name_matching_spark.io", "merge_into"),
    ("pairs", "name_matching_spark.operators.pairs", "score_pairs"),
]
# layers whose results are not cached and counted (see the module docstring)
_UNFORCED = {"checkpoint"}

# imported before patching so that their import-time bindings are replaced
_PRELOAD = [
    "name_matching_spark.pipeline",
    "name_matching_spark.io",
    "name_matching_spark.operators.cc",
    "name_matching_spark.checkpoint",
]

# above this many stages in one root span the status tracker may already
# have evicted the root's first stages when they are read
_RETAINED = 1000

# span ids (Spark job group names), unique in the process even across tracers
_SPAN_IDS = itertools.count(1)


@dataclass
class Span:
    id: str
    name: str
    parent: Span | None
    start: float
    end: float = 0.0
    rows: int | None = None
    children: list[Span] = field(default_factory=list)
    jobs: int = 0  # launched while this span was innermost
    stages: int = 0
    tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(self.children, key=lambda c: c.start):
            s, e = max(c.start, self.start), min(c.end, self.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.duration - covered

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def total(self, attr: str) -> int:
        return sum(getattr(s, attr) for s in self.walk())


class Tracer:
    """Spans of one benchmark process. ``install`` patches the layer
    functions; ``root`` opens a top-level span (one timed operation) and
    reads its Spark counts when it closes."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._forced: list = []

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"perfbench-{next(_SPAN_IDS)}", name, parent, time.perf_counter())
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(sp.id, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.id, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def root(self, name: str):
        with self.span(name) as sp:
            yield sp
        self._count(sp)
        for df in self._forced:
            df.unpersist()
        self._forced.clear()

    def _count(self, root: Span) -> None:
        # the status store is fed asynchronously by the listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = self._sc.statusTracker()
        for sp in root.walk():
            for job_id in tracker.getJobIdsForGroup(sp.id):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    raise RuntimeError(f"job {job_id} of span {sp.name} was evicted")
                sp.jobs += 1
                for stage_id in list(info.stageIds):
                    st = tracker.getStageInfo(stage_id)
                    # a stage whose shuffle output was reused is listed by
                    # the job but never runs a task: not counted
                    if st is not None and st.numCompletedTasks > 0:
                        sp.stages += 1
                        sp.tasks += st.numCompletedTasks
        if root.total("stages") >= _RETAINED:
            raise RuntimeError(
                f"{root.total('stages')} stages in one traced operation: "
                "the status tracker may have evicted some before they were read"
            )

    # -- patching ------------------------------------------------------------
    def install(self) -> None:
        for mod in _PRELOAD:
            importlib.import_module(mod)
        for layer, mod, attr in LAYERS:
            owner = importlib.import_module(mod)
            if "." in attr:  # a method, replaced on its class
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
                orig = getattr(owner, attr)
                setattr(owner, attr, self._wrap(layer, orig))
                self._patched.append((owner, attr, orig))
            else:
                orig = getattr(owner, attr)
                self._replace(orig, self._wrap(layer, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _replace(self, orig, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("name_matching_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, orig))

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer) as sp:
                res = fn(*args, **kwargs)
                return res if layer in _UNFORCED else tracer._force(res, sp)

        return wrapper

    def _force(self, res, sp: Span):
        """Cache and count every DataFrame in ``res`` inside span ``sp``;
        ``sp.rows`` is the row count of the first one."""
        from pyspark.sql import DataFrame

        from name_matching_spark.pipeline import MatchNamesResult

        def force(df):
            df = df.cache()
            self._forced.append(df)
            n = df.count()
            if sp.rows is None:
                sp.rows = n
            return df

        if isinstance(res, DataFrame):
            return force(res)
        if isinstance(res, MatchNamesResult):
            res.master = force(res.master)
            return res
        if isinstance(res, tuple):
            return tuple(force(x) if isinstance(x, DataFrame) else x for x in res)
        return res


def layer_metrics(root: Span) -> dict[str, float]:
    """Per-layer figures of one root span (one timed operation).

    ``<layer>.self_s`` sums self time over the layer's spans. Job, stage and
    task counts of a layer are inclusive (children's jobs count too) and
    taken over its outermost spans only, so a layer that calls itself is not
    counted twice."""
    spans = list(root.walk())
    out: dict[str, float] = {}

    def outermost(layer):
        return [
            s for s in spans
            if s.name == layer and not _has_ancestor(s, layer, root)
        ]

    for layer in {s.name for s in spans if s is not root}:
        out[f"{layer}.self_s"] = sum(s.self_time for s in spans if s.name == layer)
        outer = outermost(layer)
        out[f"{layer}.wall_s"] = sum(s.duration for s in outer)
        for attr in ("jobs", "stages", "tasks"):
            out[f"{layer}.{attr}"] = sum(s.total(attr) for s in outer)
        rows = [s.rows for s in outer if s.rows is not None]
        out[f"{layer}.rows"] = sum(rows)
    for attr in ("jobs", "stages", "tasks"):
        out[f"spark.{attr}"] = root.total(attr)
    out["trace.op_s"] = root.duration
    return out


def _has_ancestor(span: Span, name: str, stop: Span) -> bool:
    p = span.parent
    while p is not None and p is not stop:
        if p.name == name:
            return True
        p = p.parent
    return False
