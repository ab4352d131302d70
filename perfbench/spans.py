"""In-memory spans for the traced run, with Spark's own counters.

A span covers a workload op, a phase of an op (``build`` or the final
``action``) or one call into an engine layer. Layer spans come from
wrappers that :func:`install_layer_wrappers` places around public
entry points of ``eventstreamml_spark`` from the outside; nothing in
the package is edited. Every open span owns a Spark job group, so each
job is attached to the innermost span that started it. After an op
ends, :meth:`Tracer.harvest` reads the jobs of its spans from the
status tracker and their stages from the status store.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import time

#: layer key -> (module, attribute) entry points timed from outside.
#: ``Class.method`` names wrap the method on the class.
LAYER_ENTRY_POINTS = {
    "sources.load": [
        ("eventstreamml_spark.sources.testdata", "load_table"),
        ("eventstreamml_spark.sources.testdata", "load_table_spread"),
    ],
    "dataset.construct": [
        ("eventstreamml_spark.dataset", "EventStreamDataset.__init__"),
        # functor columns are part of E1 construction (SURVEY E1 step 1)
        ("eventstreamml_spark.preprocessing.orchestrate", "add_time_dependent_columns"),
    ],
    "preprocessing.fit": [
        ("eventstreamml_spark.preprocessing.orchestrate", "EventStreamPreprocessor.fit"),
        ("eventstreamml_spark.preprocessing.pipeline", "NumericPreprocessor.fit"),
        ("eventstreamml_spark.preprocessing.categorical", "CategoricalPreprocessor.fit"),
    ],
    "preprocessing.transform": [
        ("eventstreamml_spark.preprocessing.orchestrate", "EventStreamPreprocessorModel.transform"),
        ("eventstreamml_spark.preprocessing.pipeline", "NumericPreprocessorModel.transform"),
        ("eventstreamml_spark.preprocessing.categorical", "CategoricalPreprocessorModel.transform"),
    ],
    "preprocessing.model_save": [
        ("eventstreamml_spark.preprocessing.orchestrate", "EventStreamPreprocessorModel.save"),
    ],
    "preprocessing.model_load": [
        ("eventstreamml_spark.preprocessing.orchestrate", "EventStreamPreprocessorModel.load"),
    ],
    "vocabulary.build": [
        ("eventstreamml_spark.vocabulary", "build_vocabulary"),
    ],
    "export.tensorize": [
        ("eventstreamml_spark.export", "tensorize"),
        ("eventstreamml_spark.export", "tensorize_tasks"),
    ],
    "export.write": [
        ("eventstreamml_spark.export", "export_tensorized"),
    ],
}


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._jsc = self.sc._jsc.sc()
        #: wrappers pass straight through while this is False
        self.active = True

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    def start(self, name: str, layer: str) -> dict:
        sid = next(self._ids)
        span = {
            "id": sid,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "group": f"perfbench-span-{sid}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: dict) -> None:
        """Close ``span`` and any child an exception left open."""
        now = time.perf_counter()
        while True:
            top = self._stack.pop()
            top["end"] = now
            if top is span:
                break
        self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            span = self.start(fn.__qualname__, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)

        return traced

    def harvest(self, spans: list[dict]) -> None:
        """Attach Spark job/stage counters to finished spans."""
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        for span in spans:
            c = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
                 "executor_run_ms": 0, "shuffle_write_bytes": 0}
            for job in tracker.getJobIdsForGroup(span["group"]):
                info = tracker.getJobInfo(job)
                c["jobs"] += 1
                for stage in (info.stageIds if info else []):
                    try:
                        sd = store.lastStageAttempt(stage)
                    except Py4JJavaError:  # evicted from the status store
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["executor_run_ms"] += sd.executorRunTime()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            span["spark"] = c


def catalyst_phases_ms(df) -> dict[str, int]:
    """Analysis/optimization/planning time of a DataFrame's own
    QueryExecution, from its ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() if p.isDefined() else 0
    return out


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap every entry point in :data:`LAYER_ENTRY_POINTS`, including
    the names other ``eventstreamml_spark`` modules bound with
    ``from … import``."""
    for layer, points in LAYER_ENTRY_POINTS.items():
        for mod_name, attr in points:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__[meth]
                if isinstance(raw, classmethod):
                    setattr(cls, meth, classmethod(tracer.wrap(layer, raw.__func__)))
                else:
                    setattr(cls, meth, tracer.wrap(layer, raw))
                continue
            original = getattr(mod, attr)
            wrapped = tracer.wrap(layer, original)
            for other in list(sys.modules.values()):
                name = getattr(other, "__name__", "") or ""
                if name.startswith("eventstreamml_spark") and getattr(other, attr, None) is original:
                    setattr(other, attr, wrapped)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its direct children cover."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_time.get(s["id"], 0.0) for s in spans}
