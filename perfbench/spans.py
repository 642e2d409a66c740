"""Outside-in tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's side only: ``Tracer.patch_layer``
wraps every public function of a layer module (and the private ones a
caller outside the module uses), both on the module and on
every loaded module that bound the same function object by name (for
example ``plans.contacts`` imports ``kofn_enrich`` at import time, so the
wrapper must be installed there too). No engine file changes.

Spark work is attributed to spans by job submission time, read from the
application status store (``sc._jsc.sc().statusStore()``), which also gives
the per-stage task, GC, shuffle, spill and input totals. The event log is
not used.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from dataclasses import asdict, dataclass

#: StageData fields summed into the ``spark.*`` executor totals
#: (``executorRunTime``/``jvmGcTime`` are ms, ``executorCpuTime`` is ns).
STAGE_TOTALS = {
    "spark.task_s": ("executorRunTime", 1e-3),
    "spark.task_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_write_b": ("shuffleWriteBytes", 1.0),
    "spark.spill_b": ("diskBytesSpilled", 1.0),
    "spark.input_b": ("inputBytes", 1.0),
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory span recorder with function patching."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def wrap(self, fn, layer: str):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def patch_layer(self, module, layer: str, private: tuple[str, ...] = ()) -> None:
        """Wrap the public functions defined in ``module``, and the private
        ones named in ``private``, wherever they are bound by name."""
        originals = {
            id(obj): obj
            for name, obj in vars(module).items()
            if inspect.isfunction(obj)
            and obj.__module__ == module.__name__
            and (not name.startswith("_") or name in private)
        }
        wrappers = {k: self.wrap(fn, layer) for k, fn in originals.items()}
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                ("bcg_contacts_data_pipeline_spark", "__main__")
            ):
                continue
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None and originals[id(obj)] is obj:
                    self._undo.append((mod, attr, obj))
                    setattr(mod, attr, w)

    def unpatch(self) -> None:
        for mod, attr, obj in reversed(self._undo):
            setattr(mod, attr, obj)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.t
        self.id = len(t.spans)
        parent = t._stack[-1] if t._stack else None
        t.spans.append(Span(self.id, self.name, self.layer, time.time(), 0.0, parent, t.run_id))
        t._stack.append(self.id)
        return t.spans[self.id]

    def __exit__(self, *exc):
        t = self.t
        t.spans[self.id].end = time.time()
        t._stack.pop()
        return False


def outermost(spans: list[Span], layer: str) -> list[Span]:
    """Spans of ``layer`` not nested in another span of the same layer, so
    a layer function calling its own siblings is counted once."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if s.layer != layer:
            continue
        p = s.parent
        while p is not None and by_id[p].layer != layer:
            p = by_id[p].parent
        if p is None:
            out.append(s)
    return out


class StatusStore:
    """Job and stage records from Spark's application status store."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def jobs(self) -> list[dict]:
        out = []
        for j in _seq(self.store.jobsList(None)):
            sub = j.submissionTime()
            done = j.completionTime()
            if sub.isEmpty():
                continue
            out.append(
                {
                    "id": j.jobId(),
                    "start": sub.get().getTime() / 1000.0,
                    "end": done.get().getTime() / 1000.0 if not done.isEmpty() else time.time(),
                    "stages": list(_seq(j.stageIds())),
                }
            )
        return out

    def stages(self) -> dict[int, dict]:
        gw = self.spark.sparkContext._gateway
        quantiles = gw.new_array(gw.jvm.double, 0)
        out = {}
        for s in _seq(self.store.stageList(None, False, False, quantiles, None)):
            if str(s.status().toString()) == "SKIPPED":
                continue
            rec = out.setdefault(s.stageId(), {"tasks": 0, **{k: 0.0 for k in STAGE_TOTALS}})
            rec["tasks"] += s.numCompleteTasks()
            for key, (field, scale) in STAGE_TOTALS.items():
                rec[key] += getattr(s, field)() * scale
        return out


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def busy_seconds(jobs: list[dict], start: float, end: float) -> float:
    """Length of the part of [start, end] with at least one job running."""
    ivs = sorted((max(j["start"], start), min(j["end"], end)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_in(jobs: list[dict], spans: list[Span]) -> list[dict]:
    """Jobs submitted inside any of ``spans``."""
    return [j for j in jobs if any(s.start <= j["start"] <= s.end for s in spans)]
