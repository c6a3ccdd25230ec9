"""Traced mode: spans around calls into the library's layers, recorded
from the benchmark's side, plus Spark's own per-job-group accounting.

Nothing in the library changes. :class:`Tracer` replaces a module or
class attribute with a wrapper that records a span while tracing is
on and calls straight through while it is off, so a traced run can
alternate traced and untraced rounds in one process and report its own
overhead. Spans stay in memory and are written once, at exit.

Layer spans measure driver-side time inside the call (planning,
manifest and listing work). Spark runs the plans later, inside the
Collection's actions; that work is read from Spark's status store per
job group: job and stage counts, executor run/CPU/GC time, bytes read,
shuffled and spilled, and the SQL metrics of the Python (Arrow) nodes.
"""

from __future__ import annotations

import functools
import json
import os
import time

from py4j.protocol import Py4JJavaError

# SQL metrics of the Python (Arrow) plan nodes -> per-layer key. Spark
# keeps SQL metrics out of its stage data, so they are read from the
# SQL status store, where they are stored formatted ("129 ms", "1.2 KiB").
PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_out",
    "data returned from Python workers": "py_bytes_in",
}
_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "B": 1.0,
          "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ms": "executorCpuTime",  # ns in the store, converted below
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_bytes": "shuffleWriteBytes",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.cores = self.sc.defaultParallelism
        self._epoch = time.time() - time.perf_counter()
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self.session_s = 0.0
        self.extra: dict[str, float] = {}  # layer timings taken outside ops

    # ---- spans -----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            st = tracer._stack
            if not tracer.active or (st and tracer.spans[st[-1]]["name"] == name):
                return fn(*a, **kw)
            sid = tracer._open(name)
            try:
                out = fn(*a, **kw)
            finally:
                tracer._close(sid)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, wrapper)

    def install_collection_layers(self) -> None:
        """Wrap the layers a Collection call enters."""
        from sifts_spark import collection
        from sifts_spark.operators import search
        from sifts_spark.sources.store import DocumentStore

        self.wrap(DocumentStore, "append_batch", "store.append")
        self.wrap(DocumentStore, "maintain_postings", "store.postings")
        self.wrap(DocumentStore, "compact", "store.compact")
        self.wrap(DocumentStore, "vacuum", "store.compact")
        self.wrap(DocumentStore, "read", "store.read")
        self.wrap(DocumentStore, "read_postings", "store.read")
        self.wrap(DocumentStore, "read_manifest", "store.manifest",
                  on_result=lambda m: self.note(
                      "live_batches", len(m["batches"]) if m else 0))
        self.wrap(collection, "parse_query", "queryparser.parse")
        self.wrap(search, "search_postings", "search.postings")
        self.wrap(collection, "cosine_vs_const_seqfold_arrow", "vector.kernel")
        # a Collection call unpersists its own caches before returning:
        # sample what is cached just before each unpersist
        frame = type(self.spark.range(0))  # the concrete (classic) class
        unpersist = frame.unpersist
        tracer = self

        def sampling_unpersist(df, *a, **kw):
            if tracer.active and tracer._op is not None:
                op = tracer._op
                op["cached_bytes"] = max(op.get("cached_bytes", 0),
                                         tracer.cached_bytes())
            return unpersist(df, *a, **kw)

        frame.unpersist = sampling_unpersist

    def _open(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "op": self._op["seq"] if self._op else None,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(),
                "end": None,
            }
        )
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        self._stack.pop()

    def note(self, key: str, value: float) -> None:
        """Attach a count to the op in flight (e.g. live batches)."""
        if self.active and self._op is not None:
            self._op["notes"].setdefault(key, []).append(value)

    # ---- ops ---------------------------------------------------------------

    def begin(self, kind: str) -> None:
        seq = len(self.ops)
        self._op = {"seq": seq, "kind": kind, "group": f"perfbench-{seq}",
                    "notes": {}}
        self._sql_before = self.sql_store.executionsCount()
        self.sc.setJobGroup(self._op["group"], kind, False)
        self._op["root"] = self._open(kind)

    def end(self, wall_s: float) -> dict:
        """Close the op and read Spark's accounting for its job group."""
        op = self._op
        self._close(op["root"])
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.jsc.listenerBus().waitUntilEmpty()
        op["wall_ms"] = wall_s * 1e3
        op.update(self._spark_counts(op["group"]))
        op.update(self._sql_counts())
        self.ops.append(op)
        self._op = None
        return op

    def _spark_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        jobs = list(tracker.getJobIdsForGroup(group))
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "spill_bytes": 0,
               "job_intervals": []}
        out.update({k: 0 for k in STAGE_FIELDS})
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_intervals"].append(
                    (sub.get().getTime(), done.get().getTime())
                )
        for s in stage_ids:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # a stage the store never recorded
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            for k, f in STAGE_FIELDS.items():
                out[k] += getattr(sd, f)()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["cpu_ms"] /= 1e6
        return out

    def _sql_counts(self) -> dict:
        """Over the SQL executions the op started: rows out of postings
        scans, rows out of Arrow nodes, and the Python-worker metrics."""
        n = self.sql_store.executionsCount() - self._sql_before
        out = {"postings_rows": 0.0, "arrow_rows": 0.0}
        out.update({v: 0.0 for v in PY_METRICS.values()})
        for e in self.conv.asJava(self.sql_store.executionsList(self._sql_before, n)):
            eid = e.executionId()
            values = self.conv.asJava(self.sql_store.executionMetrics(eid))
            for node in self.conv.asJava(self.sql_store.planGraph(eid).allNodes()):
                nm = node.name()
                is_postings = nm.startswith("Scan") and "/_postings/" in node.desc()
                is_python = "Python" in nm or "InPandas" in nm or "InArrow" in nm
                if not (is_postings or is_python):
                    continue
                for m in self.conv.asJava(node.metrics()):
                    v = _metric_value(values.get(m.accumulatorId()))
                    if m.name() == "number of output rows":
                        out["postings_rows" if is_postings else "arrow_rows"] += v
                    elif is_python and m.name() in PY_METRICS:
                        out[PY_METRICS[m.name()]] += v
        return out

    def cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo())

    # ---- output ------------------------------------------------------------

    def self_ms(self, op: dict, child_prefixes=("store.", "queryparser.",
                                                "search.", "vector.")) -> float:
        """The op's root span minus the part of it covered by its layer
        child spans or by its Spark jobs running."""
        root = self.spans[op["root"]]
        lo, hi = self._ms(root["start"]), self._ms(root["end"])
        covered = [
            (self._ms(s["start"]), self._ms(s["end"]))
            for s in self.spans
            if s["parent"] == op["root"] and s["name"].startswith(child_prefixes)
        ] + [(max(a, lo), min(b, hi)) for a, b in op["job_intervals"]]
        return max(0.0, (hi - lo) - _union_ms([c for c in covered if c[1] > c[0]]))

    def _ms(self, perf_s: float) -> float:
        """perf_counter seconds -> epoch milliseconds (Spark's clock)."""
        return (perf_s + self._epoch) * 1e3

    def layer_ms(self, name: str, kinds) -> float:
        """Time in calls the op made directly into one layer, per op."""
        ops = [o for o in self.ops if o["kind"] in kinds]
        roots = {o["root"] for o in ops}
        tot = sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["parent"] in roots
        )
        return tot * 1e3 / len(ops) if ops else 0.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _metric_value(raw) -> float:
    """A formatted SQL metric ("10,254", "129 ms", "1.2 KiB", or a
    "total (min, med, max ...)" header over such a line) as a number."""
    if raw is None:
        return 0.0
    text = str(raw).split("\n")[-1].strip()
    num, _, rest = text.partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(rest.split(" ")[0], 1.0)
