"""Layer tracing for the benchmark, done entirely from outside the program.

``Tracer.install()`` wraps the public entry points of the pipeline's layers
(module attributes and ``Catalog`` methods are swapped for wrappers and put
back by ``uninstall``). Every wrapper records a span and sets a Spark job
group of its own, so the jobs Spark runs while a layer is active can be
read back from ``statusTracker`` and the status stores afterwards.

Two kinds of entry point exist:

* eager calls (``run_pipeline``, ``_run_group``, ``finalize``,
  ``make_linker``, ``_canonical_mapping`` and the ``Catalog`` methods) get a
  span from entry to return;
* lazy calls (``extract_pages``, ``extract_triples_df``,
  ``mention_surfaces``, the linker, ``apply_canonical``, ``dedup_triples``)
  return an unevaluated DataFrame. Their span is a *segment*: it stays open,
  and its job group stays set, until the next layer is entered on the same
  thread. The ``Catalog.write`` that follows a lazy segment materializes it,
  so the write's Spark jobs run in that segment's group and are charged to
  the segment's layer; only the write's driver-side remainder (commit,
  listing) is charged to ``catalog``.

The ``queries`` workload uses ``eager`` directly: each query and the
shared edge-table build is one span, and therefore one layer, of its own.

Spans are kept in memory and returned by ``report()``.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time

PIPELINE_LAYERS = (
    "extract.html",
    "extract.triples",
    "linking",
    "canonicalize",
    "catalog",
    "pipeline",
)

CATALOG_TABLES = (
    "extracted",
    "triples",
    "entity_canon",
    "quarantine",
    "lineage",
    "canonical_triples",
    "edges",
    "adjacency",
)

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_bytes(text: str) -> float:
    """Parse a SQL size metric as the status store formats it: either
    ``"82.0 KiB"`` or ``"total (min, med, max ...)\\n82.0 KiB (...)"``."""
    line = text.split("\n")[-1].strip()
    num, unit = line.split(" ")[:2]
    return float(num.replace(",", "")) * _UNITS[unit]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def group_shuffle_write_bytes(sc, group: str) -> int:
    """Shuffle bytes written by the finished stages of one job group."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        stage_ids.update(info.stageIds if info else [])
    total = 0
    for sid in stage_ids:
        try:
            total += store.lastStageAttempt(sid).shuffleWriteBytes()
        except Exception:  # stage skipped: never attempted
            continue
    return total


class Tracer:
    """Records spans around the layer entry points of one traced run."""

    def __init__(self, spark, run_id: str, layers: tuple[str, ...]):
        self.spark = spark
        self.layers = layers
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[dict] | None = None
        self._patches: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in the wrappers themselves
        self.link_paths: list[str] = []
        self.canon_branches: list[str] = []

    # ----------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            if threading.current_thread() is threading.main_thread():
                self._main_stack = st
        return st

    def _new_span(self, name: str, layer: str, parent: dict | None) -> dict:
        with self._lock:
            sid = len(self.spans)
            span = {
                "id": sid,
                "name": name,
                "layer": layer,
                "start": time.time(),
                "end": None,
                "parent": None if parent is None else parent["id"],
                "run": self.run_id,
                "group": f"perfbench-{self.run_id}-{sid}",
                "thread": threading.current_thread().name,
                "charge_to": None,
            }
            self.spans.append(span)
        return span

    def _parent(self, stack: list[dict]) -> dict | None:
        if stack:
            return stack[-1]["span"]
        main = self._main_stack
        return main[-1]["span"] if main else None

    def _set_group(self, span: dict) -> None:
        self.sc.setJobGroup(span["group"], span["name"])

    def _close_segment(self, frame: dict) -> dict | None:
        seg = frame.get("segment")
        if seg is not None and seg["end"] is None:
            seg["end"] = time.time()
        frame["segment"] = None
        return seg

    def eager(self, name: str, layer: str, consumes: bool = False):
        """Decorator factory: span from entry to return. With
        ``consumes=True`` (catalog writes) a pending lazy segment's job
        group is kept, so the materializing jobs are charged to it."""

        def wrap(fn):
            @functools.wraps(fn)
            def inner(*args, **kwargs):
                t0 = time.perf_counter()
                stack = self._stack()
                pending = self._close_segment(stack[-1]) if stack else None
                span = self._new_span(name, layer, self._parent(stack))
                if consumes and pending is not None:
                    span["charge_to"] = pending["layer"]
                    self.sc.setJobGroup(pending["group"], name)
                    span["group"] = pending["group"]
                else:
                    self._set_group(span)
                stack.append({"span": span, "segment": None})
                self.overhead_s += time.perf_counter() - t0
                try:
                    return fn(*args, **kwargs)
                finally:
                    t1 = time.perf_counter()
                    frame = stack.pop()
                    self._close_segment(frame)
                    span["end"] = time.time()
                    if stack:
                        self._set_group(stack[-1]["span"])
                    else:
                        self.sc.setJobGroup(f"perfbench-{self.run_id}-idle", "idle")
                    self.overhead_s += time.perf_counter() - t1

            return inner

        return wrap

    def lazy(self, name: str, layer: str):
        """Decorator factory: opens a segment that lasts until the next
        layer entry on this thread (or the end of the enclosing span)."""

        def wrap(fn):
            @functools.wraps(fn)
            def inner(*args, **kwargs):
                t0 = time.perf_counter()
                stack = self._stack()
                if stack:
                    self._close_segment(stack[-1])
                seg = self._new_span(name, layer, self._parent(stack))
                self._set_group(seg)
                if stack:
                    stack[-1]["segment"] = seg
                else:
                    seg["end"] = seg["start"]
                self.overhead_s += time.perf_counter() - t0
                return fn(*args, **kwargs)

            return inner

        return wrap

    # ----------------------------------------------------------- install
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def install(self) -> None:
        from vectrain_spark import pipeline
        from vectrain_spark.catalog import Catalog

        def linker_factory(make_linker):
            traced = self.eager("linking.setup", "linking")(make_linker)

            @functools.wraps(make_linker)
            def inner(*args, **kwargs):
                linker, strategy = traced(*args, **kwargs)
                self.link_paths.append(strategy)
                wrapped = self.lazy("linking.link", "linking")(linker)
                if hasattr(linker, "cleanup"):
                    wrapped.cleanup = linker.cleanup
                return wrapped, strategy

            return inner

        def cc_factory(cc):
            @functools.wraps(cc)
            def inner(*args, **kwargs):
                self.canon_branches.append("distributed")
                return cc(*args, **kwargs)

            return inner

        self._patch(pipeline, "run_pipeline", self.eager("pipeline.run", "pipeline"))
        self._patch(pipeline, "_run_group", self.eager("pipeline.group", "pipeline"))
        self._patch(pipeline, "finalize", self.eager("pipeline.finalize", "pipeline"))
        self._patch(pipeline, "extract_pages", self.lazy("extract.html", "extract.html"))
        self._patch(
            pipeline, "extract_triples_df", self.lazy("extract.triples", "extract.triples")
        )
        self._patch(pipeline, "mention_surfaces", self.lazy("linking.surfaces", "linking"))
        self._patch(pipeline, "make_linker", linker_factory)
        self._patch(
            pipeline,
            "_canonical_mapping",
            self.eager("canonicalize.mapping", "canonicalize"),
        )
        self._patch(pipeline, "connected_components", cc_factory)
        self._patch(pipeline, "apply_canonical", self.lazy("canonicalize.apply", "canonicalize"))
        self._patch(pipeline, "dedup_triples", self.lazy("canonicalize.dedup", "canonicalize"))
        self._patch(Catalog, "write", self.eager("catalog.write", "catalog", consumes=True))
        self._patch(Catalog, "read", self.eager("catalog.read", "catalog"))
        self._patch(
            Catalog, "read_snapshot_delta", self.eager("catalog.read_snapshot_delta", "catalog")
        )
        self._patch(Catalog, "prune_if", self.eager("catalog.prune_if", "catalog"))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        self.sc.setJobGroup("perfbench-untraced", "untraced")

    # ----------------------------------------------------------- read back
    def _jobs(self) -> dict[int, dict]:
        """job id -> {span, start, end, stages:[...]} for every traced job."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        by_group = {s["group"]: s for s in self.spans if s["charge_to"] is None}
        jobs: dict[int, dict] = {}
        seen: set[int] = set()  # a stage reused by a later job counts once
        for group, span in by_group.items():
            for jid in tracker.getJobIdsForGroup(group):
                jd = store.job(jid)
                if not jd.completionTime().isDefined():
                    continue
                info = tracker.getJobInfo(jid)
                stages = []
                for sid in info.stageIds if info else []:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # stage evicted or never attempted
                        continue
                    if str(sd.status()) not in ("COMPLETE", "FAILED"):
                        continue
                    stages.append(
                        {
                            "task_ms": sd.executorRunTime(),
                            "shuffle_bytes": sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                        }
                    )
                jobs[jid] = {
                    "span": span,
                    "start": jd.submissionTime().get().getTime() / 1e3,
                    "end": jd.completionTime().get().getTime() / 1e3,
                    "stages": stages,
                }
        return jobs

    def _python_bytes(self, jobs: dict[int, dict]) -> dict[str, float]:
        """Bytes sent to plus returned from Python workers, per layer, from
        the SQL executions whose jobs belong to traced spans."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[str, float] = {}
        it = store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            keys = ex.jobs().keySet().iterator()
            owner = None
            while keys.hasNext() and owner is None:
                job = jobs.get(int(keys.next()))
                owner = job["span"]["layer"] if job else None
            if owner is None:
                continue
            values = store.executionMetrics(ex.executionId())
            mit = ex.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() in (_PY_SENT, _PY_RECV):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[owner] = out.get(owner, 0.0) + _size_bytes(v.get())
        return out

    def report(self, cores: int) -> dict:
        """Per-layer numbers and per-span self times for the traced run."""
        now = time.time()
        for s in self.spans:
            if s["end"] is None:
                s["end"] = now
        jobs = self._jobs()
        spans_by_id = {s["id"]: s for s in self.spans}

        # self time of each span: its interval minus what its children cover
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        layer_wall = {layer: 0.0 for layer in self.layers}
        for s in self.spans:
            own = s["end"] - s["start"]
            s["self_s"] = own - _union(_clip(children.get(s["id"], []), s["start"], s["end"]))
            layer_wall[s["layer"]] += s["self_s"]
        # a write that materialized a lazy segment: its Spark jobs' wall
        # time moves from catalog to the segment's layer
        for s in self.spans:
            if s["charge_to"] is None:
                continue
            ivs = [
                (j["start"], j["end"])
                for j in jobs.values()
                if j["span"]["group"] == s["group"]
            ]
            moved = _union(_clip(ivs, s["start"], s["end"]))
            layer_wall["catalog"] -= moved
            layer_wall[s["charge_to"]] += moved

        layers: dict[str, dict] = {
            layer: {"wall_s": layer_wall[layer], "jobs": 0, "stages": 0,
                    "task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
            for layer in self.layers
        }
        for j in jobs.values():
            d = layers[j["span"]["layer"]]
            d["jobs"] += 1
            d["stages"] += len(j["stages"])
            d["task_s"] += sum(st["task_ms"] for st in j["stages"]) / 1e3
            d["shuffle_mb"] += sum(st["shuffle_bytes"] for st in j["stages"]) / 2**20
            d["spill_mb"] += sum(st["spill_bytes"] for st in j["stages"]) / 2**20
        py = self._python_bytes(jobs)
        for layer, d in layers.items():
            d["core_util"] = d["task_s"] / (d["wall_s"] * cores) if d["wall_s"] > 0 else 0.0
            d["py_mb"] = py.get(layer, 0.0) / 2**20

        runs = [s for s in self.spans if s["name"] == "pipeline.run"]
        groups = [s["end"] - s["start"] for s in self.spans if s["name"] == "pipeline.group"]
        fin = [s["end"] - s["start"] for s in self.spans if s["name"] == "pipeline.finalize"]
        run_wall = sum(s["end"] - s["start"] for s in runs)
        busy = sum(
            _union(_clip([(j["start"], j["end"]) for j in jobs.values()], r["start"], r["end"]))
            for r in runs
        )
        if "pipeline" in layers:
            layers["pipeline"].update(
                groups=len(groups),
                group_p50_s=statistics.median(groups) if groups else 0.0,
                group_max_s=max(groups) if groups else 0.0,
                finalize_s=sum(fin),
                driver_s=run_wall - busy,
            )
        self_by_name: dict[str, float] = {}
        for s in self.spans:
            self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + s["self_s"]
        return {
            "layers": layers,
            "run_wall_s": run_wall,
            "overhead_s": self.overhead_s,
            "self_s_by_span": self_by_name,
            "link_paths": self.link_paths,
            "canon_branches": self.canon_branches,
            "spans": [
                {k: v for k, v in spans_by_id[i].items() if k != "group"}
                for i in sorted(spans_by_id)
            ],
        }
