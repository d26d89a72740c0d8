"""Spans with Spark counters, recorded from the benchmark's own files.

A span sets a Spark job group on entry. On exit it reads the jobs of
that group from ``statusTracker`` and sums the stage metrics that
``statusStore().lastStageAttempt`` keeps for them, so each span carries
the jobs, stages, task time, GC time, shuffle bytes, spill, input bytes
and output rows of the work it ran. Nested spans get their own group:
a parent's counters are its self counters; ``inclusive`` adds the
subtree. Spans stay in memory until ``dump``.

``wrap_stream_driver`` patches the names ``IncrementalStream`` imports
into ``linkgraph.streaming.stream_driver`` so one ``process_batch``
splits into apply / seed / frontier / warm-Louvain spans. Those calls
return lazy DataFrames; the time and jobs of a lazy call are charged
to the ``barrier`` that materializes it, under the same layer name.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "task_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_rows",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        self._next += 1
        rec = {
            "id": self._next,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{self._next}",
            **attrs,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self._stack.pop()
            rec.update(self._counters(rec["group"]))
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setJobGroup("perfbench-untraced", "outside any span")
            self.spans.append(rec)

    def _counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # the status store is fed by the listener bus; drain it so the
        # last job of the span is visible
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the store
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["task_s"] += st.executorRunTime() / 1000.0
                out["gc_s"] += st.jvmGcTime() / 1000.0
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["output_rows"] += st.outputRecords()
        return out

    # -- aggregation ---------------------------------------------------
    def inclusive(self, rec: dict) -> dict:
        """Counters of ``rec`` plus every span nested under it."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        tot = {k: rec.get(k, 0) for k in COUNTERS}
        todo = list(kids.get(rec["id"], []))
        while todo:
            s = todo.pop()
            for k in COUNTERS:
                tot[k] += s.get(k, 0)
            todo.extend(kids.get(s["id"], []))
        return tot

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str, key: str) -> float:
        """Inclusive counter ``key`` summed over the spans called ``name``."""
        return sum(self.inclusive(s)[key] for s in self.named(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


STREAM_LAYERS = {
    "apply_deletions": "streaming.apply",
    "apply_additions": "streaming.apply",
    "seed_new_nodes": "streaming.seed",
    "frontier_del": "streaming.frontier",
    "frontier_add": "streaming.frontier",
    "louvain": "streaming.warm_louvain",
}


def wrap_stream_driver(tracer: Tracer) -> None:
    """Patch the stream driver's imported names with span wrappers."""
    import linkgraph.streaming.stream_driver as sd

    owner: dict[int, str] = {}  # id(lazy frame) -> layer that built it
    orig_barrier = sd.barrier

    def wrapped(fname: str, layer: str):
        orig = getattr(sd, fname)

        def call(*args, **kwargs):
            attrs = {}
            name = layer
            if fname == "louvain" and kwargs.get("init_partition") is None:
                name = "streaming.init_louvain"  # the constructor's cold run
            if fname == "louvain" and kwargs.get("frontier") is not None:
                # R / vertices, counted outside the span's job group
                tracer.sc.setJobGroup("perfbench-overhead", "r_frac")
                r = kwargs["frontier"].count()
                n = kwargs["vertices"].count()
                tracer.sc.setJobGroup(tracer._stack[-1]["group"], tracer._stack[-1]["name"])
                attrs = {"r_size": r, "n_vertices": n}
            with tracer.span(name, call=fname, **attrs) as rec:
                out = orig(*args, **kwargs)
                if fname == "louvain":
                    rec["rounds"] = len(out.metrics)
                    rec["levels"] = out.levels
                    owner[id(out.assignment)] = name
                elif name != "streaming.seed":  # seeded state is never barriered
                    owner[id(out)] = name
            return out

        return call

    def barrier(df, *args, **kwargs):
        layer = owner.pop(id(df), "streaming.barrier")
        with tracer.span(layer, call="barrier"):
            return orig_barrier(df, *args, **kwargs)

    for fname, layer in STREAM_LAYERS.items():
        setattr(sd, fname, wrapped(fname, layer))
    sd.barrier = barrier
