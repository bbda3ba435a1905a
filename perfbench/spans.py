"""Spans around the engine's layer calls, with Spark metrics per span.

A span is (name, start, end, parent).  Entering one tags the Spark jobs
that run inside it with a job group of their own; after the operation,
``harvest`` reads each group's jobs from Spark's in-process status store
(``sc._jsc.sc().statusStore()``, live with the UI off) and turns them
into per-span metrics.  Spans and metrics stay in memory until the run
writes them out as one JSON file.

The spans wrap public calls from the outside: ``StageCheckpointer.
materialize`` (one span per stage name), ``propagate_min_label`` as
``plans.pipeline`` and ``plans.incremental`` call it, and whatever the
benchmark's own operation code wraps with :meth:`Tracer.span`.  The
patches are installed only around traced operations, so untraced
operations run the engine's own functions.
"""

from __future__ import annotations

import contextlib
import statistics
import time

from py4j.protocol import Py4JJavaError

SPANS = [
    "s1_norm",
    "s2_exact_reps",
    "s3_fingerprints",
    "s4_candidates",
    "s5_verified_pairs",
    "s6_cluster",
    "s7_clusters",
    "outputs",
    "state_read",
    "inc_assign",
    "inc_cluster",
    "inc_write",
    "state_commit",
]
SPAN_METRICS = {
    "wall_s": "s",
    "task_s": "s",
    "jobs": "count",
    "rows_out": "rows",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
}
EXTRA_METRICS = {
    "s4_candidates.pair_copies": "ratio",
    "s5_verified_pairs.pass_ratio": "ratio",
    "trace.overhead_pct": "%",
}
AUX_GROUP = "perfbench-aux"
_MB = 1024 * 1024


class StatusStore:
    """Spark's in-process status store, read per job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._gw = self.sc._gateway

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str, seen: set[int]) -> list:
        """Stage attempts that ran for ``group``'s jobs; ``seen`` holds the
        stage ids already counted elsewhere (a stage that a later job
        reuses is listed again as skipped, and counted once)."""
        out = []
        for jid in self.jobs(group):
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store, or never submitted
                    continue
                if sd.status().toString() != "SKIPPED":
                    out.append(sd)
        return out

    def skew(self, sd) -> float:
        """Slowest task / median task by executor run time (whole ms, the
        median floored at 1 ms)."""
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(sd.stageId(), sd.attemptId(), q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = float(run.apply(0)), float(run.apply(1))
        return top / max(med, 1.0)

    def shuffle_write_mb(self, group: str) -> float:
        return sum(sd.shuffleWriteBytes() for sd in self.stages(group, set())) / _MB


class Tracer:
    """Span recorder for one process; ``op`` numbers the operation the
    spans belong to."""

    def __init__(self, status: StatusStore) -> None:
        self.status = status
        self.sc = status.sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_group: str | None = None
        self.op = -1
        self.returned: dict[int, object] = {}  # span index -> what the layer returned
        self.band_pairs = None  # combined_band_pairs output of the traced op

    # -- recording ------------------------------------------------------

    def begin_op(self, op: int, group: str) -> None:
        self.op = op
        self._op_group = group
        self.returned = {}
        self.band_pairs = None

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-op{self.op}-span{idx}-{name}"
        rec = {"idx": idx, "name": name, "op": self.op, "parent": parent, "group": group, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield idx
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["group"] if self._stack else self._op_group
            self.sc.setJobGroup(outer, "perfbench")

    @contextlib.contextmanager
    def patched(self):
        """Install span wrappers around the engine's layer calls."""
        from umi_collapse_rs_spark.plans import checkpoint, incremental, pipeline

        tracer = self
        orig_materialize = checkpoint.StageCheckpointer.materialize
        orig_pipe_cluster = pipeline.propagate_min_label
        orig_inc_cluster = incremental.propagate_min_label
        orig_band_pairs = pipeline.combined_band_pairs

        def materialize(self_, stage, build):
            with tracer.span(stage) as idx:
                df = orig_materialize(self_, stage, build)
            tracer.returned[idx] = df
            return df

        def wrap_cluster(fn, name):
            def traced(*args, **kwargs):
                with tracer.span(name) as idx:
                    df = fn(*args, **kwargs)
                tracer.returned[idx] = df
                return df

            return traced

        def band_pairs(*args, **kwargs):
            df = orig_band_pairs(*args, **kwargs)
            tracer.band_pairs = df
            return df

        checkpoint.StageCheckpointer.materialize = materialize
        pipeline.propagate_min_label = wrap_cluster(orig_pipe_cluster, "s6_cluster")
        incremental.propagate_min_label = wrap_cluster(orig_inc_cluster, "inc_cluster")
        pipeline.combined_band_pairs = band_pairs
        try:
            yield
        finally:
            checkpoint.StageCheckpointer.materialize = orig_materialize
            pipeline.propagate_min_label = orig_pipe_cluster
            incremental.propagate_min_label = orig_inc_cluster
            pipeline.combined_band_pairs = orig_band_pairs

    # -- harvesting -----------------------------------------------------

    def harvest(self, op: int) -> list[dict]:
        """Fill in the metrics of operation ``op``'s spans (call once the
        operation is done; row counts run as jobs of their own group)."""
        spans = [s for s in self.spans if s["op"] == op]
        seen: set[int] = set()
        self.sc.setJobGroup(AUX_GROUP, "perfbench rows")
        for s in spans:
            stages = self.status.stages(s["group"], seen)
            s["jobs"] = len(self.status.jobs(s["group"]))
            s["task_s"] = sum(sd.executorRunTime() for sd in stages) / 1e3
            s["shuffle_write_mb"] = sum(sd.shuffleWriteBytes() for sd in stages) / _MB
            s["shuffle_read_mb"] = sum(sd.shuffleReadBytes() for sd in stages) / _MB
            s["spill_mb"] = sum(sd.diskBytesSpilled() for sd in stages) / _MB
            heavy = max(stages, key=lambda sd: sd.executorRunTime(), default=None)
            s["task_skew"] = self.status.skew(heavy) if heavy is not None else 1.0
            children = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["idx"])
            s["wall_s"] = (s["end"] - s["start"]) - children
            returned = self.returned.get(s["idx"])
            if returned is None:  # a write: the records it wrote
                s["rows_out"] = sum(sd.outputRecords() for sd in stages)
            else:
                s["rows_out"] = _rows(returned)
        self.returned = {}
        return spans

    def pair_copies(self) -> float | None:
        """Raw ``combined_band_pairs`` rows per distinct candidate pair of
        the last traced full-pipeline operation."""
        if self.band_pairs is None:
            return None
        self.sc.setJobGroup(AUX_GROUP, "perfbench pair copies")
        df = self.band_pairs.persist()
        try:
            raw = df.count()
            distinct = df.select("src", "dst").distinct().count()
        finally:
            df.unpersist()
        self.band_pairs = None
        return raw / distinct if distinct else 0.0


def _rows(value) -> int:
    """Rows of a DataFrame a layer returned, or of a state's tables."""
    if hasattr(value, "count"):
        return value.count()
    return value.sha_index.count() + value.canonicals.count()


def summarize(op_spans: list[list[dict]]) -> dict[str, float]:
    """Per-layer metrics: for each span name and metric, the median over
    traced operations of the per-operation total (0 when the layer did
    no work in this workload)."""
    out: dict[str, float] = {}
    for name in SPANS:
        for metric in SPAN_METRICS:
            per_op = []
            for spans in op_spans:
                mine = [s for s in spans if s["name"] == name]
                if metric == "task_skew":
                    per_op.append(max((s[metric] for s in mine), default=0.0))
                else:
                    per_op.append(sum(s[metric] for s in mine))
            out[f"{name}.{metric}"] = statistics.median(per_op) if per_op else 0.0
    return out
