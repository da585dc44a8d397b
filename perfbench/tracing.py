"""Spans recorded from outside the program, and Spark's own stage metrics.

The tracer wraps the public functions of each layer by patching module
attributes for the duration of one traced run, records (name, start, end,
parent id) in memory, and restores the originals afterwards. Work inside
the Python workers cannot be spanned from the driver; those layers are
timed by prefix jobs in run.py instead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import urllib.request


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None, "name": name,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def descendants(self, sid: int, name: str) -> list[int]:
        out, frontier = [], [sid]
        while frontier:
            p = frontier.pop()
            for c in self.spans:
                if c["parent"] == p:
                    frontier.append(c["id"])
                    if c["name"] == name:
                        out.append(c["id"])
        return sorted(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap each layer's public entry points (driver-side calls)."""
    from pyspark.sql.classic.dataframe import DataFrame  # the class sessions instantiate
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from datatrove_spark.operators import langid, minhash, pii, quality_fused, url_filter
    from datatrove_spark.plans import pipeline

    tracer.wrap(DataFrameReader, "parquet", "sources.read_parquet")
    tracer.wrap(DataFrameWriter, "parquet", "pipeline.write")
    tracer.wrap(DataFrame, "collect", "spark.collect")
    tracer.wrap(DataFrame, "count", "spark.count")
    tracer.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline")
    tracer.wrap(pipeline, "compose", "pipeline.compose")
    tracer.wrap(url_filter, "apply", "url_filter.apply")
    tracer.wrap(langid, "apply", "langid.apply")
    tracer.wrap(quality_fused, "apply", "quality_fused.apply")
    tracer.wrap(pii, "apply", "pii.apply")
    for fn in ("apply", "signatures", "pairs_from_sigs", "connected_components"):
        tracer.wrap(minhash, fn, f"minhash.{fn}")


class StageMetrics:
    """Spark's REST status API (needs ``spark.ui.enabled``), grouped by the
    job group each layer's jobs were tagged with."""

    def __init__(self, sc) -> None:
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def stages_of(self, group: str) -> list[dict]:
        """Completed stages of every job in `group`; waits for the status
        store to catch up with the listener bus."""
        for _ in range(50):
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                ids = {s for j in jobs for s in j["stageIds"]}
                stages = [s for s in self._get("/stages") if s["stageId"] in ids and s["status"] == "COMPLETE"]
                if all(s.get("completionTime") for s in stages):
                    return stages
            time.sleep(0.2)
        raise RuntimeError(f"stage metrics for job group {group!r} did not settle")

    def totals(self, group: str) -> dict:
        st = self.stages_of(group)
        return {
            "executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "spill_bytes": sum(s["diskBytesSpilled"] for s in st),
            "failed_tasks": sum(s["numFailedTasks"] for s in st),
        }

    def window_task_skew(self, group: str) -> float:
        """max / median task run time of the shuffle-reading stage that
        also writes a shuffle (the min() OVER (bucket, sig) window)."""
        st = [s for s in self.stages_of(group) if s["shuffleReadBytes"] > 0 and s["shuffleWriteBytes"] > 0]
        if not st:
            return 0.0
        s = max(st, key=lambda s: s["executorRunTime"])
        q = self._get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med else 0.0
