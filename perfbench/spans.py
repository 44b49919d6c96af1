"""Spans around calls into the engine's layers, plus Spark's own records.

A :class:`Tracer` times named spans and, while enabled, puts every Spark
job started inside a span into a job group named after it. After the
session stops, :func:`event_log_metrics` reads the uncompressed event log
Spark wrote (switched on through launch conf, see ``run.py``) and groups
jobs, stages, executor time, shuffle and spill by those job groups.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import time
from collections import defaultdict
from contextlib import contextmanager

#: per-span Spark metrics, as (suffix, unit)
SPARK_FIELDS = (("jobs", "count"), ("stages", "count"),
                ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))


class Tracer:
    """Records span durations; a disabled tracer only runs the body."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append(time.perf_counter() - t0)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def mean(self, name: str) -> float:
        v = self.spans.get(name)
        return sum(v) / len(v) if v else 0.0

    def count(self, name: str) -> int:
        return len(self.spans.get(name, ()))


def _acc(stage_info: dict, name: str) -> float:
    for a in stage_info.get("Accumulables", ()):
        if a.get("Name") == name:
            return float(a.get("Value") or 0)
    return 0.0


def event_log_metrics(log_dir: str) -> dict[str, dict]:
    """job group -> {jobs, stages, executor_run_s, executor_cpu_s,
    shuffle_write_mb, spill_mb, python_stages}, summed over the run.
    ``python_stages`` counts completed stages whose RDD scopes include a
    ``MapInPandas`` operator."""
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None or "Failure Reason" in info:
                        continue
                    g = out[group]
                    g["stages"] += 1
                    g["executor_run_s"] += _acc(
                        info, "internal.metrics.executorRunTime") / 1e3
                    g["executor_cpu_s"] += _acc(
                        info, "internal.metrics.executorCpuTime") / 1e9
                    g["shuffle_write_mb"] += _acc(
                        info,
                        "internal.metrics.shuffle.write.bytesWritten") / 1e6
                    g["spill_mb"] += _acc(
                        info, "internal.metrics.diskBytesSpilled") / 1e6
                    scopes = (r.get("Scope", "") for r in info["RDD Info"])
                    if any('"MapInPandas"' in s for s in scopes):
                        g["python_stages"] += 1
    return {k: dict(v) for k, v in out.items()}


def udf_python_seconds(spark, dump_dir: str) -> float:
    """Total Python time of every UDF profiled since the last clear, from
    ``spark.sql.pyspark.udf.profiler=perf``."""
    spark.profile.dump(dump_dir, type="perf")
    return sum(pstats.Stats(p).total_tt
               for p in glob.glob(os.path.join(dump_dir, "*.pstats")))
