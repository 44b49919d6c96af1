"""Benchmark of the KG construction engine: ``build`` and ``serve``.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

One process, one client, closed loop on ``local[<cores>]``. Set-up starts
the session, generates the seeded transcripts table, builds the graph
store (serve) and runs one untimed warm-up pass. The timed phase then
runs ops back to back for ``--seconds`` (at least two build ops; whole
serve cycles). Every op is checked against answers derived from the
generator; a wrong answer is a failed op.

``--trace 1`` adds Spark's event log and the Python UDF profiler through
launch conf, replays the same ops with a span around each call into a
layer, and reports the per-layer metrics instead of the end-to-end ones.

Output: a table of every metric with unit and sample count, the host
context, and as the last line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The same data, with sample
counts and context, is written to ``.perfbench_out/``.
``--smoke`` runs a tiny input. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SIZES = {"full": {"n_convs": 1000, "n_slices": 2},
         "smoke": {"n_convs": 40, "n_slices": 2}}
WORKLOADS = ("build", "serve")
#: spans whose Spark jobs are grouped from the event log
SPARK_SPANS = ("expand.write", "linking.mapping", "linking.rewrite_write",
               "linking.counts_write", "sparql.plan", "sparql.exec",
               "update.apply", "update.commit", "update.verify")
PROFILER_CONF = "spark.sql.pyspark.udf.profiler"


# ----------------------------------------------------------- host state


def calib_sha1_ms() -> float:
    """Single-core probe, best of 3: a fixed sha1 chain (bench.py's
    ``calib_sha1_ms``), so a reader can tell host slowdowns from
    regressions."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        h = b"x" * 1000
        for _ in range(100_000):
            h = hashlib.sha1(h[:64]).digest() + h[:936]
        best = min(best, (time.perf_counter() - t0) * 1000)
    return round(best, 1)


def live_spark_jvms() -> list[int]:
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"org.apache.spark.deploy.SparkSubmit" in f.read():
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# -------------------------------------------------------------- session


def set_launch_conf(work: str, trace: bool) -> str:
    """Keep every file Spark and Python write inside ``work`` and, when
    tracing, switch on the uncompressed event log; all through launch
    conf, so the library's session factory runs unchanged."""
    tmp, event_dir = os.path.join(work, "tmp"), os.path.join(work, "events")
    for d in (tmp, event_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return event_dir


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (its stdin pipe closing is its exit
    signal) and wait for it; Python workers exit with it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- loops


class Loop:
    """Latencies of one closed-loop phase."""

    def __init__(self):
        self.lat: list[float] = []
        self.kinds: list[str] = []
        self.failed = 0
        self.unit_walls: list[float] = []
        self.wall = 0.0

    def by_kind(self, kind: str) -> list[float]:
        return [t for t, k in zip(self.lat, self.kinds) if k == kind]

    @property
    def units(self) -> int:
        return len(self.unit_walls)

    @property
    def unit_s(self) -> float:
        """Median wall time of one unit of work."""
        return statistics.median(self.unit_walls)


def closed_loop(wl, tracer, *, seconds: float,
                n_units: int | None = None) -> Loop:
    """Run whole units of work back to back, each op after the previous
    one returned, until ``seconds`` have passed (at least one unit), or
    exactly ``n_units``."""
    loop = Loop()
    wl.start()
    t0 = time.perf_counter()
    while True:
        tu = time.perf_counter()
        for kind, fn in wl.unit():
            ts = time.perf_counter()
            try:
                fn(tracer)
            except Exception:  # one failed op must not end the run
                loop.failed += 1
                traceback.print_exc(file=sys.stderr)
            loop.lat.append(time.perf_counter() - ts)
            loop.kinds.append(kind)
        loop.unit_walls.append(time.perf_counter() - tu)
        elapsed = time.perf_counter() - t0
        if (loop.units >= n_units if n_units is not None
                else elapsed >= seconds):
            break
    loop.wall = time.perf_counter() - t0
    return loop


# -------------------------------------------------------------- metrics


def tail(lat: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; None below 20 samples, where that is the median
    or lower."""
    n = len(lat)
    if n < 20:
        return None
    return 100 * (n - 10) / n, sorted(lat)[n - 11]


def end_to_end(setup_s: float, loop: Loop) -> dict:
    return {"setup_s": (setup_s, "s", 1),
            "wall_s": (loop.unit_s, "s", loop.units)}


def per_layer(loop: Loop, ref: Loop, tracer, ev: dict, extra: dict) -> dict:
    import spans
    import workloads
    m: dict = {}
    n_b = tracer.count("expand.write")
    n_q = tracer.count("sparql.plan")
    n_u = tracer.count("update.apply")

    def per(total, n):
        return total / n if n else 0.0

    last = extra.get("build_last", {})
    m["jsonld.turns_per_s"] = (extra.get("kernel_turns_per_s", 0.0), "1/s",
                               3 if n_b else 0)
    m["expand.write_s"] = (tracer.mean("expand.write"), "s", n_b)
    m["expand.udf_python_s"] = (per(extra.get("udf_python_s", 0.0), n_b),
                                "s", n_b)
    m["expand.python_stage_runs"] = (
        per(ev.get("expand.write", {}).get("python_stages", 0), n_b),
        "count", n_b)
    m["expand.quads_out"] = (last.get("quads_out", 0), "count", n_b)
    m["expand.parse_errors"] = (last.get("parse_errors", 0), "count", n_b)
    m["linking.nodes"] = (last.get("nodes", 0), "count", n_b)
    m["linking.dedup_keep_ratio"] = (
        per(last.get("graph_rows", 0), last.get("quads_out", 0)), "1", n_b)
    for span in ("linking.mapping", "linking.rewrite_write",
                 "linking.counts_write"):
        m[span + "_s"] = (tracer.mean(span), "s", n_b)
    m["sparql.parse_s"] = (tracer.mean("sparql.parse"), "s", n_q)
    m["sparql.plan_s"] = (tracer.mean("sparql.plan"), "s", n_q)
    m["sparql.plan_jobs"] = (
        per(ev.get("sparql.plan", {}).get("jobs", 0), n_q), "count", n_q)
    m["sparql.exec_s"] = (tracer.mean("sparql.exec"), "s", n_q)
    for shape in workloads.SHAPES:
        lat = loop.by_kind(shape)
        m[f"query.{shape}.p50_s"] = (statistics.median(lat) if lat else 0.0,
                                     "s", len(lat))
    for span in ("update.apply", "update.commit", "update.verify"):
        m[span + "_s"] = (tracer.mean(span), "s", n_u)
    amp = [w / c for w, c in zip(extra.get("rows_written", ()),
                                 extra.get("rows_changed", ()))]
    m["update.write_amplification"] = (
        statistics.mean(amp) if amp else 0.0, "1", len(amp))
    for span in SPARK_SPANS:
        n = tracer.count(span)
        for field, unit in spans.SPARK_FIELDS:
            m[f"{span}.{field}"] = (per(ev.get(span, {}).get(field, 0), n),
                                    unit, n)
    m["driver.peak_rss_mb"] = (extra["driver_rss_mb"], "MB", 1)
    m["jvm.peak_rss_mb"] = (extra["jvm_rss_mb"], "MB", 1)
    m["trace.overhead_frac"] = (loop.unit_s / ref.unit_s - 1, "1",
                                loop.units)
    spanned = sum(sum(v) for v in tracer.spans.values())
    m["trace.residual_s"] = ((loop.wall - spanned) / loop.units, "s",
                             loop.units)
    return m


# ------------------------------------------------------------------ run


def run(args, work: str, event_dir: str, context: dict) -> dict:
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from rdflib_jsonld_spark.plans.pipeline import build_session
    from rdflib_jsonld_spark.sources import transcripts as tr
    import expected
    import spans
    import workloads

    size = SIZES["smoke" if args.smoke else "full"]
    cores = len(os.sched_getaffinity(0))
    context.update(cores=cores, **size)
    parts = context["setup_parts_s"] = {}

    def part(name: str) -> None:
        parts[name] = round(time.perf_counter() - t0 - sum(parts.values()),
                            2)

    spark = build_session(f"local[{cores}]", "perfbench",
                          shuffle_partitions=2 * cores, driver_memory="2g")
    part("session")
    extra: dict = {}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        corpus = expected.tally(args.seed, size["n_convs"])
        context["turns"] = corpus.turns
        part("tally")
        tx = os.path.join(work, "transcripts")
        tr.write_transcripts(spark, tx, n_convs=size["n_convs"],
                             seed=args.seed, partitions=2 * cores)
        part("transcripts")
        cls = (workloads.BuildWorkload if args.workload == "build"
               else workloads.ServeWorkload)
        wl = cls(spark, tr.read_transcripts(spark, tx), corpus, work, size,
                 args.seed)
        off = spans.Tracer(spark, False)
        wl.warm_up(off)
        part("warm_up")
        setup_s = time.perf_counter() - t0

        loop = closed_loop(wl, off, seconds=args.seconds)
        result = {"loop": loop, "setup_s": setup_s}
        if args.trace:
            tracer = spans.Tracer(spark, True)
            spark.profile.clear(type="perf")
            spark.conf.set(PROFILER_CONF, "perf")
            traced = closed_loop(wl, tracer, seconds=0, n_units=loop.units)
            spark.conf.unset(PROFILER_CONF)
            extra["udf_python_s"] = spans.udf_python_seconds(
                spark, os.path.join(work, "profile"))
            if args.workload == "build":
                extra["build_last"] = wl.builder.last
                extra["kernel_turns_per_s"] = workloads.kernel_turns_per_s(
                    corpus)
            else:
                extra.update(wl.stats)
            result.update(traced=traced, tracer=tracer)
        if args.workload == "build":
            result["turns_per_s"] = corpus.turns / loop.unit_s
        extra["driver_rss_mb"] = peak_rss_mb()
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        extra["jvm_rss_mb"] = peak_rss_mb(jvm.pid) if jvm else 0.0
    finally:
        stop_session(spark)
    if args.trace:
        t = result["traced"]
        result["metrics"] = per_layer(
            t, loop, result["tracer"],
            spans.event_log_metrics(event_dir), extra)
        result["attempted"] = len(loop.lat) + len(t.lat)
        result["failed"] = loop.failed + t.failed
    else:
        result["metrics"] = end_to_end(setup_s, loop)
        result["attempted"] = len(loop.lat)
        result["failed"] = loop.failed
    return result


def result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(ROOT, ".perfbench_out",
                        f"{workload}-seed{seed}-trace{trace}.json")


def report(args, result: dict, context: dict) -> dict:
    loop = result["loop"]
    metrics = result["metrics"]
    # context metrics, printed and saved but not in BENCHMARK.json:
    # fail_frac is 0 when correct, and build runs one op per unit
    rows = dict(metrics)
    rows["fail_frac"] = (result["failed"] / result["attempted"], "1",
                         result["attempted"])
    n = len(loop.lat)
    if not args.trace and args.workload == "build":
        rows["turns_per_s"] = (result["turns_per_s"], "1/s", loop.units)
    elif not args.trace:
        rows["ops_per_s"] = (n / loop.wall, "1/s", n)
        rows["p50_s"] = (statistics.median(loop.lat), "s", n)
        t = tail(loop.lat)
        if t is not None:
            rows[f"tail_s.p{t[0]:.0f}"] = (t[1], "s", n)
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    print(f"{'metric':<40} {'value':>14} {'unit':<6} samples")
    for name, (value, unit, n) in rows.items():
        print(f"{name:<40} {value:>14.6g} {unit:<6} {n}")
    for k, v in context.items():
        print(f"context.{k} = {v}")
    out = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace,
           "smoke": args.smoke,
           "correct": result["failed"] == 0,
           "attempted": result["attempted"], "failed": result["failed"],
           "metrics": {k: {"value": v, "unit": u, "samples": n}
                       for k, (v, u, n) in rows.items()},
           "context": context,
           "ops": [[k, t] for k, t in zip(loop.kinds, loop.lat)],
           "unit_walls": loop.unit_walls}
    path = result_path(args.workload, args.seed, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    return {"correct": out["correct"], "attempted": out["attempted"],
            "failed": out["failed"],
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u, _) in metrics.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny input, for the benchmark's own tests")
    args = ap.parse_args(argv)

    context = {"calib_sha1_ms": calib_sha1_ms(),
               "loadavg_before": os.getloadavg(),
               "other_spark_jvms": live_spark_jvms()}
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    try:
        event_dir = set_launch_conf(work, bool(args.trace))
        result = run(args, work, event_dir, context)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    context["loadavg_after"] = os.getloadavg()
    line = report(args, result, context)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
