#!/usr/bin/env python3
"""Benchmark ``replay_spark`` on one workload.

    python3 replaybench/run.py --workload offline_eval --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. One closed-loop client thread drives a
``local[nproc]`` Spark session: set-up (session start, the build,
recorded as ``build_s``, and untimed warm-up ops), then timed ops
until ``--seconds`` of op time have passed and at least ``MIN_OPS``
ops ran. Every answer is checked by the workload's own oracle outside
the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced ops and prints the per-layer metrics of the traced
ones, with the tracing overhead (traced minus untraced op median).
Either way the full run record (per-op samples, drift, spans, CPU
canary, versions) is written to ``.bench_work/records/``. The last
line of standard output is the JSON result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

#: no run times fewer ops than this
MIN_OPS = 3
#: a run stops after this much wall time even if op time is short
WALL_CAP_S = 120.0
WORK = os.path.join(ROOT, ".bench_work")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "rows_per_s": "1/s",
    "success_rate": "ratio",
    "quality": "ratio",
    "peak_rss_mb": "MB",
}

#: per-layer sites, in the order of BENCHMARK.json
SITES = (
    "data.load",
    "preprocessing.filter",
    "preprocessing.encode",
    "splitters.split",
    "models.fit.PopRec",
    "models.predict.PopRec",
    "models.fit.ItemKNN",
    "models.predict.ItemKNN",
    "models.fit.ALSWrap",
    "models.predict.ALSWrap",
    "models.fit.SLIM",
    "models.predict.SLIM",
    "metrics.add_result",
    "lake.append",
    "lake.read_where",
    "ann.build.hnsw",
    "ann.build.ivfpq",
    "ann.search.hnsw",
    "ann.search.ivfpq",
)
SITE_COUNTERS = {"jobs": "count", "stages": "count", "tasks": "count"}
TOTALS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "wall_s": "s",
    "self_s": "s",
    "driver_s": "s",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "shuffle_bytes": "B",
    "failed_tasks": "count",
}


def cpu_canary() -> float:
    """Seconds for a fixed single-core hashing loop: a contention gauge."""
    import hashlib

    t0 = time.perf_counter()
    h = b"replaybench-canary"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def start_session(workdir: str):
    from replay_spark import get_spark_session

    nproc = os.cpu_count() or 4
    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark_session(
        app_name="replaybench",
        master=f"local[{nproc}]",
        extra_conf={
            # a fixed maximum heap, below the library's default, so
            # that runs stay small on a shared machine
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={local} -Dderby.system.home={workdir} "
                "-XX:-UsePerfData"
            ),
            # keep every job of a run in the status store for the ledger
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, nproc


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it runs in (its Python workers go
    with it) and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer(spans, traced_ops, build_spans, record) -> dict:
    """Per-layer metrics of the traced ops: each site's counters per op
    (a site that runs only in the build reports its build), every
    counter summed over the top-level spans, per op, and the lake's
    own ratios (zero on workloads without a lake)."""
    out = {}
    n = max(len(traced_ops), 1)

    def site_spans(site):
        op_spans = [s for s in spans if s["site"] == site]
        if op_spans:
            return op_spans, n
        return [s for s in build_spans if s["site"] == site], 1

    for site in SITES:
        pool, div = site_spans(site)
        for counter, unit in SITE_COUNTERS.items():
            out[f"{site}.{counter}"] = (sum(s[counter] for s in pool) / div, unit)
    top = [s for s in spans if s["parent"] is None]
    for counter, unit in TOTALS.items():
        out[f"spans.{counter}"] = (sum(s[counter] for s in top) / n, unit)
    writes = record.get("writes") or []
    user = sum(w["user_bytes"] for w in writes)
    appends = sum(w["appends"] for w in writes)
    out["lake.append.write_amp"] = (
        sum(w["bytes_written"] for w in writes) / user if user else 0.0, "ratio"
    )
    out["lake.append.checkpoints"] = (
        sum(w["checkpoints"] for w in writes) / appends if appends else 0.0,
        "count",
    )
    reads, _ = site_spans("lake.read_where")
    kept = [s["files_kept"] / s["files_total"] for s in reads]
    out["lake.read_where.files_kept_share"] = (
        sum(kept) / len(kept) if kept else 0.0, "ratio"
    )
    out["lake.space_amp"] = (record.get("space_amp", 0.0), "ratio")
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, scale=None,
        spark=None, min_ops: int = MIN_OPS) -> dict:
    """One benchmark run; returns the result object and writes the
    run record. ``scale`` and ``spark`` let tests run a small size in
    a shared session, and ``min_ops`` a run long enough for drift."""
    from spans import NullTracer, Tracer, cached_mb, peak_rss_mb, persisted_frames
    import workloads

    scale = scale or workloads.FULL
    workdir = os.path.join(WORK, f"{workload}-{os.getpid()}-{seed}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    own_session = spark is None
    record = {"workload": workload, "seed": seed, "trace": int(trace)}
    try:
        t_gen = time.perf_counter()
        wl = workloads.WORKLOADS[workload](None, seed, workdir, scale)
        wl.prepare()
        gen_s = time.perf_counter() - t_gen

        t_session = time.perf_counter()
        if own_session:
            spark, nproc = start_session(workdir)
        else:
            nproc = spark.sparkContext.defaultParallelism
        session_s = time.perf_counter() - t_session
        wl.spark = spark
        tracer = Tracer(spark) if trace else None
        null = NullTracer()
        record["canary_before_s"] = cpu_canary()

        # set-up as a user meets it: the build (traced in a traced run),
        # then untimed warm-up ops on the state the timed ops will use
        t0 = time.perf_counter()
        wl.build(tracer or null)
        build_s = time.perf_counter() - t0
        build_spans = list(tracer.spans) if tracer is not None else []
        if tracer is not None:
            tracer.spans.clear()
        for i in range(wl.warmup_ops):
            wl.before_op(i)
            for df in wl.op(i, null).frames:
                df.unpersist()
        i = wl.warmup_ops
        t_first = time.perf_counter()
        # the canary is the benchmark's own work, like input generation
        setup_s = t_first - T_START - gen_s - record["canary_before_s"]

        ops, traced_ops, windows = [], [], []
        timed = 0.0
        while (timed < seconds or len(ops) < min_ops) and (
            time.perf_counter() - t_first < WALL_CAP_S
        ):
            wl.before_op(i)
            use_trace = tracer is not None and (len(ops) + len(traced_ops)) % 2 == 1
            tr = tracer if use_trace else null
            w0 = time.time()
            t0 = time.perf_counter()
            failed, err = False, None
            try:
                ans = wl.op(i, tr)
            except Exception as exc:  # a failed op counts against success_rate
                failed, err, ans = True, repr(exc), None
            dt = time.perf_counter() - t0
            if use_trace:
                windows.append((w0, time.time()))
            timed += dt
            sample = {"i": i, "latency_s": dt, "traced": use_trace}
            if not failed:
                passed, quality, extra = wl.check(i, ans)
                sample.update(rows=ans.rows, passed=passed, quality=quality, **extra)
                for df in ans.frames:
                    df.unpersist()
            else:
                sample.update(rows=0, passed=False, quality=0.0, error=err)
            sample["persisted_frames"] = persisted_frames(spark)
            sample["cached_mb"] = cached_mb(spark)
            (traced_ops if use_trace else ops).append(sample)
            i += 1
        record["canary_after_s"] = cpu_canary()
        record["peak_rss_by_process_mb"] = peak_rss_mb()
        record["peak_rss_mb"] = sum(record["peak_rss_by_process_mb"].values())
        record.update(wl.finish())

        lat = [s["latency_s"] for s in ops]
        record.update(
            nproc=nproc,
            versions={
                "python": platform.python_version(),
                "spark": spark.version,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            },
            gen_s=gen_s,
            session_s=session_s,
            build_s=build_s,
            setup_s=setup_s,
            ops=ops,
            traced_ops=traced_ops,
            halves=stats.halves(lat),
            drift=stats.drift(lat),
            latency_tail=stats.tail(lat),
        )
        all_ops = ops + traced_ops
        passed = [s for s in all_ops if s["passed"]]
        metrics = {
            "setup_s": setup_s,
            "latency_p50_s": stats.nearest_rank(lat, 50),
            "rows_per_s": sum(s["rows"] for s in ops) / sum(lat),
            "success_rate": len(passed) / len(all_ops),
            "quality": statistics.mean(s["quality"] for s in all_ops),
            "peak_rss_mb": record["peak_rss_mb"],
        }
        result = {
            "correct": len(passed) == len(all_ops),
            "attempted": len(all_ops),
            "failed": len(all_ops) - len(passed),
        }
        if tracer is None:
            result["metrics"] = {
                k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()
            }
        else:
            foreign = tracer.foreign_jobs(windows)
            tlat = [s["latency_s"] for s in traced_ops]
            layer = per_layer(tracer.spans, traced_ops, build_spans, record)
            layer["session.persisted_frames"] = (
                traced_ops[-1]["persisted_frames"], "count"
            )
            layer["session.cached_mb"] = (traced_ops[-1]["cached_mb"], "MB")
            layer["session.unattributed_jobs"] = (len(foreign), "count")
            layer["trace.overhead_s"] = (
                stats.nearest_rank(tlat, 50) - stats.nearest_rank(lat, 50), "s"
            )
            result["metrics"] = {
                k: {"value": v, "unit": u} for k, (v, u) in layer.items()
            }
            record.update(
                spans=tracer.spans, build_spans=build_spans,
                unattributed_job_ids=foreign,
            )
        record["metrics"] = metrics
        record["result"] = result
        return result
    finally:
        if own_session and spark is not None:
            stop_session(spark)
        os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
        name = f"{workload}-seed{seed}-trace{int(trace)}.json"
        with open(os.path.join(WORK, "records", name), "w") as fh:
            json.dump(record, fh, indent=1, default=float)
        shutil.rmtree(workdir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "replay_spark", "__init__.py")):
        print(f"replay_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
