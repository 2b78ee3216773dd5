"""Benchmark entry point.

    python3 perfbench/run.py --workload weather_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one ``local[N]`` Spark session
with N = the CPUs this process may use, one closed-loop client. Set-up
(session start, seeded input generation, one untimed warm pass) is timed
as ``setup_s``; then whole passes of the workload run until ``--seconds``
have elapsed (at least one). Outputs are checked after the timed region.

``--trace 0`` prints the end-to-end metrics (``END_TO_END_UNITS``).
``--trace 1`` additionally runs one traced pass after the timed ones (spans
around the package's layer boundaries, Spark jobs labelled per span, event
log read offline) and, time allowing, one untraced control pass after it,
and prints the per-layer metrics instead (``layers.PER_LAYER_UNITS``). The
event log is written only during the traced pass, so set-up and the
untraced passes do what they do in an untraced run, and the tracing
overhead is the traced pass's wall time minus the mean of the untraced
passes on either side of it (in ``weather_cycle`` the tables grow by the
same amount every cycle, so that mean sees the traced pass's table sizes).
The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the line before it is a report with the host
record, ``failed_ops_ratio``, the peak RSS, per-op latencies, the
workload's own named metrics and, when tracing, the per-layer detail. Scratch files go under ``.perfbench_work/`` in the
repository root and are removed at exit, except the trace record
``<workload>-s<seed>-<pid>.trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

# computed here too: the script must put the root on sys.path before it can
# import the ``perfbench`` package
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Reported by every workload, so each must mean the same on all of them:
# set-up (session, inputs, warm pass) and the median wall time of one timed
# pass. Each workload's own metrics (cycle_s, query_mix_s, ...) and the
# peak RSS go to the report line.
# The traced run skips its control pass when it is this far in (seconds
# since start), so that a run on a slow host still ends within 180 s; the
# overhead is then measured against the timed pass before the traced one.
CONTROL_DEADLINE_S = 110

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def preflight() -> str | None:
    """Why this checkout cannot run the benchmark, or None."""
    for rel in ("weatherdatapipeline_spark/__init__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"perfbench: {rel} not found under {ROOT}; run from a full checkout"
    return None


def _environment(work: str) -> None:
    """Keep every file Spark and its Python workers write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def _traced_pass(spark, wl, log, switch):
    """One traced pass with the event log attached; returns the tracer, its
    wall time, its window in epoch ms and the workload's layer detail."""
    from perfbench.measure import count_parquet
    from perfbench.tracing import Tracer, package_targets, patched
    from weatherdatapipeline_spark.ml.registry import LocalRegistry

    sc = spark.sparkContext
    tracer = Tracer(set_group=lambda g: sc.setLocalProperty("spark.jobGroup.id", g))
    engine = getattr(wl, "engine", None)
    registry_cls = type(engine.registry) if engine is not None else LocalRegistry
    catalog = os.path.join(wl.work, "catalog")
    files0, bytes0 = count_parquet(catalog)
    switch.attach()
    with patched(package_targets(registry_cls), tracer):
        w0 = time.time()
        wall = wl.run_pass("traced", tracer)
        w1 = time.time()
    sc.setLocalProperty("spark.jobGroup.id", None)
    switch.detach()
    files1, bytes1 = count_parquet(catalog)
    detail = wl.layer_detail([o for o in log.ops if o.phase == "traced"])
    detail.update(catalog_files_written=files1 - files0, catalog_bytes_written=bytes1 - bytes0)
    return tracer, wall, (w0 * 1e3, w1 * 1e3), detail


def run(args) -> tuple[dict, dict]:
    """Returns (final result line, report)."""
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    from perfbench.measure import host_info
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    _environment(work)
    host = host_info()
    host["seed"] = args.seed
    try:
        return _measure(args, work, host, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, work: str, host: dict, t_start: float) -> tuple[dict, dict]:
    from perfbench import eventlog
    from perfbench.measure import RssSampler, latency_summary, metric
    from perfbench.workloads import WORKLOADS, OpLog
    from weatherdatapipeline_spark.session import get_spark

    cores = host["nproc"]
    sampler = RssSampler()
    sampler.start()
    spark = wl = traced = control = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cores, extra_conf=_spark_conf(work, args.trace))
        session_s = time.perf_counter() - t0
        if args.trace:
            switch = eventlog.Switch(spark)
            switch.detach()
        log = OpLog()
        wl = WORKLOADS[args.workload](spark, work, args.seed, log)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        passes, peaks = [], None
        t_timed = time.perf_counter()
        while not passes or time.perf_counter() - t_timed < args.seconds:
            passes.append(wl.run_pass("timed"))
            # memory covers the same work on every run: set-up plus one pass
            peaks = peaks or sampler.peaks_mb()
        if args.trace:
            traced = _traced_pass(spark, wl, log, switch)
            if time.perf_counter() - t_start < CONTROL_DEADLINE_S:
                control = wl.run_pass("control")
        problems = wl.check()
    finally:
        if spark is not None:
            _stop(spark)
        if wl is not None:
            wl.close()
        sampler.stop()

    host["loadavg_end"] = os.getloadavg()
    timed_ops = log.select()
    report = {
        "workload": args.workload,
        "host": host,
        "passes": len(passes),
        # the whole process tree (Python driver, the JVM at the package's
        # default driver heap, Spark's Python workers) over set-up and the
        # first timed pass; not a gated metric, because at that heap the
        # JVM's committed heap, and so this peak, varies by a fifth or more
        # between runs
        "peak_rss_mb": {
            **metric(peaks["tree"], "MB"),
            "parts_mb": {k: v for k, v in peaks.items() if k != "tree"},
        },
        "failed_ops_ratio": {
            "value": sum(not o.ok for o in log.ops) / len(log.ops),
            "base": f"{len(log.ops)} ops ({', '.join(sorted({o.phase for o in log.ops}))} passes)",
        },
        "problems": problems,
        "errors": [o.error for o in log.ops if o.error][:5],
        "workload_metrics": wl.report(passes),
        "ops": {
            name: latency_summary([o for o in timed_ops if o.name == name])
            for name in sorted({o.name for o in timed_ops})
        },
    }
    if args.trace:
        from perfbench.layers import PER_LAYER_UNITS, layer_metrics

        tracer, wall, window, detail = traced
        neighbours = [passes[-1]] if control is None else [passes[-1], control]
        detail["untraced_neighbours_s"] = neighbours
        values, record = layer_metrics(
            tracer.spans,
            wall,
            sum(neighbours) / len(neighbours),
            session_s,
            eventlog.read_dir(os.path.join(work, "eventlog")),
            window,
            cores,
            detail,
        )
        metrics = {k: metric(values[k], u) for k, u in PER_LAYER_UNITS.items()}
        report["layers"] = record
        os.makedirs(os.path.dirname(work), exist_ok=True)
        with open(f"{work}.trace.json", "w") as f:
            json.dump({"report": report, "spans": tracer.to_json()}, f)
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": latency_summary(passes)["p50"],
        }
        metrics = {k: metric(values[k], u) for k, u in END_TO_END_UNITS.items()}
    failed = sum(not o.ok for o in log.ops)
    result = {
        "correct": not problems and failed == 0,
        "attempted": len(log.ops),
        "failed": failed,
        "metrics": metrics,
    }
    return result, report


def main(argv=None) -> int:
    args = parse_args(argv)
    problem = preflight()
    if problem:
        print(problem, file=sys.stderr)
        return 2
    result, report = run(args)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
