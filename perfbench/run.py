#!/usr/bin/env python3
"""Fréchet range-query engine benchmark.

    python3 perfbench/run.py --workload {selfjoin,lookup} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One process, one Spark session at
``local[nproc]``. A run generates its inputs, sets the workload up several
times (``setup_s`` is the median), runs a few untimed warm-up operations,
then repeats the workload's operation for ``--seconds`` and checks every
result outside the timed phase. ``--trace 1`` adds per-span job groups, the
Spark event log and the per-layer decomposition, and reports per-layer
metrics instead of end-to-end ones. The metric names and units are the ones listed
in BENCHMARK.json. The last line of standard output is the JSON result;
details (samples, spans, checks, machine record) go to
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TRACED_OPS = {"selfjoin": 1, "lookup": 3}
ACCOUNTED_TOLERANCE = 0.10
WARMUP_OP0 = 1_000_000  # operation indices the timed phase never reaches


def tail_latency(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); (None, None) below eleven samples."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return None, None
    return s[n - 11], 100.0 * (n - 10) / n


def _environment(work: Path, trace: bool) -> dict:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import the engine from any working directory."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    # every JVM spark-submit starts, the launcher included: no temp files
    # and no hsperfdata files outside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _timed_ops(wl, tracer, seconds: float, first: int):
    """Repeat ``wl.op`` (at least once) until ``seconds`` have passed.
    Returns (results, op spans, phase wall); a failed operation's result is
    None."""
    results, spans = [], []
    t0 = time.perf_counter()
    i = first
    while True:
        with tracer.span("op") as s:
            try:
                results.append(wl.op(i))
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                results.append(None)
        spans.append(s)
        i += 1
        if time.perf_counter() - t0 >= seconds:
            return results, spans, time.perf_counter() - t0


def run(spark, args, work: Path) -> dict:
    import tracing
    import workloads

    tracer = tracing.Tracer(spark, enabled=bool(args.trace))
    corpus = workloads.Corpus(spark, str(HERE / "data" / "sf0.1_documents.parquet"))
    wl = workloads.WORKLOADS[args.workload](spark, tracer, corpus, args.seed, str(work))
    out = {"machine_start": tracing.machine_state(spark)}
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        wl.prepare()
        phase("prepare")
        setup = []
        for _ in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup()
            setup.append(time.perf_counter() - t0)
        phase("setup")
        for i in range(wl.warmup_ops):
            wl.op(WARMUP_OP0 + i)
        phase("warmup")

        tracer.enabled = False
        cpu0 = tracing.tree_cpu_s()
        results, spans, phase_s = _timed_ops(wl, tracer, args.seconds, 0)
        cpu_s = tracing.tree_cpu_s() - cpu0
        rss = tracing.driver_rss_peak_mb()
        phase("timed")
        traced_spans, paired_spans, layers = [], [], {}
        if args.trace:
            # traced operations alternate with untraced ones, so the
            # overhead estimate does not mix tracing with warm-up drift
            traced = []
            for _ in range(TRACED_OPS[args.workload]):
                for enabled in (True, False):
                    tracer.enabled = enabled
                    res, sp, _ = _timed_ops(wl, tracer, 0.0, len(results))
                    results += res
                    (traced_spans if enabled else paired_spans).extend(sp)
                    if enabled:
                        traced += res
            tracer.enabled = True
            layers = wl.layers([r for r in traced if r is not None])
            phase("traced")

        ok = [False] * len(results)
        good = [j for j, r in enumerate(results) if r is not None]
        if good:
            for j, v in zip(good, wl.check([results[j] for j in good])):
                ok[j] = bool(v)
        phase("check")
    finally:
        wl.close()

    lat = [s["wall_s"] for s in spans]
    tail, pct = tail_latency(lat)
    out.update({
        "phases_s": phases,
        "setup_samples_s": setup,
        "latency_samples_s": lat,
        "untraced_spans": spans,
        "traced_spans": traced_spans,
        "paired_spans": paired_spans,
        "spans": tracer.spans,
        "checks": wl.checks,
        "ok": ok,
        "layers": layers,
        "end_to_end": {
            "setup_s": statistics.median(setup),
            "qps": wl.queries_per_op / statistics.median(lat),
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail,
            "latency_tail_percentile": pct,
            "latency_samples": len(lat),
            "failed_frac": ok.count(False) / len(ok),
            "driver_rss_peak_mb": rss,
        },
        "timed_phase": {"wall_s": phase_s, "cpu_s": cpu_s},
        "machine_end": tracing.machine_state(spark),
    })
    return out


def _event_log_layers(out: dict, log_dir: Path, cores: int) -> dict:
    """Per-layer metrics that need the finished event log."""
    import tracing

    jobs = tracing.read_event_log(str(log_dir))
    med = statistics.median
    spans = out["spans"]

    def totals(name, key, agg=med):
        """Event-log totals of the jobs started inside each span called
        ``name`` (spans are sequential), aggregated over those spans."""
        vals = [
            tracing.interval_totals(jobs, s["start"], s["end"])[key]
            for s in spans
            if s["name"] == name
        ]
        return agg(vals) if vals else 0

    untraced = out["untraced_spans"]
    gaps = [s["wall_s"] - tracing.job_busy_s(jobs, s["start"], s["end"]) for s in untraced]
    traced = out["traced_spans"]
    layers = {
        "candidates.shuffle_bytes": totals("candidates", "shuffle_bytes"),
        "range_query.shuffle_bytes": totals("range_query.action", "shuffle_bytes"),
        # broadcast packs are collected once per table and then cached, so
        # the largest build-phase collect is the attach arm's driver cost
        "attach.collect_mb": totals("range_query.build", "result_bytes", max) / 2**20,
        "knn.build_collect_mb": totals("knn.build", "result_bytes", max) / 2**20,
        "spark.driver_gap_s": med(gaps),
        "spark.core_busy_frac": out["timed_phase"]["cpu_s"]
        / (out["timed_phase"]["wall_s"] * cores),
        "trace.overhead_frac": med([s["wall_s"] for s in traced])
        / med([s["wall_s"] for s in out["paired_spans"]])
        - 1.0,
    }
    inner = [
        sum(
            x["wall_s"]
            for x in spans
            if x["name"].endswith((".build", ".action"))
            and s["start"] <= x["start"]
            and x["end"] <= s["end"]
        ) / s["wall_s"]
        for s in traced
    ]
    layers["trace.accounted_frac"] = med(inner)
    out["checks"]["layers_account_for_wall"] = (
        abs(1.0 - layers["trace.accounted_frac"]) <= ACCOUNTED_TOLERANCE
    )
    return layers


def main(argv=None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import frechetrange_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    conf = _environment(work, bool(args.trace))
    from frechetrange_spark.session import get_spark

    import tracing

    cores = tracing.ncpus()
    try:
        spark = get_spark(
            app_name=f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=conf
        )
        t_session = time.perf_counter()
        try:
            out = run(spark, args, work)
        finally:
            t_stop = time.perf_counter()
            tracing.stop_spark(spark)
        out["phases_s"]["session"] = t_session - T_START
        out["phases_s"]["stop"] = time.perf_counter() - t_stop
        if args.trace:
            out["layers"].update(_event_log_layers(out, work / "eventlog", cores))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    values = {**out["end_to_end"], **out["layers"]}
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in bench[section]
    }
    ok = out["ok"]
    correct = all(ok) and all(out["checks"].values())
    e2e = out["end_to_end"]
    for name, m in metrics.items():
        print(f"{args.workload:9s} {name:32s} {m['value']:>16.6g} {m['unit']}")
    if not args.trace:
        tail = (
            f"{e2e['latency_tail_s']:.6g} s (p{e2e['latency_tail_percentile']:.1f})"
            if e2e["latency_tail_s"] is not None
            else f"n/a ({e2e['latency_samples']} samples; needs 11)"
        )
        print(f"{args.workload:9s} {'latency_tail_s':32s} {tail}")
        print(f"{args.workload:9s} {'failed_frac':32s} {e2e['failed_frac']:>16.6g} ratio")
    for name, passed in out["checks"].items():
        if not passed:
            print(f"{args.workload:9s} CHECK FAILED: {name}", file=sys.stderr)

    results = HERE / "results"
    results.mkdir(exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**out, "metrics": metrics, "correct": correct}, indent=1, default=str)
    )
    print(json.dumps({
        "correct": correct,
        "attempted": len(ok),
        "failed": ok.count(False),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
