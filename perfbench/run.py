"""Benchmark: checkpointed extraction of corpus and hostile pages, and
dedup pairs, on Spark ``local[2]``.

Run from the repository root:

    python3 perfbench/run.py --workload extract_corpus_hostile --seed 1 \
        --seconds 10 --trace 0

``--workload all`` runs both workloads in one process.  The process
starts one Spark session; each workload makes its inputs from
``--seed``, runs one untimed cold pass (the end of set-up), its warm-up
passes and then its timed passes, and checks every pass's output.  The last line
of standard output is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a run
that also enables Spark's event log, records spans (written under
``perfbench/.work/``) and replays the extraction in the driver with the
pure-layer functions wrapped.  Lines before it, prefixed ``#``, give
each workload's sizes, sample counts, digests and counts.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 2

END_TO_END = {"setup_s": "s", "pass_s_p50": "s", "docs_per_s": "1/s",
              "cpu_s_per_kdoc": "s", "ok_ratio": "ratio"}


def _log(obj) -> None:
    print("# " + json.dumps(obj, sort_keys=True, default=str), flush=True)


class OpClock:
    """Times operator calls and tags their Spark jobs with a job group
    ``<pass tag>:<operator>``; records spans when the tracer is on."""

    def __init__(self, sc, tracer):
        self.sc = sc
        self.tracer = tracer
        self.tag = ""
        self.parent = None
        self.ops = []  # records of the current pass's operator calls

    def start_pass(self, tag: str, parent) -> None:
        self.tag, self.parent, self.ops = tag, parent, []

    @contextmanager
    def op(self, name: str):
        group = f"{self.tag}:{name}"
        rec = {"name": name, "group": group}
        self.sc.setJobGroup(group, group)
        start = self.tracer.now()
        t = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t
            self.sc.setJobGroup("perfbench:idle", "perfbench:idle")
            self.tracer.add(name, self.parent, start, self.tracer.now(),
                            group=group)
            self.ops.append(rec)


def start_spark(work: str, trace: bool):
    """Spark session from the program's own factory at local[2]; the
    benchmark's settings ride on PYSPARK_SUBMIT_ARGS so that every file
    Spark writes stays under ``work``."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    confs = {"spark.ui.showConsoleProgress": "false",
             "spark.local.dir": local,
             "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
             # no hsperfdata file: HotSpot writes it under /tmp whatever
             # java.io.tmpdir says
             "spark.driver.extraJavaOptions":
                 f"-Djava.io.tmpdir={local} -XX:-UsePerfData"}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + events,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    from webpeel_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and its JVM, and wait until no child process is left."""
    import sparkstats
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        left = sparkstats.descendants(os.getpid())
        if not left or time.time() > deadline:
            break
        time.sleep(0.2)
    for pid in sparkstats.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _counts(sc, ops) -> dict:
    import sparkstats

    return {rec["group"].split(":", 1)[1]: sparkstats.group_counts(sc, rec["group"])
            for rec in ops}


def run_workload(spark, w, args, tracer, session_s: float, run_span) -> dict:
    """Set-up, cold pass, warm-up, timed passes and checks of one
    workload; returns its report (metrics and facts).  ``session_s``
    is the time from process start until the session was up."""
    import sparkstats

    sc = spark.sparkContext
    clock = OpClock(sc, tracer)
    wspan = tracer.add(w.name, run_span, tracer.now(), tracer.now())
    passes = []  # dicts: tag, kind, wall_s, cpu_s, out, counts, traced

    def one_pass(tag: str, kind: str, traced: bool) -> dict:
        tracer.enabled = traced
        with tracer.span("pass", wspan, tag=tag, kind=kind) as pid:
            clock.start_pass(f"{w.name}/{tag}", pid)
            cpu0 = sparkstats.tree_cpu_s()
            t = time.perf_counter()
            try:
                out, err = w.run_pass(spark, tag, clock), None
            except Exception:  # a raised pass is a failed pass, reported
                out, err = None, traceback.format_exc()
            wall = time.perf_counter() - t
            cpu = sparkstats.tree_cpu_s() - cpu0
        rec = {"tag": tag, "kind": kind, "wall_s": wall, "cpu_s": cpu,
               "out": out, "error": err, "traced": traced,
               "ops": list(clock.ops), "counts": _counts(sc, clock.ops)}
        passes.append(rec)
        return rec

    tracer.enabled = args.trace
    gc0 = sparkstats.jvm_gc_s(spark)
    t = time.perf_counter()
    w.prepare(spark)
    one_pass("cold", "cold", args.trace)
    setup_s = session_s + time.perf_counter() - t
    t = time.perf_counter()
    for i in range(w.warmup_passes):
        one_pass(f"warm{i}", "warmup", False)
    warmup_s = time.perf_counter() - t
    n = w.timed_passes(args.seconds)
    steal0 = sparkstats.steal_s()
    for i in range(n):
        if args.trace:
            # untraced and traced passes interleaved, order alternating
            order = (False, True) if i % 2 == 0 else (True, False)
            for traced in order:
                one_pass(f"{'t' if traced else 'u'}{i}", "timed", traced)
        else:
            one_pass(f"t{i}", "timed", False)
    steal = sparkstats.steal_s() - steal0
    gc_s = sparkstats.jvm_gc_s(spark) - gc0
    rss_mb = sparkstats.tree_rss_peak_mb()
    tracer.enabled = args.trace
    if wspan is not None:
        tracer.spans[wspan]["end"] = round(tracer.now(), 6)

    # ── checks, outside timing ──────────────────────────────────────
    t = time.perf_counter()
    with tracer.span("reference", wspan) as ref_span:
        reference = w.reference(spark, tracer, ref_span, bool(args.trace))
    reference_s = time.perf_counter() - t
    checks = []
    for rec in passes:
        if rec["out"] is None:
            checks.append({"failed": w.units, "problems": [rec["error"]]})
        else:
            checks.append(w.check_pass(spark, rec["out"], reference))
    attempted = w.units * len(passes)
    failed = sum(c["failed"] for c in checks)

    problems = [p for c in checks for p in c["problems"]]
    # whether job/stage/task counts repeat exactly across passes (AQE
    # re-planning can start or skip a job depending on timing)
    jobs_by_pass = {rec["tag"]: {op: c["jobs"] for op, c in rec["counts"].items()}
                    for rec in passes if rec["out"] is not None}
    counts_repeat = len({json.dumps(rec["counts"], sort_keys=True)
                         for rec in passes if rec["out"] is not None}) == 1

    timed = [r for r in passes if r["kind"] == "timed" and not r["traced"]]
    walls = [r["wall_s"] for r in timed]
    timed_docs = w.docs * len(timed)
    report = {
        "workload": w.name, "seed": args.seed, "master": f"local[{CORES}]",
        "input": w.facts, "timed_passes": len(timed),
        "warmup_passes": w.warmup_passes, "attempted": attempted,
        "failed": failed, "error_rate": failed / attempted,
        "problems": problems, "pass_walls_s": [round(x, 3) for x in walls],
        "cold_pass_s": passes[0]["wall_s"], "reference_s": reference_s,
        "counts": passes[-1]["counts"], "counts_repeat": counts_repeat,
        "jobs_by_pass": jobs_by_pass, "notes": [],
        "metrics": {
            "setup_s": setup_s,
            "pass_s_p50": statistics.median(walls),
            "docs_per_s": timed_docs / sum(walls),
            "cpu_s_per_kdoc": sum(r["cpu_s"] for r in timed)
            / (timed_docs / 1000.0),
            "ok_ratio": 1.0 - failed / attempted,
        },
        "context": {"warmup.passes": w.warmup_passes, "warmup.s": warmup_s,
                    "jvm.gc_s": gc_s, "mem.rss_peak_mb": rss_mb,
                    "jvm.cpu_over_wall": sum(r["cpu_s"] for r in timed)
                    / sum(walls),
                    "host.loadavg_1m": os.getloadavg()[0],
                    "host.steal_s": steal,
                    "session.start_s": session_s},
    }
    report["last_check"] = {k: v for k, v in checks[-1].items()
                            if k not in ("failed", "problems")}
    if hasattr(w, "class_report"):
        report["hostile_classes"] = w.class_report()
    if args.trace:
        report["_passes"] = passes
        report["_workload"] = w
    return report


def _run(args, work: str, wl) -> list:
    """Run the requested workloads in one Spark session; returns
    [(report, metrics)] after logging each report."""
    import tracing

    tracer = tracing.Tracer(bool(args.trace))
    run_span = tracer.add("run", None, 0.0, 0.0, workload=args.workload,
                          seed=args.seed)
    names = sorted(wl.WORKLOADS) if args.workload == "all" else [args.workload]
    reports = []
    spark = start_spark(work, bool(args.trace))
    try:
        session_s = time.perf_counter() - T0
        tracer.add("session.start", run_span, 0.0, tracer.now())
        for name in names:
            w = wl.WORKLOADS[name](args.seed, work)
            reports.append(run_workload(spark, w, args, tracer, session_s,
                                        run_span))
    finally:
        stop_spark(spark)
    results = []
    events = None
    if args.trace:
        import layers

        events = layers.event_log(work)
        tracer.enabled = True
        for span in list(tracer.spans):
            if "group" in span["counts"]:
                events.add_spans(tracer, span["id"], span["counts"]["group"])
        tracer.spans[run_span]["end"] = round(tracer.now(), 6)
        trace_path = os.path.join(
            HERE, ".work", f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(trace_path)
    for rep in reports:
        if args.trace:
            metrics = layers.per_layer(rep, events)
            rep["trace_file"] = os.path.relpath(trace_path, ROOT)
            units = layers.UNITS
        else:
            metrics = rep["metrics"]
            units = END_TO_END
        public = {k: v for k, v in rep.items()
                  if not k.startswith("_") and k != "metrics"}
        _log(public)
        results.append((rep, {k: {"value": metrics[k], "unit": units[k]}
                              for k in units}))
    return results


def main(argv=None) -> int:
    import workloads as wl

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(wl.WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "webpeel_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: the program (webpeel_spark/, __spark_entry__.py) "
              f"is not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    try:
        results = _run(args, work, wl)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if len(results) == 1:
        rep, metrics = results[0]
    else:
        metrics = {f"{rep['workload']}/{k}": v for rep, m in results
                   for k, v in m.items()}
    attempted = sum(r["attempted"] for r, _ in results)
    failed = sum(r["failed"] for r, _ in results)
    correct = failed == 0 and not any(r["problems"] for r, _ in results)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
