"""Per-layer metrics of a traced run.

Every run reports every metric; a layer the workload does not load
reads 0.  Spark counts of a traced pass come from both the status
tracker and the event log and must agree; SQL metrics, task times and
shuffle bytes come from the event log; ``dom``/``pure`` numbers come
from the driver replay.
"""

from __future__ import annotations

import glob
import os
import statistics

import hostile
import sparkstats
from workloads import DEDUP_QUERIES

_PURE = ("metadata", "readability", "markdown", "prune", "jsonld",
         "extractors", "langdetect", "chunker", "prompt_guard")

UNITS = {
    "session.start_s": "s",
    "sources.gen_s": "s",
    "sources.input_mb": "MB",
    "dom.parse_ms_per_doc": "ms",
    "dom.select_ms_per_doc": "ms",
    "dom.nodes_per_doc": "count",
    "dom.max_depth": "count",
    "pure.extract_page_ms_per_doc": "ms",
    **{f"pure.{p}_ms_per_doc": "ms" for p in _PURE},
    "pure.slowest_page_s": "s",
    "pure.error_rows": "count",
    **{f"hostile.{c}.page_s": "s" for c in hostile.CLASS_SIZES},
    **{f"hostile.{c}.error_rows": "count" for c in hostile.CLASS_SIZES},
    "extract.jobs": "count",
    "extract.stages": "count",
    "extract.tasks": "count",
    "extract.python_boot_s": "s",
    "extract.python_init_s": "s",
    "extract.python_total_s": "s",
    "extract.arrow_sent_mb": "MB",
    "extract.arrow_recv_mb": "MB",
    "extract.task_skew": "ratio",
    **{f"dedup.{q.split('_')[0]}.{k}": u for q in DEDUP_QUERIES
       for k, u in (("wall_s", "s"), ("jobs", "count"), ("stages", "count"),
                    ("tasks", "count"), ("shuffle_mb", "MB"),
                    ("spill_mb", "MB"), ("pairs", "count"),
                    ("candidates", "count"), ("useful_ratio", "ratio"))},
    "materialize.persisted": "count",
    "checkpoint.jobs": "count",
    "checkpoint.write_s": "s",
    "checkpoint.written_mb": "MB",
    "checkpoint.resume_s": "s",
    "checkpoint.resume_jobs": "count",
    "checkpoint.resume_buckets_redone": "count",
    "checkpoint.rows_extracted_per_input_row": "ratio",
    "warmup.passes": "count",
    "warmup.s": "s",
    "jvm.gc_s": "s",
    "jvm.cpu_over_wall": "ratio",
    "mem.rss_peak_mb": "MB",
    "host.loadavg_1m": "load",
    "host.steal_s": "s",
    "trace.overhead": "ratio",
}


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def event_log(work: str) -> sparkstats.EventLog:
    logs = glob.glob(os.path.join(work, "events", "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one Spark event log, found {logs}")
    return sparkstats.EventLog(logs[0])


def per_layer(rep: dict, ev: sparkstats.EventLog) -> dict:
    """Per-layer metrics for one workload's report; adds a note to
    ``rep["notes"]`` when the two count sources disagree on a pass."""
    w = rep["_workload"]
    passes = [p for p in rep["_passes"] if p["out"] is not None]
    timed = [p for p in passes if p["kind"] == "timed"]
    traced = [p for p in timed if p["traced"]]
    untraced = [p for p in timed if not p["traced"]]
    m = {k: 0.0 for k in UNITS}
    m.update(rep["context"])
    m["sources.gen_s"] = w.sources["gen_s"]
    m["sources.input_mb"] = w.sources["input_mb"]
    m["trace.overhead"] = (_med(p["wall_s"] for p in traced)
                           / _med(p["wall_s"] for p in untraced))

    for p in traced:
        for rec in p["ops"]:
            got = ev.counts(rec["group"])
            want = p["counts"][rec["name"]]
            if got != want:
                rep["notes"].append(
                    f"{rec['group']}: event log counts {got} != status "
                    f"tracker {want}")

    def count(name, key, among=traced):
        return _med(p["counts"][name][key] for p in among)

    # job counts can move by a job or two between passes (AQE), so the
    # traced and untraced passes are compared by their medians
    for name in traced[0]["counts"]:
        t, u = count(name, "jobs"), count(name, "jobs", untraced)
        if t != u:
            rep["notes"].append(f"{name}: median jobs traced {t} != "
                                f"untraced {u}")

    def op_values(name, fn):
        return [fn(rec, p) for p in traced for rec in p["ops"]
                if rec["name"] == name]

    replay = getattr(w, "replayed", None)
    if replay is not None:
        n = max(1, len(replay["page_s"]))
        lm = replay["layer_ms_per_doc"]
        m["dom.parse_ms_per_doc"] = lm["dom.parse"]
        m["dom.select_ms_per_doc"] = lm["dom.select"]
        m["dom.nodes_per_doc"] = replay["nodes_per_doc"]
        m["dom.max_depth"] = replay["max_depth"]
        m["pure.extract_page_ms_per_doc"] = 1e3 * sum(replay["page_s"]) / n
        for p in _PURE:
            m[f"pure.{p}_ms_per_doc"] = lm[f"pure.{p}"]
        m["pure.slowest_page_s"] = max(replay["page_s"], default=0.0)
        m["pure.error_rows"] = sum(e is not None for e in replay["errors"])
        for c, facts in rep["hostile_classes"].items():
            m[f"hostile.{c}.page_s"] = facts["page_s"]
            m[f"hostile.{c}.error_rows"] = sum(facts["errors"].values())

        group_op = "checkpoint.write"
        for key in ("jobs", "stages", "tasks"):
            m[f"extract.{key}"] = count(group_op, key)
        py = op_values(group_op, lambda r, p: ev.python_metrics(r["group"]))
        for key, name in (("boot_s", "python_boot_s"),
                          ("init_s", "python_init_s"),
                          ("total_s", "python_total_s"),
                          ("sent_mb", "arrow_sent_mb"),
                          ("recv_mb", "arrow_recv_mb")):
            m[f"extract.{name}"] = _med(v[key] for v in py)
        m["extract.task_skew"] = _med(
            op_values(group_op, lambda r, p: ev.task_skew(r["group"])))

    if w.name == "extract_corpus_hostile":
        m["checkpoint.jobs"] = count("checkpoint.write", "jobs")
        m["checkpoint.resume_jobs"] = count("checkpoint.resume", "jobs")
        m["checkpoint.write_s"] = _med(p["out"]["write_s"] for p in traced)
        m["checkpoint.resume_s"] = _med(p["out"]["resume_s"] for p in traced)
        m["checkpoint.written_mb"] = _med(p["out"]["written_mb"] for p in traced)
        m["checkpoint.resume_buckets_redone"] = max(
            p["out"]["redone"] for p in passes)
        m["checkpoint.rows_extracted_per_input_row"] = _med(
            p["out"]["rows"] / w.docs for p in traced)

    if w.name == "dedup_pairs":
        for q in DEDUP_QUERIES:
            k = f"dedup.{q.split('_')[0]}"
            name = f"dedup.{q}"
            for key in ("jobs", "stages", "tasks"):
                m[f"{k}.{key}"] = count(name, key)
            m[f"{k}.wall_s"] = _med(op_values(name, lambda r, p: r["wall_s"]))
            m[f"{k}.shuffle_mb"] = _med(op_values(
                name, lambda r, p: ev.shuffle_bytes[r["group"]] / 1e6))
            m[f"{k}.spill_mb"] = _med(op_values(
                name, lambda r, p: ev.spill_bytes[r["group"]] / 1e6))
            m[f"{k}.pairs"] = len(traced[0]["out"][q])
            m[f"{k}.candidates"] = _med(op_values(
                name, lambda r, p: ev.pair_candidates(r["group"])))
            m[f"{k}.useful_ratio"] = (m[f"{k}.pairs"] / m[f"{k}.candidates"]
                                      if m[f"{k}.candidates"] else 0.0)
        m["materialize.persisted"] = _med(
            sum(r["persisted"] for r in p["ops"]) for p in traced)
    return m
