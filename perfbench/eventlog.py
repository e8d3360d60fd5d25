"""Fold a Spark event log (uncompressed JSON lines) into per-layer metrics.

Spark is lazy: the `.pol` scan, the parse and the map-side KPI aggregate
run inside whichever eager call first needs them (the consolidated-JSON
sink in a CLI run, the KPI-store upsert in an incremental round). Span
times alone cannot split that, so the split comes from the stages:

* a *scan stage* reads `.pol` text (an RDD scope named ``Scan text``). In
  whole-stage codegen the scan, the per-line parse and the partial
  aggregate are one fused loop, so its task time covers all three; the
  partial aggregate's ``time in aggregation build`` covers the same loop
  from the aggregate's side.
* a *post-shuffle stage* is a completed stage whose parent is a scan stage
  (or a skipped re-listing of one) — the reduce side of the KPI exchange.
* an *upstream job* runs a scan or post-shuffle stage. A sink span's own
  time is its self time minus the upstream jobs attributed to it through
  the job description.
"""

from __future__ import annotations

import json
import re
from pathlib import Path


def load_events(event_dir: Path) -> list[dict]:
    files = [p for p in Path(event_dir).rglob("events_*") if p.is_file()]
    files.sort(key=lambda p: (str(p.parent), int(re.match(r"events_(\d+)_", p.name).group(1))))
    events = []
    for p in files:
        with open(p, encoding="utf-8") as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def _walk_plan(node: dict, meta: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        meta[int(m["accumulatorId"])] = (node.get("nodeName", ""), m["name"])
    for child in node.get("children", []):
        _walk_plan(child, meta)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    def __init__(self, events: list[dict], t0_ms: float, t1_ms: float):
        self.jobs: dict[int, dict] = {}
        self.stage_rdds: dict[int, set[int]] = {}
        self.stage_parents: dict[int, list[int]] = {}
        self.stages: dict[int, dict] = {}
        self.acc_meta: dict[int, tuple[str, str]] = {}
        self.driver_acc: dict[int, float] = {}
        for e in events:
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                if not t0_ms <= e["Submission Time"] <= t1_ms:
                    continue
                desc = (e.get("Properties") or {}).get("spark.job.description")
                self.jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None, "desc": desc,
                                          "stages": list(e["Stage IDs"])}
                for si in e.get("Stage Infos", []):
                    self.stage_rdds[si["Stage ID"]] = {r["RDD ID"] for r in si["RDD Info"]}
                    self.stage_parents[si["Stage ID"]] = list(si.get("Parent IDs", []))
            elif ev == "SparkListenerJobEnd" and e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if not t0_ms <= si.get("Submission Time", 0) <= t1_ms:
                    continue
                scopes = []
                for r in si["RDD Info"]:
                    scope = r.get("Scope")
                    scopes.append(json.loads(scope)["name"] if scope else r.get("Name", ""))
                self.stages[si["Stage ID"]] = {
                    "tasks": si["Number of Tasks"],
                    "acc": {a["Name"]: _num(a.get("Value")) for a in si["Accumulables"]},
                    "acc_by_id": {int(a["ID"]): _num(a.get("Value")) for a in si["Accumulables"]},
                    "scopes": scopes,
                    "rdds": {r["RDD ID"] for r in si["RDD Info"]},
                }
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], self.acc_meta)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    self.driver_acc[int(acc_id)] = _num(value)

    # -- stage classes ----------------------------------------------------

    def scan_stages(self, source: str) -> list[int]:
        return [s for s, st in self.stages.items() if any(n.startswith(f"Scan {source}") for n in st["scopes"])]

    def post_shuffle_stages(self, map_stages: list[int]) -> list[int]:
        map_rdds = set().union(*(self.stages[s]["rdds"] for s in map_stages)) if map_stages else set()
        # skipped re-listings of a map stage share its RDDs
        maps = {s for s, rdds in self.stage_rdds.items() if rdds & map_rdds} | set(map_stages)
        return [s for s in self.stages if s not in maps and set(self.stage_parents.get(s, ())) & maps]

    def stage_sum(self, stages: list[int], name: str) -> float:
        return sum(self.stages[s]["acc"].get(name, 0.0) for s in stages)

    def node_metric(self, node_prefix: str, metric: str, how=sum) -> float:
        """A SQL-node metric over every plan node whose name starts with
        ``node_prefix``: driver-side values plus per-stage task values."""
        ids = [i for i, (node, m) in self.acc_meta.items() if node.startswith(node_prefix) and m == metric]
        vals = []
        for i in ids:
            v = self.driver_acc.get(i, 0.0) + sum(st["acc_by_id"].get(i, 0.0) for st in self.stages.values())
            vals.append(v)
        return how(vals) if vals else 0.0

    def upstream_job_s(self, stages: set[int]) -> dict[str, float]:
        """Seconds of jobs that ran one of ``stages``, per job description."""
        out: dict[str, float] = {}
        for job in self.jobs.values():
            if job["end"] is not None and set(job["stages"]) & stages:
                out[job["desc"]] = out.get(job["desc"], 0.0) + (job["end"] - job["start"]) / 1000.0
        return out

    def busy_s(self, t0_ms: float, t1_ms: float) -> float:
        """Seconds of [t0, t1] covered by at least one running job."""
        iv = sorted((max(j["start"], t0_ms), min(j["end"], t1_ms)) for j in self.jobs.values() if j["end"])
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total / 1000.0


def span_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name (duration minus direct children), summed."""
    child_s = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["dur_s"]
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s["name"]] = out.get(s["name"], 0.0) + s["dur_s"] - child_s[i]
    return out


def layer_metrics(log: EventLog, spans: list[dict], wall_s: float, t0_ms: float, t1_ms: float) -> dict:
    """Per-layer metrics from one traced unit (see README for the map)."""
    scan = log.scan_stages("text")
    post = log.post_shuffle_stages(scan)
    input_rows = log.stage_sum(scan, "internal.metrics.input.recordsRead")
    shuffle_records = log.stage_sum(scan, "internal.metrics.shuffle.write.recordsWritten")
    upstream = log.upstream_job_s(set(scan) | set(post))
    self_s = span_self_times(spans)

    def own(name: str) -> float:
        """Span self time minus the lazily pulled scan/aggregate jobs."""
        return max(0.0, self_s.get(name, 0.0) - upstream.get(name, 0.0))

    spill = sum(
        log.stage_sum(list(log.stages), k)
        for k in ("internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled")
    )
    return {
        "pol.files": log.node_metric("Scan text", "number of files read"),
        "pol.input_rows": input_rows,
        "pol.input_bytes": log.stage_sum(scan, "internal.metrics.input.bytesRead"),
        "pol.scan_tasks": float(sum(log.stages[s]["tasks"] for s in scan)),
        "pol.scan_task_s": log.stage_sum(scan, "internal.metrics.executorRunTime") / 1000.0,
        "pol.scan_cpu_s": log.stage_sum(scan, "internal.metrics.executorCpuTime") / 1e9,
        "kpis.agg_build_s": log.stage_sum(scan, "time in aggregation build") / 1000.0,
        "kpis.shuffle_records": shuffle_records,
        "kpis.shuffle_bytes": log.stage_sum(scan, "internal.metrics.shuffle.write.bytesWritten"),
        "kpis.reduce_ratio": shuffle_records / input_rows if input_rows else 0.0,
        "kpis.post_shuffle_task_s": log.stage_sum(post, "internal.metrics.executorRunTime") / 1000.0,
        "lookup.load_s": sum(v for k, v in self_s.items() if k.endswith(("load_game_lookup", "prepare_dim"))),
        "sink.consolidated_json_s": own("sinks.upsert.write_consolidated_json"),
        "sink.summary_s": own("sinks.reports.save_summary_report"),
        "sink.index_s": own("sinks.reports.generate_index_file"),
        "sink.csv_s": own("sinks.reports.save_as_csv"),
        "store.upsert_s": own("store.upsert_parquet"),
        "ledger.upsert_s": own("ledger.upsert_parquet"),
        "incremental.listed_files": log.node_metric("Scan binaryFile", "number of output rows", max),
        "driver.outside_jobs_s": wall_s - log.busy_s(t0_ms, t1_ms),
        "spark.jobs": float(len(log.jobs)),
        "spark.stages": float(len(log.stages)),
        "spark.tasks": float(sum(st["tasks"] for st in log.stages.values())),
        "spark.spill_bytes": spill,
        "trace.span_coverage": sum(self_s.values()) / wall_s if wall_s else 0.0,
    }
