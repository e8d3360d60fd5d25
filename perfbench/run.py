#!/usr/bin/env python3
"""Pool-ETL benchmark: seeded `.pol` fleets through the cold CLI batch run
and the incremental (path, mtime) round, with every output checked.

    python3 perfbench/run.py --workload pol-deep --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each timed unit runs in a fresh process
(``child.py``), as the CI push loop runs the CLI, on ``local[<cpus>]``
with ``<cpus>`` the cores this process may use. A run starts units until
``--seconds`` have passed, and before them as many set-up-only processes
as it takes to hold ``SETUPS`` set-ups; the end-to-end metrics are
medians. ``--trace 1`` instead runs one plain and one traced unit and
prints the per-layer metrics. The last stdout line is the result JSON;
progress and every failed check go to stderr.

Workloads (README.md says why each was chosen):

* ``pol-deep`` — 16 pools of 1M lines, output dir already holding a
  consolidated JSON: per-line scan, parse and map-side aggregate.
* ``pol-incremental`` — 523 pool files primed once; each unit edits 1% of
  them in place and adds one file, each with 1M new lines, and runs one
  ``run_incremental_mtime`` round.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path
from statistics import median

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import fleet  # noqa: E402
from eventlog import EventLog, layer_metrics, load_events  # noqa: E402

# "push_lines": lines of each file a push edits or adds; the primed files'
# own size never enters a round, which lists them by metadata only.
WORKLOADS = {
    "pol-deep": {"kind": "cli", "pools": 16, "lines": 1_000_000, "depth": 1},
    "pol-incremental": {
        "kind": "incremental", "pools": 523, "lines": 2_000, "push_lines": 1_000_000, "depth": 3,
    },
}
MAX_UNITS = 20
# every unit process also sets up; set-up-only processes make up the rest
SETUPS = 2
PRIME_SEED = 0
EDIT_SHARE = 0.01
CHILD_TIMEOUT_S = 150
WORK_DIR = ".perfbench_work"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "ok_ratio": "ratio",
    "peak_mem_mb": "MB",
}
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "jvm.jit_compile_s": "s",
    "jvm.gc_s": "s",
    "codegen.compile_s": "s",
    "codegen.classes": "count",
    "lookup.load_s": "s",
    "pol.files": "count",
    "pol.input_rows": "count",
    "pol.input_bytes": "bytes",
    "pol.scan_tasks": "count",
    "pol.scan_task_s": "s",
    "pol.scan_cpu_s": "s",
    "kpis.agg_build_s": "s",
    "kpis.shuffle_records": "count",
    "kpis.shuffle_bytes": "bytes",
    "kpis.reduce_ratio": "ratio",
    "kpis.post_shuffle_task_s": "s",
    "sink.consolidated_json_s": "s",
    "sink.consolidated_json_bytes": "bytes",
    "sink.summary_s": "s",
    "sink.index_s": "s",
    "sink.csv_s": "s",
    "driver.outside_jobs_s": "s",
    "incremental.prime_s": "s",
    "incremental.listed_files": "count",
    "incremental.changed_files": "count",
    "incremental.read_amplification": "ratio",
    "store.upsert_s": "s",
    "ledger.upsert_s": "s",
    "store.buckets_touched": "count",
    "store.bytes_written": "bytes",
    "store.write_amplification": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.spill_bytes": "bytes",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Runner:
    """Spawns fresh unit processes and collects their results."""

    def __init__(self, repo: Path, work: Path, cpus: int):
        self.repo = repo
        self.work = work
        self.cpus = cpus
        self.n = 0
        for d in ("tmp", "local", "eventlog", "logs"):
            (work / d).mkdir(parents=True, exist_ok=True)
        self.env = {
            **os.environ,
            "TMPDIR": str(work / "tmp"),
            "SPARK_LOCAL_DIRS": str(work / "local"),
            # spark-submit's launcher JVM: no hsperfdata, temp files in the checkout
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONDONTWRITEBYTECODE": "1",
        }

    def spawn(self, kind: str, trace: bool = False, **paths) -> dict:
        self.n += 1
        result = self.work / f"result_{self.n}.json"
        spec = {
            "kind": kind,
            "repo": str(self.repo),
            "cpus": self.cpus,
            "trace": trace,
            "eventlog": str(self.work / "eventlog"),
            "local_dir": str(self.work / "local"),
            "tmp_dir": str(self.work / "tmp"),
            "result": str(result),
            **{k: str(v) for k, v in paths.items()},
        }
        spec_path = self.work / f"spec_{self.n}.json"
        logfile = self.work / "logs" / f"unit_{self.n}.log"
        with open(logfile, "w") as fh:
            spec["t_spawn"] = time.monotonic()
            spec_path.write_text(json.dumps(spec))
            proc = subprocess.Popen(
                [sys.executable, str(HERE / "child.py"), str(spec_path)],
                stdout=fh, stderr=subprocess.STDOUT, env=self.env, cwd=self.work,
                start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, 9)
                proc.wait()
                rc = "timeout"
        out = json.loads(result.read_text()) if result.exists() else {}
        if rc != 0 or "setup_s" not in out:
            tail = logfile.read_text(errors="replace")[-2000:]
            raise RuntimeError(f"unit {self.n} ({kind}) failed rc={rc}:\n{tail}")
        return out


def nested_record(rec: dict, processed_at: str) -> dict:
    """A consolidated-JSON record in the reference's nested shape."""
    keys = ("pool_name", "pool_id", "pool_type", "game_ids", "min_bet", "max_win_factor", "rtp",
            "volatility", "is_flat", "tag", "size", "max_multiplier")
    out = {k: rec[k] for k in keys}
    out["metadata"] = {
        "source_file": rec["source_file"],
        "file_name": rec["pool_name"],
        "folder_path": rec["folder_path"],
        "processed_at": processed_at,
        "hit_frequency": rec["hit_frequency"],
    }
    return out


def baseline_json(manifest: dict) -> dict[str, dict]:
    """The consolidated JSON a previous CI run left behind: a stale record
    (older timestamp, other size and KPIs) for every current pool, plus
    retired pools the fleet no longer holds. A current pool's record only
    passes the checks if the run rewrote it."""
    expected = check.expected_records(manifest)
    doc = {
        k: nested_record(stale_record(r), "2026-01-01T00:00:00+00:00")
        for k, r in expected.items() if r["size"]
    }
    for i, rec in enumerate(list(expected.values())[: max(1, len(expected) // 32)]):
        key = f"retired/r{i}/{rec['pool_name']}"
        doc[key] = nested_record({**rec, "source_file": key, "folder_path": f"retired/r{i}"},
                                 "2025-12-01T00:00:00+00:00")
    return dict(sorted(doc.items()))


def stale_record(rec: dict) -> dict:
    """``rec`` as an earlier version of its pool file gave it."""
    out = {**rec, "size": rec["size"] + 1}
    for k in ("rtp", "volatility", "hit_frequency"):
        if out[k] is not None:
            out[k] = round(out[k] + 0.5, 2)
    return out


def fleet_lines(manifest: dict, rels=None) -> int:
    return sum(
        sum(c for _, c in p["wins"]) + p["invalid"]
        for p in manifest["pools"]
        if rels is None or p["rel"] in rels
    )


def store_files(store: Path) -> dict[str, tuple[int, int]]:
    return {str(p): (p.stat().st_size, p.stat().st_mtime_ns) for p in store.rglob("*.parquet")}


def store_delta(before: dict, after: dict) -> dict:
    import pyarrow.parquet as pq

    written = [p for p, st in after.items() if before.get(p) != st]
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in written)
    return {
        "buckets": len({Path(p).parent.name for p in written}),
        "bytes": sum(after[p][0] for p in written),
        "rows": rows,
    }


def unit_plan(seconds: float, trace: bool):
    """Traced flag per unit: plain units until ``seconds`` have passed, or
    with tracing one plain unit then one traced unit."""
    if trace:
        yield from (False, True)
        return
    t_start = time.monotonic()
    for _ in range(MAX_UNITS):
        yield False
        if time.monotonic() - t_start >= seconds:
            return


def run_cli(runner: Runner, spec: dict, seed: int, seconds: float, trace: bool):
    root = runner.work / "fleet"
    manifest = fleet.generate(root, seed, spec["pools"], spec["lines"], spec["depth"])
    baseline = baseline_json(manifest)
    res = check.Result()
    units, traced = [], None
    for traced_unit in unit_plan(seconds, trace):
        out = runner.work / f"out_{runner.n + 1}"
        out.mkdir(parents=True)
        (out / "all_pools_data.json").write_text(json.dumps(baseline, indent=2))
        r = runner.spawn("cli", trace=traced_unit, fleet=root, out=out)
        r["json_bytes"] = (out / "all_pools_data.json").stat().st_size
        res.merge(check.check_cli_outputs(out, manifest, baseline), f"unit{runner.n}")
        shutil.rmtree(out)
        if traced_unit:
            traced = r
        else:
            units.append(r)
    return units, traced, res, {"lines": fleet_lines(manifest)}


def code_key(repo: Path) -> str:
    """Hash of the product and benchmark sources: a primed state is reused
    only by the code that primed it."""
    h = hashlib.sha256()
    for base in (repo / "github_etl_pipeline_spark", HERE):
        for p in sorted(base.rglob("*.py")):
            h.update(str(p.relative_to(repo)).encode() + p.read_bytes())
    return h.hexdigest()[:16]


def primed_state(runner: Runner, spec: dict, state: Path) -> dict:
    """Put the primed fleet, ledger and store at ``state``.

    Priming (the first, full-scan ``run_incremental_mtime``) runs once per
    checkout and code version; later runs restore a copy. The ledger keys
    files by absolute path and mtime, so the state is always primed and
    restored at the same path, and the copy keeps every mtime
    (``copy2``): otherwise every file would read as changed."""
    cache = runner.repo / WORK_DIR / "cache" / f"incremental-{code_key(runner.repo)}"
    if not (cache / "prime.json").exists():
        shutil.rmtree(cache.parent, ignore_errors=True)
        shutil.rmtree(state, ignore_errors=True)
        manifest = fleet.generate(state / "fleet", PRIME_SEED, spec["pools"], spec["lines"], spec["depth"])
        prime = runner.spawn("incremental", **state_paths(state))
        res = check.check_store(state / "store", manifest)
        if not res.correct:
            raise RuntimeError(f"priming run wrote a wrong store: {res.failures[:5]}")
        shutil.copytree(state, cache / "state", copy_function=shutil.copy2)
        (cache / "prime.json").write_text(json.dumps(prime))
    shutil.rmtree(state, ignore_errors=True)
    shutil.copytree(cache / "state", state, copy_function=shutil.copy2)
    return json.loads((cache / "prime.json").read_text())


def state_paths(state: Path) -> dict:
    return {
        "fleet": state / "fleet",
        "scan_dir": state / "fleet" / fleet.SCAN_SUBDIR,
        "ledger": state / "ledger",
        "store": state / "store",
    }


def run_incremental(runner: Runner, spec: dict, seed: int, seconds: float, trace: bool):
    state = runner.repo / WORK_DIR / "pol-incremental-state"
    prime = primed_state(runner, spec, state)
    paths = state_paths(state)
    root = paths["fleet"]
    manifest = json.loads((root / "manifest.json").read_text())
    res = check.Result()
    rng = np.random.default_rng(seed)
    editable = [i for i, p in enumerate(manifest["pools"]) if p["wins"]]
    units, traced = [], None
    for traced_unit in unit_plan(seconds, trace):
        # one push: 1% of the files edited in place, one file added
        k = runner.n + 1
        n_edits = max(1, round(EDIT_SHARE * len(manifest["pools"])))
        changed = []
        for i in rng.choice(editable, size=n_edits, replace=False):
            manifest["pools"][i] = fleet.rewrite_pool(root, manifest["pools"][i], rng, spec["push_lines"])
            changed.append(manifest["pools"][i]["rel"])
        new_id = manifest["dim"][int(rng.integers(len(manifest["dim"])))][2]
        added = fleet.add_pool(root, f"pushed/s{seed}u{k}/Pool_{new_id}_941.pol", rng, spec["push_lines"])
        manifest["pools"].append(added)
        changed.append(added["rel"])
        before = store_files(paths["store"])
        r = runner.spawn("incremental", trace=traced_unit, **paths)
        r["store_delta"] = store_delta(before, store_files(paths["store"]))
        r["changed_lines"] = fleet_lines(manifest, set(changed))
        res.attempted += 1
        if r["changed_files"] != len(changed):
            res.fail(f"unit{runner.n}:ledger", f"round processed {r['changed_files']} files, {len(changed)} changed")
        res.merge(check.check_store(paths["store"], manifest), f"unit{runner.n}")
        if traced_unit:
            traced = r
        else:
            units.append(r)
    shutil.rmtree(state)
    return units, traced, res, {"prime_s": prime["wall_s"]}


def end_to_end(units: list[dict], setups: list[float], res: check.Result, kind: str, extra: dict) -> dict:
    wall = median([u["wall_s"] for u in units])
    if kind == "cli":
        rows = extra["lines"] / wall
    else:
        rows = median([u["changed_lines"] / u["wall_s"] for u in units])
    return {
        "setup_s": median(setups + [u["setup_s"] for u in units]),
        "wall_s": wall,
        "rows_per_s": rows,
        # the complement of failed / attempted, which would read 0 once
        # every known deviation is fixed
        "ok_ratio": 1.0 - res.failed / res.attempted,
        "peak_mem_mb": median([u["jvm_retained_peak_mb"] + u["py_maxrss_kb"] / 1024.0 for u in units]),
    }


def per_layer(runner: Runner, units: list[dict], traced: dict, kind: str, extra: dict) -> dict:
    t0, t1 = traced["unit_start_ms"], traced["unit_end_ms"]
    evlog = EventLog(load_events(runner.work / "eventlog"), t0, t1)
    m = {k: 0.0 for k in PER_LAYER}
    m.update(layer_metrics(evlog, traced["spans"], traced["unit_wall_s"], t0, t1))
    jvm = traced["jvm"]
    m.update({
        "session.start_s": traced["setup_s"],
        "jvm.jit_compile_s": jvm["jit_compile_s"],
        "jvm.gc_s": jvm["gc_s"],
        "codegen.compile_s": jvm["codegen_compile_s"],
        "codegen.classes": float(jvm["codegen_classes"]),
    })
    plain = units[-1]
    m["trace.overhead_s"] = traced["wall_s"] - plain["wall_s"]
    m["process.peak_rss_mb"] = (plain["jvm_hwm_kb"] + plain["py_maxrss_kb"]) / 1024.0
    if kind == "cli":
        m["sink.consolidated_json_bytes"] = float(traced["json_bytes"])
    else:
        delta = traced["store_delta"]
        changed = float(traced["changed_files"])
        m.update({
            "incremental.prime_s": extra["prime_s"],
            "incremental.changed_files": changed,
            "incremental.read_amplification": m["pol.input_rows"] / traced["changed_lines"],
            "store.buckets_touched": float(delta["buckets"]),
            "store.bytes_written": float(delta["bytes"]),
            "store.write_amplification": delta["rows"] / changed if changed else 0.0,
        })
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    repo = Path.cwd()
    if not (repo / "github_etl_pipeline_spark" / "__init__.py").is_file():
        log(f"no github_etl_pipeline_spark package under {repo}: run from the root of a checkout")
        return 2
    spec = WORKLOADS[args.workload]
    work = repo / WORK_DIR / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    runner = Runner(repo, work, cpus)
    log(f"{args.workload}: {spec['pools']} pools x {spec['lines']} lines, local[{cpus}]")

    n_setup_only = 0 if args.trace else SETUPS - 1
    setups = [runner.spawn("setup")["setup_s"] for _ in range(n_setup_only)]
    run = run_cli if spec["kind"] == "cli" else run_incremental
    units, traced, res, extra = run(runner, spec, args.seed, args.seconds, bool(args.trace))
    for op, why, known in res.failures:
        log(f"FAILED {'(known) ' if known else ''}{op}: {why}")

    if args.trace:
        values, units_of = per_layer(runner, units, traced, spec["kind"], extra), PER_LAYER
        for name, v in values.items():
            log(f"  {name:32s} {v:.6g}")
    else:
        values, units_of = end_to_end(units, setups, res, spec["kind"], extra), END_TO_END
        log(f"setup={[round(x, 2) for x in setups + [u['setup_s'] for u in units]]} "
            f"wall={[round(u['wall_s'], 2) for u in units]}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": units_of[k]} for k in units_of},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
