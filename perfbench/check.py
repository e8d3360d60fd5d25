"""Output checks: every pool record the engine wrote against the reference
record computed from the generator's histograms (``fleet.expected_record``).

An operation is one expected pool record (or one unexpected record, such
as an excluded-dir file that got in, or one sink-level check). It fails
when the record is missing or wrong. Every failure carries its reason.
A failure is *known* when it is a documented deviation of the engine from
the reference; known failures still count in ``failed``.
"""

from __future__ import annotations

import csv
import json
import math
from collections import Counter
from pathlib import Path

from fleet import expected_record, lookup

# the repository's own property tests compare rtp / hit frequency /
# volatility to the reference math within this absolute tolerance: the
# engine rounds half-even on Spark doubles, the reference on numpy floats
KPI_ABS_TOL = 0.011
KPI_FIELDS = ("rtp", "hit_frequency", "volatility")
EXACT_FIELDS = (
    "pool_name", "pool_id", "pool_type", "game_ids", "is_flat", "tag", "size",
    "max_multiplier", "folder_path",
)
REL_FIELDS = ("min_bet", "max_win_factor")
ZERO_BYTE_REASON = "missing record: zero-byte file (known deviation: the text source emits no row)"


class Result:
    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[tuple[str, str, bool]] = []  # (operation, reason, known)

    def fail(self, op: str, reason: str, known: bool = False) -> None:
        self.failures.append((op, reason, known))

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def correct(self) -> bool:
        return all(known for _, _, known in self.failures)

    def merge(self, other: "Result", tag: str) -> None:
        self.attempted += other.attempted
        self.failures += [(f"{tag}:{op}", why, known) for op, why, known in other.failures]


def expected_records(manifest: dict) -> dict[str, dict]:
    dims = lookup(manifest["dim"])
    return {p["rel"]: expected_record(p, dims) for p in manifest["pools"]}


def _field_error(name: str, got, want) -> str | None:
    if name in KPI_FIELDS or name in REL_FIELDS:
        if want is None or got is None:
            return None if want is got else f"{name} {got!r} != {want!r}"
        tol = KPI_ABS_TOL if name in KPI_FIELDS else 1e-9 * max(1.0, abs(want))
        return None if math.isclose(got, want, abs_tol=tol) else f"{name} {got!r} != {want!r}"
    if name in ("game_ids", "tag"):
        got = list(got) if got is not None else []
    return None if got == want else f"{name} {got!r} != {want!r}"


def check_records(
    got: dict[str, dict], expected: dict[str, dict], zero_byte: set[str], kept: frozenset = frozenset()
) -> Result:
    """Compare flat records keyed by source_file. ``kept`` names records
    that are still the output's earlier version: the run did not rewrite
    them."""
    res = Result()
    for key, want in expected.items():
        res.attempted += 1
        rec = got.get(key)
        if rec is None:
            if key in zero_byte:
                res.fail(key, ZERO_BYTE_REASON, known=True)
            else:
                res.fail(key, "missing record")
            continue
        if key in kept:
            res.fail(key, "stale record: the run did not rewrite the baseline's record (processed_at unchanged)")
            continue
        errors = [
            e for f in (*EXACT_FIELDS, *REL_FIELDS, *KPI_FIELDS)
            if (e := _field_error(f, rec.get(f), want[f])) is not None
        ]
        if errors:
            res.fail(key, "; ".join(errors))
    for key in sorted(set(got) - set(expected)):
        res.attempted += 1
        res.fail(key, "unexpected record (excluded or unknown file)")
    return res


def flatten_json_record(rec: dict) -> dict:
    meta = rec.get("metadata") or {}
    return {**rec, **{k: meta.get(k) for k in ("source_file", "folder_path", "hit_frequency")}}


def check_cli_outputs(out_dir: Path, manifest: dict, baseline: dict[str, dict]) -> Result:
    """Check the four CLI sinks in ``out_dir``. ``baseline`` is the
    consolidated JSON the output dir held before the run: every current
    pool's record must be rewritten, and keys of pools the fleet no longer
    holds must survive the upsert unchanged."""
    expected = expected_records(manifest)
    zero_byte = {p["rel"] for p in manifest["pools"] if not p["wins"] and not p["invalid"]}
    live = {k: v for k, v in expected.items() if k not in zero_byte}
    res = Result()
    doc = json.loads((out_dir / "all_pools_data.json").read_text(encoding="utf-8"))
    stale = {k: v for k, v in baseline.items() if k not in expected}
    got = {k: flatten_json_record(v) for k, v in doc.items() if k not in stale}
    not_rewritten = frozenset(
        k for k in live
        if k in baseline and k in doc
        and doc[k].get("metadata", {}).get("processed_at") == baseline[k]["metadata"]["processed_at"]
    )
    res.merge(check_records(got, expected, zero_byte, not_rewritten), "json")

    res.attempted += 1
    changed = [k for k, v in stale.items() if doc.get(k) != v]
    if changed:
        res.fail("json:upsert", f"{len(changed)} untouched baseline record(s) changed or lost, e.g. {changed[0]}")

    res.attempted += 1
    summary = json.loads((out_dir / "_pipeline_summary.json").read_text())
    want_summary = _expected_summary(live)
    errs = [
        f"{k} {summary_get(summary, k)!r} != {v!r}"
        for k, v in want_summary.items()
        if not _summary_equal(summary_get(summary, k), v)
    ]
    if errs:
        res.fail("summary", "; ".join(errs))

    res.attempted += 1
    index = json.loads((out_dir / "_index.json").read_text())
    idx_keys = [f["source_file"] for f in index["files"]]
    if index["total_files"] != len(doc) or idx_keys != sorted(doc):
        res.fail("index", f"index lists {index['total_files']} files, consolidated JSON holds {len(doc)}")

    res.attempted += 1
    with open(out_dir / "_all_files_summary.csv", newline="", encoding="utf-8") as fh:
        rows = list(csv.DictReader(fh))
    csv_keys = [r["source_file"] for r in rows]
    bad = [r["source_file"] for r in rows if r["source_file"] in live and int(r["size"]) != live[r["source_file"]]["size"]]
    if csv_keys != sorted(live) or bad:
        res.fail("csv", f"csv rows {len(rows)} vs {len(live)} expected, {len(bad)} size mismatch(es)")
    return res


def summary_get(doc: dict, key: str):
    cur = doc
    for part in key.split("."):
        cur = cur.get(part) if isinstance(cur, dict) else None
    return cur


def _summary_equal(got, want) -> bool:
    if isinstance(want, float):
        return got is not None and math.isclose(got, want, abs_tol=KPI_ABS_TOL)
    return got == want


def _expected_summary(live: dict[str, dict]) -> dict:
    """Run counters and the fleet rollup over the records the engine emits
    (zero-byte files excluded: that deviation is counted once, on its
    pool record)."""
    recs = list(live.values())
    tags = Counter(t for r in recs for t in r["tag"])
    folders = Counter(r["folder_path"].rsplit("/", 1)[-1] for r in recs)
    out = {
        "files_processed": len(recs),
        "files_succeeded": len(recs),
        "files_failed": 0,
        "aggregated_summary.total_files_processed": len(recs),
        "aggregated_summary.total_records_across_all_files": sum(r["size"] for r in recs),
        "aggregated_summary.tags_distribution": dict(tags),
        "aggregated_summary.files_by_folder": dict(folders),
    }
    for field in ("rtp", "volatility"):
        vals = [r[field] for r in recs if r[field] is not None]
        if vals:
            out[f"aggregated_summary.{field}_stats.min"] = min(vals)
            out[f"aggregated_summary.{field}_stats.max"] = max(vals)
            out[f"aggregated_summary.{field}_stats.avg"] = sum(vals) / len(vals)
    return out


def read_store_records(store: Path) -> dict[str, dict]:
    """The incremental KPI store (bucketed parquet) as flat records."""
    import pyarrow.parquet as pq

    # file by file: dataset discovery skips the store's ``_bucket=K`` dirs
    # (a leading underscore marks hidden paths)
    return {
        r["source_file"]: r for f in sorted(store.rglob("*.parquet")) for r in pq.read_table(f).to_pylist()
    }


def check_store(store: Path, manifest: dict) -> Result:
    expected = expected_records(manifest)
    zero_byte = {p["rel"] for p in manifest["pools"] if not p["wins"] and not p["invalid"]}
    return check_records(read_store_records(store), expected, zero_byte)
