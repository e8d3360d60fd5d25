"""One fresh benchmark process: start a Spark session, run one unit of a
workload, report timings as JSON.

    python3 perfbench/child.py SPEC.json

SPEC names the unit (``cli``, ``incremental``), the fleet, the output
locations, the parent's clock reading at spawn time and whether to trace.
The result is written to ``spec["result"]``:

* ``setup_s`` — from the parent's spawn until the session has answered its
  first action (interpreter start, imports, JVM launch, ``get_spark``,
  warm-up query).
* ``wall_s`` — the unit alone: one CLI batch run or one
  ``run_incremental_mtime`` round.
* ``jvm_hwm_kb`` / ``py_maxrss_kb`` — peak resident set of the JVM and of
  this Python driver; ``jvm_retained_peak_mb`` — peak use of the JVM's
  old-generation and non-heap memory pools.

With tracing on, the product's public functions are wrapped from outside
(no product code changes): each call becomes a span and sets the Spark job
description, so the event log attributes every job to the innermost span.
JVM compilation / GC MXBeans and Spark's ``CodegenMetrics`` are read
through py4j after the unit.
"""

from __future__ import annotations

import json
import resource
import sys
import time
from pathlib import Path


class Tracer:
    """Spans around wrapped calls; kept in memory, returned at the end."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []

    def span(self, name, fn):
        """``fn`` wrapped in a span; ``name`` is a label or a function of
        the call's (args, kwargs) returning one."""
        tracer = self

        def wrapped(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            idx = len(tracer.spans)
            parent = tracer.stack[-1] if tracer.stack else None
            prev_desc = tracer.sc.getLocalProperty("spark.job.description")
            tracer.spans.append(
                {"name": label, "parent": parent, "start_ms": time.time() * 1000.0, "t0": time.monotonic()}
            )
            tracer.stack.append(idx)
            tracer.sc.setJobDescription(label)
            try:
                return fn(*args, **kwargs)
            finally:
                s = tracer.spans[idx]
                s["dur_s"] = time.monotonic() - s.pop("t0")
                s["end_ms"] = s["start_ms"] + s["dur_s"] * 1000.0
                tracer.stack.pop()
                tracer.sc.setJobDescription(prev_desc)

        return wrapped

    def wrap(self, module, attr: str, name=None) -> None:
        """Rebind ``module.attr`` to a spanned wrapper."""
        fn = getattr(module, attr)
        setattr(module, attr, self.span(name or f"{module.__name__.split('.', 1)[-1]}.{attr}", fn))


def install_cli_spans(tracer: Tracer) -> None:
    import github_etl_pipeline_spark.pipeline as pipeline
    import github_etl_pipeline_spark.sinks.reports as reports
    import github_etl_pipeline_spark.sinks.upsert as upsert

    # names imported into pipeline at module load are rebound there
    for attr in ("run_pipeline", "read_pol_lines", "parse_pol_lines", "load_game_lookup",
                 "prepare_dim", "pool_kpis", "aggregated_summary"):
        tracer.wrap(pipeline, attr)
    # the sinks are imported inside run_pipeline at call time
    tracer.wrap(upsert, "write_consolidated_json")
    for attr in ("save_summary_report", "generate_index_file", "save_as_csv"):
        tracer.wrap(reports, attr)


def install_incremental_spans(tracer: Tracer) -> None:
    import github_etl_pipeline_spark.sources.lookup as lookup
    import github_etl_pipeline_spark.streaming.incremental as incremental

    tracer.wrap(lookup, "load_game_lookup")
    tracer.wrap(lookup, "prepare_dim")
    tracer.wrap(incremental, "run_incremental_mtime")
    for attr in ("read_store", "parse_pol_lines", "pool_kpis"):
        tracer.wrap(incremental, attr)
    # one function, two stores: the KPI store and the (path, mtime) ledger
    tracer.wrap(
        incremental,
        "upsert_parquet",
        lambda a, kw: "ledger.upsert_parquet" if kw.get("key") == "path" else "store.upsert_parquet",
    )


def jvm_counters(spark) -> dict:
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    hist = codegen.METRIC_COMPILATION_TIME()
    snap = hist.getSnapshot()
    return {
        "jit_compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        "gc_s": gc_ms / 1000.0,
        # the histogram keeps a sample, not a sum: mean x count
        "codegen_compile_s": snap.getMean() * hist.getCount() / 1000.0,
        "codegen_classes": hist.getCount(),
    }


def main(spec_path: str) -> int:
    spec = json.loads(Path(spec_path).read_text())
    sys.path.insert(0, spec["repo"])
    from github_etl_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": spec["local_dir"],
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={spec['tmp_dir']}",
        "spark.sql.warehouse.dir": spec["tmp_dir"] + "/warehouse",
    }
    if spec["trace"]:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": spec["eventlog"],
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(cpus=spec["cpus"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = time.monotonic() - spec["t_spawn"]

    tracer = Tracer(spark) if spec["trace"] else None
    out: dict = {"setup_s": setup_s}
    try:
        if spec["kind"] == "setup":
            unit = lambda: None  # noqa: E731
        elif spec["kind"] == "cli":
            from github_etl_pipeline_spark.__main__ import main as cli_main

            if tracer:
                install_cli_spans(tracer)
            argv = ["--repo-root", spec["fleet"], "--output-dir", spec["out"], "--cpus", str(spec["cpus"])]
            unit = lambda: cli_main(argv)  # noqa: E731
        else:
            import github_etl_pipeline_spark.sources.lookup as lookup
            import github_etl_pipeline_spark.streaming.incremental as incremental

            if tracer:
                install_incremental_spans(tracer)

            def unit():
                dim = lookup.load_game_lookup(spark, spec["fleet"])
                dim_agg = lookup.prepare_dim(dim)
                t = time.monotonic()
                n = incremental.run_incremental_mtime(
                    spark, spec["scan_dir"], spec["ledger"], spec["store"], dim_agg
                )
                return n, time.monotonic() - t

        if tracer:
            unit = tracer.span("unit", unit)
        out["unit_start_ms"] = time.time() * 1000.0
        t0 = time.monotonic()
        ret = unit()
        out["unit_wall_s"] = time.monotonic() - t0
        out["unit_end_ms"] = time.time() * 1000.0
        if spec["kind"] == "incremental":
            out["changed_files"], out["wall_s"] = ret
        else:
            out["wall_s"] = out["unit_wall_s"]
        out["py_maxrss_kb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            out["jvm_hwm_kb"] = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        # peak use of every JVM memory pool except the young generation,
        # whose size G1 adapts from pause times (+-30% run to run)
        pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        out["jvm_retained_peak_mb"] = sum(
            p.getPeakUsage().getUsed() for p in pools
            if not any(young in p.getName() for young in ("Eden", "Survivor"))
        ) / 2**20
        if tracer:
            out["spans"] = tracer.spans
            out["jvm"] = jvm_counters(spark)
    finally:
        Path(spec["result"]).write_text(json.dumps(out))
        gateway = spark.sparkContext._gateway
        spark.stop()
        # the JVM exits when its stdin closes; wait so nothing outlives us
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
