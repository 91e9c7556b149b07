"""Seeded end-to-end benchmark of the incremental GitHub data-pipeline
engine. Run from the repository root:

    python3 perfbench/run.py --workload github_elt --seed 1 --seconds 20 --trace 0

Prints one line per run with the workload's full record (every metric
under its long name, with sample counts and failure reasons), then, as
the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of the traced run with ``--trace 1``.
The traced run also writes its spans and layer record under
``perfbench-results/``. See perfbench/README.md for the definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench-work"
RESULTS = ROOT / "perfbench-results"


GATED = ("setup_s", "rows_per_s", "delta_s_p50", "read_s_p50", "peak_rss_mb")


def full_record(workload: str, run, res: dict) -> dict:
    """Every end-to-end metric that applies to the workload, under its
    long name, with its unit and the sample count behind it. A metric
    with no samples (every such operation failed) has the value None."""
    from harness import tail

    def p50(values: list[float], unit: str, **extra) -> dict:
        return {"value": statistics.median(values) if values else None, "unit": unit, "n": len(values), **extra}

    def pct(values: list[float], unit: str) -> dict:
        t = tail(values)
        if t is None:
            return {"value": None, "unit": unit, "n": len(values),
                    "note": "fewer than 11 samples: no percentile has ten beyond it"}
        return {**t, "unit": unit}

    att, fail = run.ledger.attempted, run.ledger.failed
    bulk = "full_load" if workload == "github_elt" else "dedup"
    read = "read_s" if workload == "github_elt" else "query_s"
    return {
        "setup_s": p50(run.setup_s, "s"),
        "rows_per_s": {"value": res["rows_per_s"], "unit": "rows/s", "n": len(run.untraced(bulk)),
                       "rows": res["bulk_rows"]},
        "delta_s_p50": p50(res["delta"], "s", op=res["delta_kind"]),
        "delta_s_tail": pct(res["delta"], "s"),
        f"{read}_p50": p50(res["read"], "s", op=res["read_kind"]),
        **({"query_s_tail": pct(res["read"], "s")} if read == "query_s" else {}),
        "error_rate": {"value": fail / att if att else None, "unit": "failed/attempted",
                       "failed": fail, "attempted": att},
        "peak_rss_mb": {"value": run.rss.peak_mb if run.rss else None, "unit": "MB"},
    }


def end_to_end(rec: dict) -> dict:
    """The gated metrics of the result line, picked from the full record;
    ``read_s_p50`` is ``query_s_p50`` on ``corpus_search``."""
    rec = {"read_s_p50": rec.get("query_s_p50"), **rec}
    return {k: {"value": rec[k]["value"], "unit": rec[k]["unit"]} for k in GATED}


LAYER_SPANS = {
    "readers": ("readers",), "github": ("github",), "expectations": ("expectations",),
    "writers": ("writers",), "streaming": ("streaming", "streaming.ann"), "versioned.commit": ("versioned.commit",),
    "versioned.read": ("versioned.read",), "search": ("search.build", "search.exec"),
    "dedup": ("dedup.build", "dedup.exec", "dedup.cc"), "dedup.cc": ("dedup.cc",),
}


def per_layer(run, spans: dict) -> dict:
    def agg(layer: str) -> dict:
        out: dict = {}
        for name in LAYER_SPANS[layer]:
            for k, v in spans.get(name, {}).items():
                out[k] = out.get(k, 0) + v
        return out

    def ratio(pair) -> float:
        return pair[0] / pair[1] if pair and pair[1] else 0.0

    m: dict = {"session.start_s": (statistics.median(run.session_s), "s")}
    r = agg("readers")
    scan_tasks = sum(v["scan_tasks"] for v in spans.values())
    scan_run = sum(v["scan_run_s"] for v in spans.values())
    m.update({"readers.calls": (r.get("calls", 0), "count"), "readers.wall_s": (r.get("wall_s", 0.0), "s"),
              "readers.scan_tasks": (scan_tasks, "count"), "readers.scan_run_s": (scan_run, "s")})
    g = agg("github")
    m.update({"github.build_s": (g.get("wall_s", 0.0), "s"),
              "github.rows_out_per_in": (run.notes.get("github_rows_out_per_in", 0.0), "ratio")})
    e = agg("expectations")
    m.update({"expectations.wall_s": (e.get("wall_s", 0.0), "s"), "expectations.jobs": (e.get("jobs", 0), "count"),
              "expectations.driver_s": (e.get("driver_s", 0.0), "s")})
    full = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "driver_s")
    units = {"jobs": "count", "stages": "count", "tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB"}
    w = agg("writers")
    m["writers.wall_s"] = (w.get("wall_s", 0.0), "s")
    for k in full:
        m[f"writers.{k}"] = (w.get(k, 0), units.get(k, "s"))
    m["writers.bytes_per_input_byte"] = (ratio(run.notes.get("writers_bytes")), "ratio")
    s = agg("streaming")
    m["streaming.batch_s"] = (s.get("wall_s", 0.0), "s")
    for k in ("jobs", "stages", "tasks", "exec_run_s", "driver_s"):
        m[f"streaming.{k}"] = (s.get(k, 0), units.get(k, "s"))
    c = agg("versioned.commit")
    m.update({"versioned.commit.calls": (c.get("calls", 0), "count"), "versioned.commit.wall_s": (c.get("wall_s", 0.0), "s"),
              "versioned.commit.jobs": (c.get("jobs", 0), "count"), "versioned.commit.driver_s": (c.get("driver_s", 0.0), "s"),
              "versioned.bytes_per_input_byte": (ratio(run.notes.get("versioned_bytes")), "ratio")})
    rd = agg("versioned.read")
    m.update({"versioned.read.calls": (rd.get("calls", 0), "count"), "versioned.read.wall_s": (rd.get("wall_s", 0.0), "s")})
    se = agg("search")
    m["search.build_s"] = (spans.get("search.build", {}).get("wall_s", 0.0), "s")
    for k in ("jobs", "stages", "tasks", "exec_run_s", "driver_s"):
        m[f"search.{k}"] = (se.get(k, 0), units.get(k, "s"))
    d = agg("dedup")
    m["dedup.build_s"] = (spans.get("dedup.build", {}).get("wall_s", 0.0), "s")
    for k in full:
        m[f"dedup.{k}"] = (d.get(k, 0), units.get(k, "s"))
    cc = agg("dedup.cc")
    m.update({"dedup.cc.wall_s": (cc.get("wall_s", 0.0), "s"), "dedup.cc.jobs": (cc.get("jobs", 0), "count"),
              "dedup.verified_per_candidate": (run.notes.get("dedup_verified_per_candidate", 0.0), "ratio")})
    traced = sum(d for ops in run.ops.values() for d, t in ops if t)
    untraced = sum(d for ops in run.ops.values() for d, t in ops if not t)
    m.update({"trace.overhead_s": (traced - untraced, "s"), "trace.untraced_s": (untraced, "s"),
              "trace.spans": (len(run.tracer.spans), "count")})
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def shutdown(run) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    if run is not None and run.rss is not None:
        run.rss.close()
    gateway = SparkContext._gateway
    if run is not None and run.spark is not None:
        run.spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Everything the run writes stays under the checkout.
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True)
    os.environ.update({
        "TMPDIR": str(WORK / "tmp"), "SPARK_LOCAL_DIRS": str(WORK / "spark-local"), "TZ": "UTC",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
    })
    time.tzset()
    # Two task threads on a shared host of a few cores: a stalled core then
    # holds up no stage, and the driver JVM and Python keep a core of their own.
    cpus = min(2, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path.insert(0, str(ROOT))
    try:
        import incremental_github_data_pipeline_spark as engine  # the engine under test
    except ImportError as exc:
        engine = None
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
    if engine is None or not Path(engine.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: the engine package must come from {ROOT}", file=sys.stderr)
        shutil.rmtree(WORK, ignore_errors=True)
        return 2

    from spans import Tracer
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(WORK, ignore_errors=True)
        return 2
    run = Run(work=WORK, seed=args.seed, seconds=args.seconds, cpus=cpus, tracer=Tracer(bool(args.trace)))
    try:
        res = WORKLOADS[args.workload](run)
        record = full_record(args.workload, run, res)
        report = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
                  "metrics": record, "failures": run.ledger.failures,
                  **{k: run.notes[k] for k in ("tie_reordered_queries",) if k in run.notes}}
        if args.trace:
            # the ANN ingest's JSONL stream source is not the raw-zone reader
            spans = run.tracer.attribute(run.spark.sparkContext, no_scan_under=("streaming.ann",))
            metrics = per_layer(run, spans)
            RESULTS.mkdir(exist_ok=True)
            trace_record = {
                **report, "per_layer": metrics, "spans_by_name": spans,
                "ops": {k: [{"s": d, "traced": t} for d, t in v] for k, v in run.ops.items()},
                "spans": [{"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                           "jobs": len(s.jobs)} for s in run.tracer.spans],
                "note": "spans around lazy builders (github, expectations, search.build, dedup.build) "
                        "time driver-side plan construction only; executor work is attributed to the "
                        "span of the action that runs it",
            }
            (RESULTS / f"trace-{args.workload}-seed{args.seed}.json").write_text(json.dumps(trace_record, indent=1))
        else:
            metrics = end_to_end(record)
    finally:
        run.tracer.unwrap()
        shutdown(run)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps({"correct": run.ledger.failed == 0, "attempted": run.ledger.attempted,
                      "failed": run.ledger.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
