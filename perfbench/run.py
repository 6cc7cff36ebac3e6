"""Benchmark of the CSV -> continuity -> resample pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py),
generates the seeded CSV set for the workload (perfbench/gen.py), runs the
harness JVM, and prints one JSON object as the last line of stdout:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
and writes the spans to .bench_build/perfbench/traces/. Everything the run
writes stays under .bench_build/ in the repository root. See README.md.
"""

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402

OUT = ROOT / ".bench_build" / "perfbench"
HARNESS_TIMEOUT_S = 170
# Least share of an iteration's wall time its step spans must cover.
MIN_SPAN_COVERAGE = 0.95

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# steps up to a materialized loaded table (loaded_s_p50)
LOADED_STEPS = ("meta.discover", "meta.extract", "validate.sequence", "load.build", "load.run")

# per-layer metric -> unit; the values are medians over traced iterations
LAYER_UNITS = {
    "meta.discover_s": "s", "meta.extract_s": "s", "meta.files": "count",
    "validate.sequence_s": "s", "validate.issues": "count",
    "load.build_s": "s", "load.build_jobs": "count", "load.build_job_s": "s",
    "load.build_driver_s": "s",
    "load.run_s": "s", "load.run_jobs": "count", "load.rows_out": "count",
    "ts.continuity_s": "s", "ts.continuity_jobs": "count",
    "ts.resample_build_s": "s", "ts.resample_build_jobs": "count",
    "ts.resample_run_s": "s", "ts.resample_run_jobs": "count",
    "pipeline.jobs": "count", "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.csv_bytes_read": "bytes", "pipeline.scan_amplification": "ratio",
    "pipeline.task_busy_ratio": "ratio", "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
}


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def cores():
    return len(os.sched_getaffinity(0))


def run_harness(classes, workload, fixture, seconds, trace, trace_out):
    jars = build.spark_jars()
    local, tmp = OUT / "spark-local", OUT / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(exist_ok=True)
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData and java.io.tmpdir keep the JVM's own files in the checkout
    cmd = ["java", *opens, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           "-cp", f"{classes}:{jars}/*", "perfbench.PipelineBench",
           "--workload", workload, "--fixture", str(fixture), "--seconds", str(seconds),
           "--cores", str(cores()), "--trace", str(trace), "--local-dir", str(local),
           "--trace-out", str(trace_out)]
    log = OUT / "harness.log"
    with open(log, "w") as err:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             timeout=HARNESS_TIMEOUT_S, cwd=ROOT)
    lines = [l for l in res.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if res.returncode != 0 or not lines:
        sys.exit(f"harness failed (exit {res.returncode}); see {log}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def end_to_end(raw):
    timed = [it for it in raw["iterations"][1:] if it["ok"]]
    full = [it for it in timed if not it["load_only"]]
    load_only = [it for it in timed if it["load_only"]]
    if not full or not load_only:
        return {}
    pipe = median([it["wall_s"] for it in full])
    loaded = median([sum(it["steps"][s] for s in LOADED_STEPS) for it in load_only])
    return {
        "setup_s": (raw["setup_s"], "s"),
        "pipeline_s_p50": (pipe, "s"),
        "loaded_s_p50": (loaded, "s"),
        "input_rows_per_s": (raw["input_rows"] / pipe, "1/s"),
    }


def per_layer(raw):
    samples = raw["layer_samples"]
    if not samples:
        return {}
    out = {k: (median([s[k] for s in samples]), u) for k, u in LAYER_UNITS.items()}
    out["codegen.compiles"] = (raw["codegen_compiles"], "count")
    out["codegen.compile_s"] = (raw["codegen_compile_s"], "s")
    out["jvm.gc_s"] = (raw["gc_s_per_iter"], "s")
    out["jvm.heap_after_gc_mb"] = (raw["heap_after_gc_mb"], "MB")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    OUT.mkdir(parents=True, exist_ok=True)
    try:
        classes = build.build(OUT)
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    fixture = gen.ensure(a.workload, a.seed, OUT / "fixtures")
    (OUT / "traces").mkdir(exist_ok=True)
    trace_out = OUT / "traces" / f"{a.workload}-seed{a.seed}.json"
    raw = run_harness(classes, a.workload, fixture, a.seconds, a.trace, trace_out)
    (OUT / "raw").mkdir(exist_ok=True)
    (OUT / "raw" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(raw))

    iters = raw["iterations"]
    failed = sum(not it["ok"] for it in iters)
    for it in iters:
        if not it["ok"]:
            print(f"iteration failed: {it['error']}", file=sys.stderr)
    metrics = per_layer(raw) if a.trace else end_to_end(raw)
    correct = failed == 0 and bool(metrics)
    if a.trace:
        doc = json.loads(trace_out.read_text())
        cov = doc["min_span_coverage"]
        if cov < MIN_SPAN_COVERAGE:
            print(f"step spans cover only {cov:.3f} of an iteration", file=sys.stderr)
            correct = False
        print(f"{'layer':<20}{'total_s_p50':>12}{'self_s_p50':>12}", file=sys.stderr)
        for name, t in doc["layers"].items():
            print(f"{name:<20}{t['total_s_p50']:>12.4f}{t['self_s_p50']:>12.4f}", file=sys.stderr)
        print(f"trace: {trace_out}; tracing overhead {doc['tracing_overhead_s']:+.3f} s "
              f"({doc['traced_pipeline_s_p50']:.3f} traced vs "
              f"{doc['untraced_pipeline_s_p50']:.3f} untraced pipeline_s_p50); "
              f"span coverage >= {cov:.4f}", file=sys.stderr)
    n_load = sum(it["load_only"] for it in iters)
    print(f"{a.workload} seed {a.seed}: {len(iters)} iterations "
          f"({len(iters) - 1 - n_load} timed full, {n_load} load-only), "
          f"{raw['cores']} cores, {raw['input_rows']} input rows, setup {raw['setup_s']:.2f} s "
          f"(session {raw['session_s']:.2f} s)", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": len(iters),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
