#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one seeded run of one workload.

    python3 perfbench/run.py --workload crm_etl --seed 1 --seconds 10 --trace 0

Workloads: crm_etl (the paper's CRM ETL on a generated 297-column extract,
1/16 of the reference's 68,589 rows), curation (read-only LLM-curation queries at sf0.1), incremental
(index builds, probes, deltas and streaming replays at sf0.1). With
--trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced run, and the per-op
trace is printed above it and kept under .bench_build/perfbench/traces/.
See perfbench/README.md for the metric definitions.

Maintenance modes (not used by the measured runs):
    --selftest 1       crm_etl spec checks: census and PipelineMain.run parity
    --record DIR       dump query results for perfbench/record_fingerprints.py
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("crm_etl", "curation", "incremental")
DATA = HERE / "data" / "sf0.1"
JVM_TIMEOUT_S = 170
SELFTEST_TIMEOUT_S = 900
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "rows/s"),
              ("op_p50_s", "s"), ("driver_retained_heap_peak_mb", "MB")]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def check_data():
    import hashlib
    manifest = json.loads((DATA / "MANIFEST.json").read_text())["tables"]
    for t, m in manifest.items():
        p = DATA / f"{t}.parquet"
        if hashlib.sha256(p.read_bytes()).hexdigest() != m["sha256"]:
            raise SystemExit(f"run: {p} does not match its manifest")


def run_jvm(a, classes, scratch, out):
    jars = build.spark_jars()
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp dir: runs write only to the checkout
    cmd += ["-XX:-UsePerfData", "-Xmx4g", "-Xss8m",
            f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={scratch / 'tmp'}",
            "-cp", f"{classes}:{jars / '*'}", "graft.perfbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores()), "--scratch", str(scratch),
            "--data", str(DATA), "--fingerprints", str(HERE / "fingerprints.json"),
            "--out", str(out)]
    if a.record:
        cmd += ["--record", str(Path(a.record).resolve())]
    if a.selftest:
        cmd += ["--selftest", "1"]
    cmd += ["--launch-ms", str(int(time.time() * 1000))]
    log = open(scratch / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=str(scratch))
    try:
        code = proc.wait(timeout=SELFTEST_TIMEOUT_S if a.selftest else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "timeout"
    log.close()
    if code != 0 or not out.exists():
        tail = (scratch / "jvm.log").read_text(errors="replace")[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"run: harness JVM ended with {code}")
    return json.loads(out.read_text())


def report(a, r):
    """Print the human-readable report; return the final JSON object."""
    n = r["ops"]
    failed = r["failed_ops"]
    print(f"workload {r['workload']}  seed {r['seed']}  closed loop, 1 client, "
          f"local[{r['cores']}]  traced={r['traced']}")
    extra = f", {r['input_bytes']} bytes" if r["input_bytes"] is not None else ""
    print(f"input {r['input_rows']} rows{extra}; generated in {r['generate_s']:.2f} s (not in setup)")
    print(f"timed phase {r['timed_phase_s']:.2f} s, {r['rounds']} round(s): "
          + ", ".join(f"{x:.3f}" for x in r["round_s"]))
    wall = r["wall_s"]
    e2e = {
        "setup_s": r["setup_s"],
        "wall_s": wall,
        "rows_per_s": r["input_rows"] / wall,
        "op_p50_s": r["op_p50_s"],
        "driver_retained_heap_peak_mb": r["driver_retained_heap_peak_mb"],
    }
    notes = {
        "setup_s": f"jvm boot {r['jvm_boot_s']:.3f} s + median of session set-ups "
                   + ", ".join(f"{x:.3f}" for x in r["session_setups_s"]),
        "wall_s": f"median over {r['rounds']} round(s)",
        "op_p50_s": f"n={n}",
    }
    for k, unit in END_TO_END:
        print(f"{k} {e2e[k]:.6g} {unit}  {notes.get(k, '')}".rstrip())
    print(f"failed_ops_ratio {failed / n:.6g} ratio  ({failed}/{n})")
    for o in r["op_results"]:
        status = f"FAILED: {o['error']}" if o["error"] else "ok"
        print(f"op {o['op']} round {o['round']} {o['name']} {o['seconds']:.3f} s {status}")
    if r["census"] is not None:
        print("planted census " + json.dumps(r["census"], sort_keys=True))
    if a.trace:
        for k, v in r["per_layer"].items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
        names = {o["op"]: o["name"] for o in r["op_results"]}
        for t in r["op_trace"]:
            calls = [s for s in t["spans"] if s["layer"] != "op"]
            top = sorted(calls, key=lambda s: -s["self_ms"])[:3]
            print(f"trace op {t['op']} {names.get(t['op'], '?')}: "
                  f"{sum(s['jobs'] for s in t['spans'])} jobs, "
                  f"{sum(s['gap_ms'] for s in calls) / 1000:.3f} s driver gap; top spans "
                  + "; ".join(f"{s['layer']}.{s['name']} {s['self_ms'] / 1000:.3f}s "
                              f"jobs={s['jobs']} eager={s['eager_jobs']}" for s in top))
        traces = ROOT / ".bench_build" / "perfbench" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        path = traces / f"{r['workload']}-seed{r['seed']}.json"
        path.write_text(json.dumps({"ops": r["op_results"], "trace": r["op_trace"]}))
        print(f"per-op trace written to {path.relative_to(ROOT)}")
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in r["per_layer"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    return {"correct": failed == 0, "attempted": n, "failed": failed, "metrics": metrics}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", default=None)
    a = p.parse_args()
    classes = build.ensure_built()
    check_data()
    scratch = ROOT / ".bench_build" / "perfbench" / f"run-{os.getpid()}-{time.time_ns()}"
    (scratch / "tmp").mkdir(parents=True)
    try:
        r = run_jvm(a, classes, scratch, scratch / "result.json")
        if a.selftest:
            print(json.dumps(r, indent=1))
            ok = not (r["input_problems"] or r["output_problems"]
                      or r["sinks_differing_from_pipeline_main"])
            print("selftest " + ("ok" if ok else "FAILED"))
            sys.exit(0 if ok else 1)
        result = report(a, r)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
