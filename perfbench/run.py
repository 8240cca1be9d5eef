#!/usr/bin/env python3
"""Runs one benchmark run and prints its metrics.

    python3 perfbench/run.py --workload olap_drain --seed 1 --seconds 20 --trace 0

Builds the engine and harness if needed (perfbench/build.py), starts one
JVM at local[<cores>] with a private java.io.tmpdir under
.bench_build/runs/, and lets perfbench.Main set up, warm up, check and
time the workload. After the JVM exits it measures what the run left in
its temp dir (scratch.leaked_mb), deletes the run dir, and prints every
metric by name with its unit, the output-check verdict, and, as the last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the run's spans are kept in .bench_build/traces/.

--record-pins takes fresh output fingerprints for the workload's
queries into perfbench/pins.json instead of checking them.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

PINS = os.path.join(HERE, "pins.json")
WORKLOADS = ("olap_drain", "llm_curate", "etl_gdx", "stream_micro")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def du_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(classes, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_LOCAL_DIRS" and not k.startswith("SPARK_GRAFT_")}
    env["TMPDIR"] = tmp
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-Xms2g", "-XX:+UseParallelGC", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dfile.encoding=UTF-8",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main"] + args)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=run_dir, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            lines = [l for l in fh if not l.lstrip().startswith(("at ", "... "))]
        sys.stderr.write("".join(lines)[-8000:])
        raise SystemExit(f"run: JVM failed ({code})")
    return du_bytes(tmp)


def report(a, result, e2e, info, layer, checks, failed):
    p = lambda s="": print(s, flush=True)  # noqa: E731
    p(f"perfbench {a.workload} seed={a.seed} trace={a.trace} cpus={result['cpus']} "
      f"ops={len(result['ops'])} passes={result['passes']} timed_s={result['timed_s']:.2f}")
    ph = result["setup_phases_s"]
    p(f"  setup: session {ph['session']:.1f} s, inputs {ph['inputs']:.1f} s, "
      f"warm pass {ph['warm']:.1f} s")
    per_pass = {}
    for o in result["ops"]:
        per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["seconds"]
    p("  timed passes: " + ", ".join(f"{per_pass[k]:.2f} s" for k in sorted(per_pass)))
    by = {}
    for o in result["ops"]:
        by.setdefault(o["name"], []).append(o["seconds"])
    slow = sorted(by.items(), key=lambda kv: -statistics.median(kv[1]))
    p("  op medians: " + ", ".join(f"{k} {statistics.median(v):.3f}" for k, v in slow))
    shown = e2e if a.trace == 0 else layer
    for name, v in shown.items():
        extra = ""
        if name == "op_tail_s":
            extra = (f"  (p{info['op_tail_pct']:.1f} of {info['ops']} ops, "
                     f"{info['op_tail_beyond']} beyond)")
        p(f"  {name:40s} {v:14.6g} {metrics.unit_of(name)}{extra}")
    bad = [c for c in checks if not c["ok"]]
    for c in bad:
        tag = "FAIL" if c["counted"] else "FAIL (known, reported, not counted)"
        p(f"  check {c['name']}: {tag}: {c['detail']}")
    ok_counted = sum(1 for c in checks if c["ok"] and c["counted"])
    p(f"  checks: {ok_counted} passed, "
      f"{sum(1 for c in bad if c['counted'])} failed, "
      f"{sum(1 for c in checks if not c['counted'])} reported only")
    for c in checks:
        if not c["counted"] and c["ok"]:
            p(f"  check {c['name']}: ok: {c['detail']}")
    verdict = "correct" if not failed and all(c["ok"] for c in checks if c["counted"]) \
        else "INCORRECT"
    p(f"  verdict: {verdict} ({failed} of {len(result['ops'])} ops failed)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-pins", action="store_true")
    a = ap.parse_args()

    classes = build.build()
    deadline = time.time() + JVM_TIMEOUT_S
    runs = os.path.join(build.BUILD, "runs")
    run_dir = os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(run_dir, "data"),
            "--out", out, "--pins", PINS]
    if a.record_pins:
        args.append("--record-pins")
    try:
        os.makedirs(run_dir)
        leaked = run_jvm(classes, args, run_dir, deadline)
        with open(os.path.join(out, "result.json")) as fh:
            result = json.load(fh)
        spans = []
        if a.trace:
            with open(os.path.join(out, "spans.json")) as fh:
                spans = json.load(fh)
        if a.record_pins:
            with open(os.path.join(out, "pins.json")) as fh:
                taken = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.record_pins:
        pins = {}
        if os.path.isfile(PINS):
            with open(PINS) as fh:
                pins = json.load(fh)
        pins[a.workload] = taken
        with open(PINS, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")

    checks = result["checks"]
    failed = metrics.failures(result["ops"], checks)
    e2e, info = metrics.end_to_end(result)
    layer = metrics.per_layer(result, spans, leaked / 1e6) if a.trace else {}
    if a.trace:
        traces = os.path.join(build.BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        selfs = metrics.self_times(spans)
        with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.json"), "w") as fh:
            json.dump([dict(s, self_ms=selfs[s["id"]]) for s in spans], fh)
    report(a, result, e2e, info, layer, checks, failed)
    shown = layer if a.trace else e2e
    correct = failed == 0 and all(c["ok"] for c in checks if c["counted"])
    print(json.dumps({
        "correct": correct, "attempted": len(result["ops"]), "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.unit_of(k)} for k, v in shown.items()},
    }), flush=True)


if __name__ == "__main__":
    main()
