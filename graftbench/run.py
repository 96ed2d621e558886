#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 graftbench/run.py --workload fhir_ingest --seed 1 --seconds 10 --trace 0

Workloads: fhir_ingest, table_dml, llm_curate (see BENCHMARK.json for what
each one exercises and why). The harness is built from source on first use
(`build.py`), then started as one JVM whose shape comes from the machine:
Spark runs at local[n] with n = the CPUs this process may use, and the heap
is a quarter of physical memory, clamped to [2, 8] GiB.

--trace 0 reports the end-to-end metrics; --trace 1 makes a separate traced
run and reports the per-layer metrics. Human-readable lines come first; the
last line of standard output is one JSON object with `correct`, `attempted`,
`failed` and `metrics`. The exit code is 0 only when every output check
passed. All files the run makes stay under graftbench/.work (removed when
the run ends) and graftbench/.out (spans and full results, kept).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("fhir_ingest", "table_dml", "llm_curate")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def machine_cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gib():
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // (4 * 1024 * 1024)))
    except OSError:
        pass
    return 2


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars, classes = build.build()
    cpus = machine_cpus()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", tag)
    outdir = os.path.join(HERE, ".out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    heap = f"{heap_gib()}g"
    cmd = [java_bin(), f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Xss4m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([os.path.join(HERE, "conf")] + classes + [os.path.join(jars, "*")]), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus), "--work", work, "--out", result_path]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = -9
    try:
        if rc != 0 or not os.path.exists(result_path):
            print(f"graftbench: the harness exited with {rc} and no result", file=sys.stderr)
            return 2
        with open(result_path) as fh:
            res = json.load(fh)
        for name in ("spans.jsonl", "ops.tsv"):
            src = os.path.join(work, name)
            if os.path.exists(src):
                stem, ext = os.path.splitext(name)
                shutil.copy(src, os.path.join(outdir, f"{stem}-{a.workload}-s{a.seed}-t{a.trace}{ext}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["info"].update({"cpus": str(cpus), "heap_gib": str(heap_gib())})
    with open(os.path.join(outdir, f"result-{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)

    info = res["info"]
    print(f"graftbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cpus={cpus} heap={heap_gib()}g rounds={info['rounds']}")
    for name, m in res["end_to_end"].items():
        note = ""
        if name == "write_tail_ms":
            note = f"  (p{info['write_tail_pct']} of {info['writes']} writes)"
        elif name == "read_tail_ms":
            note = f"  (p{info['read_tail_pct']} of {info['reads']} reads)"
        elif name == "setup_s":
            note = f"  (median of {info['setup_runs_s']})"
        print(f"  {name:<20} {m['value']:>14.4f} {m['unit']}{note}")
    print(f"  {'error_rate':<20} {float(info['error_rate']):>14.4f} ratio  "
          f"({res['failed']} failed of {res['attempted']} attempted)")
    if "dup_recall" in info:
        print(f"  {'dup_recall':<20} {float(info['dup_recall']):>14.4f} ratio")
    for f in res["failures"]:
        print(f"  check failed: {f}")
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit as e:
        if isinstance(e.code, str):
            print(e.code, file=sys.stderr)
            sys.exit(2)
        raise
