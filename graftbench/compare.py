#!/usr/bin/env python3
"""Repeat-and-compare tool for the graft benchmark.

Run a workload N times (one seed each) and keep every result line:

    python3 graftbench/compare.py run --set graftbench/.out/A.json \\
        --workloads fhir_ingest,table_dml --seeds 1-10 [--trace 0]

Summarise a set: per workload row, each metric's median and quartiles and
the quartile spread as a share of the median (Python's
statistics.quantiles(values, n=4)), judged against BENCHMARK.json's bounds:

    python3 graftbench/compare.py summary graftbench/.out/A.json

Diff two sets, counters first. At the same seed the exact-repeat counters
(spark.jobs, spark.stages, spark.tasks, fs.*_ops, core.log.markers_written,
catalog.files_rewritten_per_dml) of traced runs must match exactly; then
each end-to-end metric's median in B must not be worse than in A by more
than its bound. Exits 1 on any mismatch or regression:

    python3 graftbench/compare.py diff graftbench/.out/A.json graftbench/.out/B.json
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "fs.read_ops", "fs.write_ops",
         "fs.list_ops", "core.log.markers_written", "catalog.files_rewritten_per_dml")


def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def cmd_run(a):
    b = spec()
    seconds = b["run_seconds"]
    data = {}
    if os.path.exists(a.set):
        with open(a.set) as fh:
            data = json.load(fh)
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                   "--seconds", str(seconds), "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            row = {"seed": s, "trace": a.trace, "exit": p.returncode, "result": res}
            data.setdefault(w, []).append(row)
            ok = res is not None and res["correct"]
            print(f"{w} seed={s} trace={a.trace} exit={p.returncode} correct={ok}", flush=True)
            with open(a.set, "w") as fh:
                json.dump(data, fh, indent=1)
    return 0


def spread(values):
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, ((q3 - q1) / med if med else float("inf"))


def rows(data, workload, trace):
    return [r for r in data.get(workload, []) if r["trace"] == trace and r["result"]]


def cmd_summary(a):
    b = spec()
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    with open(a.set) as fh:
        data = json.load(fh)
    bad = 0
    for w in sorted(data):
        for trace in (0, 1):
            rs = rows(data, w, trace)
            if not rs:
                continue
            failed = sum(r["result"]["failed"] for r in rs)
            print(f"{w} (trace={trace}, {len(rs)} runs, {failed} failed ops)")
            names = rs[0]["result"]["metrics"].keys()
            for n in names:
                vals = [r["result"]["metrics"][n]["value"] for r in rs]
                med, q1, q3, sp = spread(vals)
                bound = bounds.get(n) if trace == 0 else None
                verdict = ""
                if bound is not None and n != "setup_s":
                    ok = sp <= bound / 3
                    bad += 0 if sp <= bound else 1
                    verdict = "steady" if ok else ("within bound" if sp <= bound else "TOO WIDE")
                print(f"  {n:<42} median {med:>14.4f}  q1 {q1:>14.4f}  q3 {q3:>14.4f}  "
                      f"spread {sp:7.3f}" + (f"  bound {bound}  {verdict}" if bound is not None else ""))
    return 1 if bad else 0


def cmd_diff(a):
    b = spec()
    bounds = {m["name"]: (m["bound"], m["better"]) for m in b["end_to_end"]}
    with open(a.a) as fh:
        A = json.load(fh)
    with open(a.b) as fh:
        B = json.load(fh)
    problems = 0
    print("counters (traced runs, same seed, must match exactly)")
    for w in sorted(set(A) & set(B)):
        ra = {r["seed"]: r["result"]["metrics"] for r in rows(A, w, 1)}
        rb = {r["seed"]: r["result"]["metrics"] for r in rows(B, w, 1)}
        for s in sorted(set(ra) & set(rb)):
            for n in EXACT:
                if n in ra[s] and n in rb[s]:
                    va, vb = ra[s][n]["value"], rb[s][n]["value"]
                    same = va == vb
                    problems += 0 if same else 1
                    print(f"  {w} seed={s} {n:<34} {va!r:>22} {vb!r:>22}  {'same' if same else 'DIFFERENT'}")
    print("end-to-end (medians over untraced runs, judged against the bounds)")
    for w in sorted(set(A) & set(B)):
        ra, rb = rows(A, w, 0), rows(B, w, 0)
        if not ra or not rb:
            continue
        for n, (bound, better) in bounds.items():
            ma = statistics.median(r["result"]["metrics"][n]["value"] for r in ra)
            mb = statistics.median(r["result"]["metrics"][n]["value"] for r in rb)
            change = (mb - ma) / ma if ma else 0.0
            worse = change if better == "lower" else -change
            ok = worse <= bound
            problems += 0 if ok else 1
            print(f"  {w:<12} {n:<20} A {ma:>12.4f}  B {mb:>12.4f}  change {change:+7.3f}  "
                  f"bound {bound}  {'ok' if ok else 'WORSE'}")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", required=True)
    r.add_argument("--workloads", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("summary")
    s.add_argument("set")
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    a = ap.parse_args()
    return {"run": cmd_run, "summary": cmd_summary, "diff": cmd_diff}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
