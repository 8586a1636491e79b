#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload pip-skew --seed 1 --seconds 8 --trace 0

Builds the program from source if needed and runs the workload in one JVM
with Spark `local[p_hi]` (p_hi = 4 * (nproc // 4)). Traced runs also repeat
the headline path at `local[p_hi / 4]` in a fresh JVM for the scaling
efficiency (a per-layer metric: two cold JVMs per run do not fit the run
budget of the untraced runs). Prints the per-layer ledger line, then, as the last line, the
result object: correct, attempted, failed and the metrics BENCHMARK.json
names for the mode (end-to-end with --trace 0, per-layer with --trace 1).
Exits 1 when a correctness check failed, 2 when it could not run.
"""
import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORK = build.OUT / "work"
WORKLOADS = ("pip-skew", "tile-resume")
DEADLINE_S = 170


def fail(msg: str, code: int = 2):
    print(json.dumps({"error": msg}), file=sys.stderr)
    sys.exit(code)


def run_jvm(cp, flags, args, role, cores, parts, seconds, deadline):
    """One benchmark JVM at `local[cores]`, GC threads sized to that level."""
    WORK.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-{role}-{os.getpid()}"
    out = WORK / f"{tag}.json"
    log = WORK / f"{tag}.log"
    out.unlink(missing_ok=True)
    cmd = ["java", *build.ADD_OPENS, *flags,
           f"-Xmx{'3g' if role == 'main' else '2g'}",
            f"-XX:ParallelGCThreads={cores}", f"-XX:ConcGCThreads={max(1, cores // 4)}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(seconds),
            "--trace", "1" if args.trace and role == "main" else "0",
            "--cores", str(cores), "--parts", str(parts), "--role", role,
            "--size", args.size, "--out", str(out), "--work", str(WORK / tag)]
    if args.corrupt:
        cmd.append("--corrupt")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{role} JVM exceeded the run deadline; see {log}")
    subprocess.run(["rm", "-rf", str(WORK / tag)])
    if proc.returncode != 0 or not out.exists():
        tail = log.read_text()[-2000:] if log.exists() else ""
        fail(f"{role} JVM exited {proc.returncode}; see {log}: {tail}")
    return json.loads(out.read_text())


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the self-tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt the checked result, which must fail the checks")
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_file.read_text())
    try:
        cp, flags = build.classpath()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    deadline = max(deadline, time.monotonic() + 150)  # a first build does not eat the run budget

    nproc = len(os.sched_getaffinity(0))
    p_lo = nproc // 4
    p_hi = 4 * p_lo
    if p_lo < 1:
        fail(f"scaling probe refused: p_hi=4 exceeds nproc={nproc}")
    parts = 2 * p_hi

    res = run_jvm(cp, flags, args, "main", p_hi, parts, args.seconds, deadline)
    runs = [res]
    layers = res.get("layers", {})
    if args.trace:
        lo = run_jvm(cp, flags, args, "scaling", p_lo, parts, args.seconds / 2, deadline)
        runs.append(lo)
        layers["spark.scaling_eff"] = metric(
            res["untraced_docs_per_s"] / (4 * lo["docs_per_s"]), "ratio")

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    errors = [e for r in runs for e in r["errors"]]
    correct = failed == 0 and all(res["checks"].values()) and bool(res["checks"])

    e2e = {
        "setup_s": metric(res["setup_s"], "s"),
        "docs_per_s": metric(res["docs_per_s"], "docs/s"),
        "alt_docs_per_s": metric(res["alt_docs_per_s"], "docs/s"),
    }
    ledger = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "p_lo": p_lo, "p_hi": p_hi, "iterations": {r["role"]: r["iterations"] for r in runs},
        "failed_frac": metric(failed / max(1, attempted), "ratio"),
        "checks": res["checks"], "errors": errors,
        "host": dict(res["host"], python_nproc=nproc, source=build.source_digest(),
                     git_commit=git_commit()),
        "load": {r["role"]: r["load"] for r in runs},
        "setup_cold_s": res["setup_cold_s"],
        "setup_runs_s": res["setup_runs_s"],
        "setup_session_s": res["setup_session_s"],
        "samples_s": {r["role"]: r["samples"] for r in runs},
        "phases_s": {r["role"]: r["phases_s"] for r in runs},
        "end_to_end": {k: v for k, v in e2e.items() if v["value"] is not None},
        "layers": layers,
    }
    if "trace_file" in res:
        ledger["trace_file"] = os.path.relpath(res["trace_file"], ROOT)
    print("perfbench-ledger " + json.dumps(ledger, sort_keys=True))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {}
    for m in wanted:
        got = source.get(m["name"])
        if got is None or got["value"] is None:
            correct = False
            errors.append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = metric(got["value"], m["unit"])
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or None


if __name__ == "__main__":
    main()
