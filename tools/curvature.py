#!/usr/bin/env python3
"""Scaling-curvature probe: run a gate subset at two SF replicas and
record the measured growth exponent alpha = ln(t_big/t_small)/ln(ratio)
per gate — the number that turns "scales by design" into "scales by
measurement". alpha ~ 1 is linear, alpha >= 2 means the capped-join
machinery failed to bound the quadratic step.

Usage: curvature.py <small_dir> <big_dir> <ratio> <q1,q2,...> [out.md]

Runs graft.Bench (pair-min protocol, SPARK_GRAFT_ONLY subset: a
diagnosis run, which the subset flag keeps out of the band set) once
per directory, sequentially, never concurrently, on the host's cores.
Reads each run's result line, writes a markdown table (to out.md when
given) and exits nonzero if any gate measures alpha >= 2
(super-quadratic would also trip it). A gate that failed in either
run is skipped: a time-to-exception is not a growth exponent.
Per-gate times below NOISE_FLOOR seconds at the SMALL scale are
annotated, not judged: a 0.3 s gate's exponent is mostly constant-cost
amortization, not growth.
"""
import json
import math
import os
import subprocess
import sys

NOISE_FLOOR = 2.0


def run_bench(sf_dir: str, only: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_ONLY"] = only
    out = subprocess.run(
        ["sbt", "-batch", "runMain graft.Bench"],
        capture_output=True, text=True, env=env, check=False)
    line = None
    for ln in out.stdout.splitlines():
        ln = ln.replace("[info] ", "", 1).strip()
        if ln.startswith("{") and '"pair_min_total"' in ln:
            line = ln
    if line is None:
        sys.exit(f"no bench artifact line for {sf_dir}\n"
                 + out.stdout[-2000:] + out.stderr[-2000:])
    return json.loads(line)


def main() -> None:
    if len(sys.argv) < 5:
        sys.exit("usage: curvature.py <small_dir> <big_dir> <ratio> "
                 "<q1,q2,...> [out.md]")
    small, big, ratio = sys.argv[1], sys.argv[2], float(sys.argv[3])
    only = sys.argv[4]
    out_md = sys.argv[5] if len(sys.argv) > 5 else None
    a = run_bench(small, only)
    b = run_bench(big, only)
    skipped = sorted(set(a["failed"]) | set(b["failed"]))
    rows, failed = [], []
    for q in sorted(a["queries"]):
        t1, t2 = a["queries"][q], b["queries"].get(q)
        if t2 is None or q in skipped:
            continue
        alpha = math.log(t2 / t1) / math.log(ratio)
        noisy = t1 < NOISE_FLOOR
        rows.append((q, t1, t2, alpha, noisy))
        if alpha >= 2.0 and not noisy:
            failed.append(q)
    hdr = (f"| gate | t(sf_small) s | t(sf_big) s | ratio | "
           f"alpha (x{ratio:g} data) |\n|---|---|---|---|---|")
    lines = [hdr]
    for q, t1, t2, alpha, noisy in rows:
        note = " (sub-noise-floor at small SF)" if noisy else ""
        lines.append(f"| {q} | {t1:.2f} | {t2:.2f} | {t2 / t1:.2f} | "
                     f"{alpha:.2f}{note} |")
    table = "\n".join(lines)
    print(table)
    print(f"load_small={a['load_avg_1m']:.1f} load_big={b['load_avg_1m']:.1f}")
    if skipped:
        print(f"skipped, failed in a run: {', '.join(skipped)}")
    if out_md:
        with open(out_md, "w") as f:
            f.write(table + "\n")
    if failed:
        sys.exit(f"super-/quadratic growth measured: {failed}")


if __name__ == "__main__":
    main()
