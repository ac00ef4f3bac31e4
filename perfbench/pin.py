#!/usr/bin/env python3
"""Pin the benchmark's input and output digests in workloads.json.

    python3 perfbench/pin.py [--inputs]

For every data set the workloads use, and every gate run on it:

1. `graft.Verify` writes the gate's output as parquet, with the gate's
   DuckDB oracle SQL;
2. `tools/check_oracle.py` compares each oracled output with DuckDB;
3. the harness digests the gate's live result and the verified parquet.

A gate is pinned only if its live digest equals the digest of the output
the oracle checked and, when it has an oracle, the oracle passed. Gates
without an oracle are pinned from their live result and marked so.
`--inputs` also re-pins the data sets' per-table row counts and content
hashes (only needed after the committed data or `graft.ScaleUp` changed).
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

import run

SPEC_PATH = os.path.join(run.HERE, "workloads.json")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--inputs", action="store_true")
    args = ap.parse_args()
    spec = json.load(open(SPEC_PATH))
    cp = run.build()
    ok = True
    for ds in sorted({w["dataset"] for w in spec["workloads"].values()}):
        gates = sorted({g for w in spec["workloads"].values()
                        if w["dataset"] == ds for g in w["gates"]})
        if args.inputs:
            s = spec["datasets"][ds]
            d = (os.path.join(run.HERE, s["committed"]) if "committed" in s
                 else run.build_replica(cp, ds))
            s["tables"] = run.table_digests(d)
        else:
            d = run.dataset_dir(cp, ds)
        out = os.path.join(run.WORK, "pin", ds)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        run.run_jvm(cp, "graft.Verify", [d, out] + gates, 900)
        oracle = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"), d, out],
            capture_output=True, text=True).stdout
        verdict = {m.group(2): m.group(1)
                   for m in re.finditer(r"^(PASS|FAIL) (\S+?):? ", oracle, re.M)}
        dig_path = os.path.join(out, "digests.json")
        run.run_jvm(cp, "perfbench.Harness",
                    ["mode=digest", f"work={run.WORK}", f"data={d}",
                     f"gates={','.join(gates)}", f"verified={out}", f"out={dig_path}"], 900)
        digs = json.load(open(dig_path))
        pinned, oracled = {}, {}
        for g in gates:
            live, ver = digs[g]["live"], digs[g]["verified"]
            v = verdict.get(g)
            problem = ("live result differs from the verified output" if live != ver
                       else "error" if live.startswith("error") else
                       "DuckDB oracle failed" if v == "FAIL" else None)
            if problem:
                ok = False
                print(f"{ds} {g}: NOT pinned: {problem} ({live} / {ver})")
                continue
            pinned[g] = live
            oracled[g] = v == "PASS"
            print(f"{ds} {g}: {live} ({'oracle PASS' if v else 'no oracle'})")
        spec["digests"][ds] = pinned
        spec.setdefault("oracle_checked", {})[ds] = sorted(g for g, o in oracled.items() if o)
    with open(SPEC_PATH, "w") as fh:
        json.dump(spec, fh, indent=1)
        fh.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
