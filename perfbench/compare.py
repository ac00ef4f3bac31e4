#!/usr/bin/env python3
"""Diff two benchmark reports metric by metric and layer by layer.

    python3 perfbench/compare.py <base-report.json> <new-report.json>

Reports are the files `run.py` writes under perfbench/.work/reports. Two
reports from different host shapes (processor count or JVM heap) are
refused: their timings are not comparable. Prints each metric's base and
new value with the relative change, per-gate median latency, and every
gate whose final plan fingerprint or exchange count differs.
"""
import json
import sys

SHAPE = ("nproc", "max_heap_mb")


def rel(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and a:
        return f"{(b - a) / abs(a):+8.1%}"
    return "       -"


def fmt(v):
    return f"{v:14.6g}" if isinstance(v, (int, float)) else f"{str(v):>14s}"


def main(base_path, new_path):
    base, new = json.load(open(base_path)), json.load(open(new_path))
    hb, hn = base["host"], new["host"]
    for k in SHAPE:
        if hb.get(k) != hn.get(k):
            sys.exit(f"refusing to compare: host {k} differs "
                     f"({hb.get(k)} vs {hn.get(k)})")
    for k in ("workload", "seconds", "traced", "spark_version", "java_version", "git_head", "seed"):
        if hb.get(k) != hn.get(k):
            print(f"note: {k} differs: {hb.get(k)} vs {hn.get(k)}")
    for k in ("load_1m_start", "load_1m_end"):
        print(f"{k}: {hb.get(k)} vs {hn.get(k)}")

    print(f"\n{'metric':34s} {'base':>14s} {'new':>14s} {'change':>8s}")
    mb, mn = base["metrics"], new["metrics"]
    for k in sorted(set(mb) | set(mn), key=lambda k: (k.count("."), k)):
        a = mb.get(k, {}).get("value")
        b = mn.get(k, {}).get("value")
        unit = (mb.get(k) or mn.get(k))["unit"]
        print(f"{k + ' [' + unit + ']':34s} {fmt(a)} {fmt(b)} {rel(a, b)}")

    print(f"\n{'gate (median warm s)':34s} {'base':>14s} {'new':>14s} {'change':>8s}")
    gb, gn = base["gates"], new["gates"]
    for g in sorted(set(gb) | set(gn)):
        a = gb.get(g, {}).get("s_p50")
        b = gn.get(g, {}).get("s_p50")
        print(f"{g:34s} {fmt(a)} {fmt(b)} {rel(a, b)}")

    pb, pn = base.get("plan_fingerprints", {}), new.get("plan_fingerprints", {})
    changed = [g for g in sorted(set(pb) & set(pn)) if pb[g] != pn[g]]
    if pb and pn:
        print(f"\nplan fingerprints: {len(changed)} of {len(set(pb) & set(pn))} gates changed")
        for g in changed:
            print(f"  {g}: {pb[g]['fp']} ({pb[g]['exchanges']} exchanges) -> "
                  f"{pn[g]['fp']} ({pn[g]['exchanges']} exchanges)")
    for name, r in (("base", base), ("new", new)):
        for f in r.get("failures", []):
            print(f"{name} FAILED {f['gate']} ({f['pass']}): {f['reason']}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
