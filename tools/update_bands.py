#!/usr/bin/env python3
"""Fold a definitive clean pair into BASELINE_BANDS.json.

Band protocol (BASELINE.md): a query's band at an SF is the per-query
MIN across that round's clean FULL-SUITE pairs — the warmest honest
reading. New gates enter at their first pair-min; existing gates only
ever tighten (a slower pair never loosens a band, it just has to stay
inside 2x of the recorded one).

Usage: update_bands.py <pair_json> <sf_key> [--force]
Guards:
  * A SUBSET pair (SPARK_GRAFT_ONLY diagnosis run) must never fold —
    its warmer cache deflates times and the min-only rule would lock
    the over-tight band in forever. Two independent checks: the
    artifact's own `subset`/`only` flag (emitted by graft.Bench since
    round 19) is a HARD refusal regardless of coverage; pairs from
    older Bench versions without the flag still hit the 90%-coverage
    heuristic. --force overrides both (legitimate only for a
    first-ever band set).
  * Each section records the `nproc` of the host its bands were
    measured on. A pair whose `nproc` differs (or is missing) is
    refused, even with --force: bands from one host shape are never
    folded into another's. A section created with --force takes the
    pair's `nproc`.
  * Queries flagged in failed[] are skipped (a time-to-exception is
    not a band).
Rounding: values are floored to 4 decimals ONCE up front
(math.floor(v*1e4)/1e4 — conservative, never above the true pair-min)
and every comparison is rounded-to-rounded, so sub-0.0001 differences
can neither churn the file nor flip the tighten check inconsistently.
"""
import json
import math
import sys


def floor4(v: float) -> float:
    return math.floor(v * 1e4) / 1e4


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit("usage: update_bands.py <pair_json> <sf_key> [--force]")
    pair_path, sf = sys.argv[1], sys.argv[2]
    force = "--force" in sys.argv[3:]
    with open(pair_path) as f:
        pair = json.load(f)
    with open("BASELINE_BANDS.json") as f:
        bands = json.load(f)
    flagged = set(pair.get("failed", []))
    if (pair.get("subset") or pair.get("only")) and not force:
        sys.exit(
            f"refusing to fold: artifact is flagged subset=True "
            f"(only={pair.get('only')}) — a SPARK_GRAFT_ONLY diagnosis "
            "run has warmer cache/scheduler state; folding it would "
            "permanently over-tighten bands under the min-only "
            "protocol. Bands update only from full-suite pairs.")
    if sf not in bands and not force:
        sys.exit(f"unknown SF key '{sf}' (have: {sorted(bands)}) — a "
                 "typo here would silently seed a bogus band section; "
                 "pass --force to create a genuinely new SF.")
    cur = bands.setdefault(sf, {})
    nproc = pair.get("nproc")
    cur.setdefault("nproc", nproc)
    if nproc is None or nproc != cur["nproc"]:
        sys.exit(
            f"refusing to fold: pair was measured on nproc={nproc} but "
            f"the {sf} bands on nproc={cur['nproc']} — bands from one "
            "host shape are never folded into another's.")
    recorded = len(cur) - 1
    if recorded and len(pair["queries"]) < 0.9 * recorded and not force:
        sys.exit(
            f"refusing to fold: pair covers {len(pair['queries'])} "
            f"queries but {sf} has {recorded} recorded bands — this "
            "looks like a SPARK_GRAFT_ONLY subset run (warmer cache, "
            "deflated times; min-only folding would over-tighten "
            "forever). Bands update only from full-suite pairs; pass "
            "--force only for a first-ever band set.")
    added, tightened = 0, 0
    for q, raw in sorted(pair["queries"].items()):
        if q in flagged:
            print(f"skip {q}: in failed[]")
            continue
        v = floor4(raw)
        old = cur.get(q)
        if old is None:
            cur[q] = v
            added += 1
            print(f"new  {q}: {v:.4f}")
        elif v < floor4(old):
            cur[q] = v
            tightened += 1
            print(f"min  {q}: {old:.4f} -> {v:.4f}")
    with open("BASELINE_BANDS.json", "w") as f:
        json.dump(bands, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"== {sf}: {added} new bands, {tightened} tightened, "
          f"{len(cur) - 1} total")


if __name__ == "__main__":
    main()
