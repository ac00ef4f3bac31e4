#!/usr/bin/env python3
"""Layer-split benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One closed-loop client: a single driver
thread runs the workload's gates (`SparkEntry.queries`) back to back, each
result materialized to the `noop` sink on `local[nproc]`, pass order a
permutation chosen by the seed. The first call builds the program and the
benchmark harness with sbt (cached under perfbench/.work).

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. A full report (host and provenance
block, per-gate figures, plan fingerprints, spans) is written under
perfbench/.work/reports; `compare.py` diffs two of them.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
JVM_TIMEOUT_S = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no program sources at {os.path.join(ROOT, need)}: "
                "run from the root of a full checkout")
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    cur = source_stamp()
    if os.path.exists(cp_file) and open(stamp).read() == cur:
        return open(cp_file).read()
    log("building program and harness with sbt")
    # offline, resolving only from the local caches; sbt's own state stays
    # in the checkout
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={os.path.join(WORK, 'sbt')}",
         f"-Dsbt.ivy.home={os.path.join(WORK, 'ivy2')}",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp, "w").write(cur)
    return cp


def java_cmd(cp, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    return (["java", *opens, "-Xmx3g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
             "-Dspark.ui.enabled=false", "-cp", cp, main] + args)


def jvm_env():
    scratch = os.path.join(WORK, "scratch")
    os.makedirs(scratch, exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    # gates that stage files do it under GRAFT_SCRATCH_DIR
    return dict(os.environ, GRAFT_SCRATCH_DIR=scratch,
                SPARK_GRAFT_CPUS=str(os.cpu_count()))


def run_jvm(cp, main, args, timeout):
    try:
        p = subprocess.run(java_cmd(cp, main, args), cwd=ROOT, env=jvm_env(),
                           stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        die(f"{main} {' '.join(args[:1])} did not finish within {timeout} s")
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        die(f"{main} {' '.join(args[:1])} exited with {p.returncode}")
    return p.stdout


# ---------------------------------------------------------------- inputs

def table_digests(data_dir):
    """Per-table row count and order-insensitive content hash (DuckDB)."""
    import duckdb
    con = duckdb.connect()
    out = {}
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        n, h = con.execute(
            "SELECT count(*), coalesce(sum(hash(t)), 0)::VARCHAR "
            f"FROM read_parquet('{src}') t").fetchone()
        out[name] = {"rows": n, "hash": h}
    return out


def build_replica(cp, name):
    """(Re)build a replica data set with graft.ScaleUp; return its path."""
    spec = SPEC["datasets"][name]
    d = os.path.join(WORK, "data", name)
    src = os.path.join(HERE, SPEC["datasets"][spec["scaleup_of"]]["committed"])
    log(f"building replica {name}: graft.ScaleUp x{spec['copies']}")
    shutil.rmtree(d, ignore_errors=True)
    run_jvm(cp, "graft.ScaleUp", [src, d, str(spec["copies"])], 600)
    open(os.path.join(d, "_READY"), "w").close()
    return d


def dataset_dir(cp, name):
    """Directory of a pinned input data set, built first if it is a missing
    replica; aborts unless its row counts and content match the pinned
    ones."""
    spec = SPEC["datasets"][name]
    if "committed" in spec:
        d = os.path.join(HERE, spec["committed"])
    else:
        d = os.path.join(WORK, "data", name)
        if not os.path.exists(os.path.join(d, "_READY")):
            build_replica(cp, name)
    got = table_digests(d)
    if got != spec["tables"]:
        bad = sorted(t for t in set(got) | set(spec["tables"])
                     if got.get(t) != spec["tables"].get(t))
        die(f"input {name} does not match its pinned row counts/digests: {bad}")
    return d


# ---------------------------------------------------------------- metrics

def med(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """Highest whole percentile with at least ten samples beyond it
    (nearest rank)."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None, None
    pct = math.floor(100 * (n - 10) / n)
    while pct > 0 and n - math.ceil(pct / 100 * n) < 10:
        pct -= 1
    return xs[math.ceil(pct / 100 * n) - 1], pct


def attribute(calls, jobs):
    """(call id, phase) of every job: by the job group the harness set,
    else by which phase of which call its start time falls in."""
    spans = sorted((c["ms"][0], c["ms"][3], c) for c in calls)
    out = []
    for j in jobs:
        g = j.get("group") or ""
        cid, _, phase = g.partition("|")
        if phase in ("construct", "plan", "exec") and cid.isdigit():
            out.append((int(cid), phase, j))
            continue
        hit = (None, "other")
        for a, b, c in spans:
            if a <= j["start"] <= b:
                m = c["ms"]
                hit = (c["id"], "construct" if j["start"] < m[1]
                       else "plan" if j["start"] < m[2] else "exec")
                break
        out.append((hit[0], hit[1], j))
    return out


def covered_ms(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of intervals."""
    iv = sorted((max(lo, a), min(hi, b)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


LAYER_UNITS = {
    "construct.s": "s", "construct.jobs": "count", "construct.driver_self_s": "s",
    "plan.s": "s", "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s", "exec.s": "s", "exec.jobs": "count",
    "exec.tasks": "count", "exec.busy_cores": "cores", "exec.cpu_frac": "ratio",
    "exec.input_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.exchanges": "count",
    "exec.spill_mb": "MB", "exec.peak_task_mem_mb": "MB", "exec.gc_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "session.leaked_rdds": "count",
}


def layer_metrics(res):
    """Per-layer figures of each traced warm pass, then their medians."""
    per_pass = []
    for p in res["passes"]:
        if p["kind"] != "warm" or not p["traced"]:
            continue
        calls = [c for c in res["calls"] if c["pass"] == p["pass"]]
        jobs = attribute(calls, [j for j in res["jobs"] if j["pass"] == p["pass"]])
        by_call = {}
        for cid, phase, j in jobs:
            by_call.setdefault((cid, phase), []).append(j)
        ej = [j for _, ph, j in jobs if ph == "exec"]
        cj = [j for _, ph, j in jobs if ph == "construct"]
        exec_s = sum(c["exec_s"] for c in calls)
        run_ms = sum(j["run_ms"] for j in ej)
        self_s = 0.0
        for c in calls:
            lo, hi = c["ms"][0], c["ms"][1]
            ivs = [(j["start"], j["end"]) for j in by_call.get((c["id"], "construct"), [])]
            self_s += (hi - lo - covered_ms(lo, hi, ivs)) / 1e3
        ph = lambda k: sum(c["phases"].get(k, 0.0) for c in calls)
        per_pass.append({
            "construct.s": sum(c["construct_s"] for c in calls),
            "construct.jobs": len(cj),
            "construct.driver_self_s": self_s,
            "plan.s": sum(c["plan_s"] for c in calls),
            "plan.analysis_s": ph("analysis"),
            "plan.optimization_s": ph("optimization"),
            "plan.planning_s": ph("planning"),
            "exec.s": exec_s,
            "exec.jobs": len(ej),
            "exec.tasks": sum(j["tasks"] for j in ej),
            "exec.busy_cores": run_ms / 1e3 / exec_s if exec_s else 0.0,
            "exec.cpu_frac": (sum(j["cpu_ns"] for j in ej) / 1e6 / run_ms) if run_ms else 0.0,
            "exec.input_mb": sum(j["input_b"] for j in ej) / 1e6,
            "exec.shuffle_write_mb": sum(j["shuffle_write_b"] for j in ej) / 1e6,
            "exec.exchanges": sum(c["exchanges"] or 0 for c in calls),
            "exec.spill_mb": sum(j["spill_b"] for j in ej) / 1e6,
            "exec.peak_task_mem_mb": max([j["peak_mem_b"] for j in ej] or [0]) / 1e6,
            "exec.gc_s": sum(j["gc_ms"] for j in ej) / 1e3,
            "jvm.gc_s": p["jvm_gc_s"],
            "jvm.heap_peak_mb": p["heap_peak_mb"],
            "session.leaked_rdds": sum(c["leaked_rdds"] for c in calls),
        })
    if not per_pass:
        return {}
    return {k: med([pp[k] for pp in per_pass]) for k in per_pass[0]}


def spans(res):
    """gate -> construct / plan / exec -> jobs; one id per gate call."""
    out = []
    for c in res["calls"]:
        gid = f"g{c['id']}"
        m = c["ms"]
        out.append({"id": gid, "parent": None, "name": c["gate"], "pass": c["pass"],
                    "start_ms": m[0], "end_ms": m[3], "ok": c["ok"]})
        for i, ph in enumerate(("construct", "plan", "exec")):
            out.append({"id": f"{gid}.{ph}", "parent": gid, "name": ph,
                        "start_ms": m[i], "end_ms": m[i + 1]})
    for cid, phase, j in attribute(res["calls"], res["jobs"]):
        out.append({"id": f"j{j['job']}", "name": "job",
                    "parent": f"g{cid}.{phase}" if cid else None,
                    "start_ms": j["start"], "end_ms": j["end"],
                    "ok": j["ok"], "tasks": j["tasks"], "run_ms": j["run_ms"]})
    return out


# ---------------------------------------------------------------- main

def host_block(args, res, load0):
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True).stdout.strip() or None
    except OSError:
        head = None
    jv = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": res.get("nproc", os.cpu_count()),
        "max_heap_mb": res.get("max_heap_mb"),
        "spark_version": res.get("spark_version"),
        "java_version": (jv.splitlines() or [""])[0],
        "git_head": head,
        "seed": args.seed, "workload": args.workload, "traced": bool(args.trace),
        "seconds": args.seconds,
        "load_1m_start": load0, "load_1m_end": os.getloadavg()[0],
        "platform": platform.platform(),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    load0 = os.getloadavg()[0]
    wl = SPEC["workloads"][args.workload]

    cp = build()
    data = dataset_dir(cp, wl["dataset"])
    for d in ("out", "reports", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    out = os.path.join(WORK, "out", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}.json")
    t0 = time.time()
    run_jvm(cp, "perfbench.Harness", [
        "mode=run", f"data={data}", f"gates={','.join(wl['gates'])}",
        f"seed={args.seed}", f"seconds={args.seconds}", f"trace={args.trace}",
        f"kernels={','.join(sorted(SPEC['kernels']))}",
        f"out={out}", f"work={WORK}"], JVM_TIMEOUT_S)
    res = json.load(open(out))
    os.remove(out)
    setup = [res["ready_ms"] / 1e3 - t0] + res["setup_again_s"]

    # output check: every gate call that threw, and every verify-pass
    # digest that differs from the pinned one, is a failure
    pinned = SPEC["digests"].get(wl["dataset"], {})
    failures = [{"gate": c["gate"], "pass": c["pass"], "reason": c["error"]}
                for c in res["calls"] if not c["ok"]]
    for g, d in sorted(res["digests"].items()):
        if d != pinned.get(g):
            failures.append({"gate": g, "pass": "verify",
                             "reason": f"digest {d} != pinned {pinned.get(g)}"})
    attempted = len(res["calls"]) + len(res["digests"])
    for f in failures:
        log(f"FAILED {f['gate']} ({f['pass']}): {f['reason']}")

    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    timed = [p for p in warm if not p["traced"]]
    warm_ids = {p["pass"] for p in timed}
    gate_s = [c["s"] for c in res["calls"] if c["ok"] and c["pass"] in warm_ids]
    tail_v, tail_pct = tail(gate_s)
    e2e = {
        "setup_s": (med(setup), "s"),
        "cold_pass_s": (res["passes"][0]["s"], "s"),
        "pass_s": (med([p["s"] for p in timed]), "s"),
        "gate_s_p50": (med(gate_s), "s"),
        "gate_s_tail": (tail_v, "s"),
    }
    layer = {}
    if args.trace:
        traced = [p["s"] for p in warm if p["traced"]]
        layer = {k: (v, LAYER_UNITS[k]) for k, v in layer_metrics(res).items()}
        layer["setup.session_s"] = (res["session_s"], "s")
        layer["setup.warmup_s"] = (res["warmup_s"], "s")
        layer["trace.overhead_frac"] = (med(traced) / med([p["s"] for p in timed]) - 1, "ratio")
        for k, v in res["kernels"]["ns_per_row"].items():
            layer[f"kernels.{k}.ns_per_row"] = (v, "ns")
    shown = layer if args.trace else e2e
    missing = [k for k, (v, _) in shown.items() if v is None]
    if missing:
        die(f"no value for {missing}: the run was too short")

    per_gate = {}
    for c in res["calls"]:
        if c["ok"] and c["pass"] in warm_ids | {p["pass"] for p in warm}:
            per_gate.setdefault(c["gate"], []).append(c["s"])
    report = {
        "host": host_block(args, res, load0),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **layer}.items()},
        "samples": {"setup_s": setup, "warm_passes": len(timed),
                    "gate_calls": len(gate_s), "gate_s_tail_percentile": tail_pct},
        "gates": {g: {"s_p50": med(v), "n": len(v), "s": v} for g, v in sorted(per_gate.items())},
        "plan_fingerprints": {c["gate"]: {"fp": c["plan_fp"], "exchanges": c["exchanges"]}
                              for c in res["calls"] if c.get("plan_fp")},
        "digests": res["digests"], "failures": failures,
        "kernels": res["kernels"], "passes": res["passes"],
        "spans": spans(res) if args.trace else [],
    }
    path = os.path.join(WORK, "reports",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    log(f"report: {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))


if __name__ == "__main__":
    main()
