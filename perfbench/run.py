#!/usr/bin/env python3
"""Repository benchmark: builds the engine from source, runs one workload
in a fresh JVM and prints one JSON result line.

    python3 perfbench/run.py --workload coding_session --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads, members and per-layer metric
notes live in perfbench/workloads.json; recorded result fingerprints in
perfbench/fingerprints.json (`--record` rewrites them from the current
code). Everything the run writes stays under .bench_build/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 800
HEAP = "2g"
MB = float(1 << 20)
# per-step rise of a warm pass's wall time over the previous comparable
# pass that counts as drift: the end-to-end bound, since smaller steps are
# within the run-to-run noise the bounds allow for
DRIFT_STEP = 0.25
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# knobs the engine reads that must not leak in from the caller's shell
CLEARED_PREFIX = "SPARK_GRAFT_"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(1)


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles engine + harness with sbt (offline) when sources changed;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(sha256(f).encode())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    lines = open(os.path.join(BUILD, "build.log")).read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def check_data(cfg):
    data = os.path.join(ROOT, cfg["data"]["dir"])
    for name, digest in cfg["data"]["sha256"].items():
        p = os.path.join(data, name)
        if not os.path.isfile(p) or sha256(p) != digest:
            fail(f"data file {p} missing or changed")
    return data


def run_jvm(cp, args, run_dir):
    env = {k: v for k, v in os.environ.items() if not k.startswith(CLEARED_PREFIX)}
    cpus = str(len(os.sched_getaffinity(0)))
    env.update(SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_ARTIFACTS=os.path.join(run_dir, "artifacts"))
    resolved = {k: v for k, v in env.items() if k.startswith(CLEARED_PREFIX)}
    cleared = sorted(k for k in os.environ if k.startswith(CLEARED_PREFIX) and k not in resolved)
    log("env " + json.dumps({"resolved": resolved, "cleared": cleared, "heap": HEAP}))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-cp", cp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "perfbench.Main"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             cwd=run_dir, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    lines = open(log_path, errors="replace").read().splitlines()
    for l in lines:
        if l.startswith("[perfbench]"):
            print(l, file=sys.stderr)
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("benchmark JVM timed out" if code is None else f"benchmark JVM exited with {code}")


def _betacf(a, b, x):
    """Continued fraction for the incomplete beta function (Lentz)."""
    tiny = 1e-300

    def clamp(v):
        return v if abs(v) > tiny else tiny
    c, d = 1.0, 1.0 / clamp(1.0 - (a + b) * x / (a + 1.0))
    h = d
    for m in range(1, 300):
        for aa in (m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m))):
            d = 1.0 / clamp(1.0 + aa * d)
            c = clamp(1.0 + aa / c)
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of
    the order statistics. With 12 warm reads per run it reads several
    calls around the quantile instead of one or two, so it is much less
    noisy than the plain sample quantile."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = (n + 1) * q, (n + 1) * (1.0 - q)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def tail(xs):
    """Latency at the highest percentile that still has at least 10
    samples beyond it, but never below p90: small runs report their p90."""
    if not xs:
        return 0.0, 0.0
    pct = max(90.0, 100.0 * (len(xs) - 10) / len(xs))
    return quantile(xs, pct / 100.0), pct


def measured(raw):
    """Warm passes that count: neither the cold pass nor a settle pass."""
    return [p for p in raw["passes"] if not p["cold"] and not p["settle"]]


def warm_reads(raw):
    warm = {p["pass"] for p in measured(raw)}
    return [c["seconds"] for c in raw["calls"] if c["pass"] in warm and c["kind"] == "read"]


def end_to_end(raw):
    passes = measured(raw)
    reads = warm_reads(raw)
    # per-pass call rate; the median over passes leaves out a pass that a
    # host stall slowed, where a pooled rate would take it in
    rates = [sum(c["pass"] == p["pass"] for c in raw["calls"]) / p["wall_s"] for p in passes]
    log(f"{len(passes)} measured warm passes, rates {json.dumps([round(r, 4) for r in rates])} ops/s; "
        f"{len(reads)} warm reads, sample median {statistics.median(reads):.4f} s; "
        f"cold pass {next(p['wall_s'] for p in raw['passes'] if p['cold']):.3f} s")
    return {
        "setup_s": (raw["setup_s"], "s"),
        "ops_per_s": (statistics.median(rates), "ops/s"),
        "read_p50_s": (quantile(reads, 0.5), "s"),
    }


def drift(raw):
    """Prints every warm pass wall time and flags a rise of more than
    DRIFT_STEP at every step, comparing traced passes only with traced ones
    and untraced only with untraced, settle passes left out. A run needs
    two measured passes of one kind for this: traced runs make two traced
    ones; untraced analytics_mix runs make three; untraced coding_session
    runs make one unless --seconds outlasts a pass."""
    log("warm pass walls " + json.dumps([round(p["wall_s"], 4) for p in raw["passes"] if not p["cold"]]))
    warm = measured(raw)
    for traced in (False, True):
        walls = [p["wall_s"] for p in warm if p["traced"] == traced]
        if len(walls) >= 2 and all(b > a * (1 + DRIFT_STEP) for a, b in zip(walls, walls[1:])):
            kind = "traced" if traced else "untraced"
            log(f"drift: {kind} warm pass wall rose at every step over {len(walls)} passes "
                + json.dumps([round(w, 4) for w in walls]))


def per_layer(raw):
    """Per-layer rollups of the traced warm passes (see workloads.json)."""
    spans = raw["spans"]
    cpus = float(raw["cpus"])
    traced = {p["pass"] for p in measured(raw) if p["traced"]}
    untraced = {p["pass"] for p in measured(raw) if not p["traced"]}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def tree(s):
        out = dict(s["counters"])
        batch = list(s["batch_ms"])
        for k in kids.get(s["id"], []):
            c, b = tree(k)
            for n, v in c.items():
                out[n] = out.get(n, 0.0) + v
            batch += b
        return out, batch

    warm = [s for s in spans if s.get("pass") in traced]
    top = [s for s in warm if s["parent"] == -1]

    def named(name, module=None):
        return [s for s in warm if s["name"] == name and (module is None or s.get("module") == module)]

    def ratio(a, b):
        return a / b if b else 0.0

    def mean(xs):
        return ratio(sum(xs), len(xs))

    def total(ss, k):
        return sum(tree(s)[0].get(k, 0.0) for s in ss)

    def per_op(ss, k, scale=1.0):
        return ratio(total(ss, k) / scale, len(ss))

    def busy(ss):
        return ratio(total(ss, "run_ms"), sum(s["seconds"] for s in ss) * 1000.0 * cpus)

    reads, commits = named("core.read"), named("core.commit")
    calls = named("operators.call")
    mod = {m: named("operators.call", m) for m in ("plans", "functions", "pipeline", "streaming")}
    writes = [c["seconds"] for c in raw["calls"] if c["kind"] == "write" and c["pass"] in untraced | traced]
    streams = mod["streaming"]
    stream_batches = total(streams, "stream_batches")
    batch_ms = [b for s in streams for b in tree(s)[1]]
    graph_build = [s["seconds"] for s in spans if s["name"] == "sources.graph_build"]

    def rate(ps):
        cs = [c for c in raw["calls"] if c["pass"] in ps]
        return ratio(len(cs), sum(c["seconds"] for c in cs))

    return {
        "core.read_s": (mean([s["self_s"] for s in reads]), "s"),
        "core.read_jobs": (per_op(reads, "jobs"), "count"),
        "core.rows_examined_per_row": (ratio(total(reads, "leaf_rows"), total(reads, "rows_returned")), "ratio"),
        "core.commit_s": (mean([s["self_s"] for s in commits]), "s"),
        "core.commit_jobs": (per_op(commits, "jobs"), "count"),
        "core.commit_rows_examined": (per_op(commits, "leaf_rows"), "rows"),
        "core.write_p50_s": (quantile(writes, 0.5), "s"),
        "core.write_tail_s": (tail(writes)[0], "s"),
        "core.lineage_nodes": (mean(raw.get("lineage_nodes", [])), "count"),
        "core.reject_share": (ratio(raw.get("invalid_rejected", 0), raw.get("invalid_offered", 0)), "ratio"),
        "core.block_write_mb": (per_op(top, "block_write_b", MB), "MB"),
        "sources.graph_build_s": (graph_build[0] if graph_build else 0.0, "s"),
        "sources.atom_save_s": (mean([s["seconds"] for s in named("sources.atom_save")]), "s"),
        "sources.atom_load_s": (mean([s["seconds"] for s in named("sources.atom_load")]), "s"),
        "sources.atom_bytes_per_user_byte": (ratio(raw.get("atom_bytes", 0), raw.get("user_bytes", 0)), "ratio"),
        "sources.input_mb": (total(top, "input_b") / MB / max(1, len(traced)), "MB"),
        "operators.build_s": (mean([s["self_s"] for s in named("operators.build")]), "s"),
        "operators.exec_s": (mean([s["self_s"] for s in named("operators.exec")]), "s"),
        "operators.plan_s": (per_op(calls, "plan_ms", 1000.0), "s"),
        "operators.jobs_per_op": (per_op(calls, "jobs"), "count"),
        "operators.stages_per_op": (per_op(calls, "stages"), "count"),
        "operators.tasks_per_op": (per_op(calls, "tasks"), "count"),
        "plans.task_busy_share": (busy(mod["plans"]), "ratio"),
        "plans.shuffle_write_mb": (per_op(mod["plans"], "shuffle_write_b", MB), "MB"),
        "plans.shuffle_read_mb": (per_op(mod["plans"], "shuffle_read_b", MB), "MB"),
        "plans.spill_mb": (per_op(mod["plans"], "spill_b", MB), "MB"),
        "plans.gc_share": (ratio(total(mod["plans"], "gc_ms"), total(mod["plans"], "run_ms")), "ratio"),
        "plans.jobs_per_op": (per_op(mod["plans"], "jobs"), "count"),
        "functions.task_busy_share": (busy(mod["functions"]), "ratio"),
        "functions.shuffle_write_mb": (per_op(mod["functions"], "shuffle_write_b", MB), "MB"),
        "functions.spill_mb": (per_op(mod["functions"], "spill_b", MB), "MB"),
        "functions.input_mb": (per_op(mod["functions"], "input_b", MB), "MB"),
        "pipeline.op_s": (mean([s["seconds"] for s in mod["pipeline"]]), "s"),
        "pipeline.shuffle_write_mb": (per_op(mod["pipeline"], "shuffle_write_b", MB), "MB"),
        "streaming.batches": (per_op(streams, "stream_batches"), "count"),
        "streaming.batch_p50_ms": (quantile(batch_ms, 0.5), "ms"),
        "streaming.plan_ms_per_batch": (ratio(total(streams, "stream_plan_ms"), stream_batches), "ms"),
        "streaming.commit_ms_per_batch": (ratio(total(streams, "stream_commit_ms"), stream_batches), "ms"),
        "streaming.rows_per_s": (
            ratio(total(streams, "stream_rows") * 1000.0, total(streams, "stream_trigger_ms")), "rows/s"),
        "trace.overhead_share": (1.0 - ratio(rate(traced), rate(untraced)), "ratio"),
        "jvm.peak_rss_mb": (raw["peak_rss_mb"], "MB"),
        "run.cold_pass_s": (next(p["wall_s"] for p in raw["passes"] if p["cold"]), "s"),
        "run.read_tail_s": (tail(warm_reads(raw))[0], "s"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the cold pass's result fingerprints into perfbench/fingerprints.json")
    a = ap.parse_args()

    cfg_path = os.path.join(BENCH, "workloads.json")
    if not os.path.isfile(cfg_path):
        fail("perfbench/workloads.json not found")
    cfg = json.load(open(cfg_path))
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload}; one of {sorted(cfg['workloads'])}")
    wl = cfg["workloads"][a.workload]
    cp = build()
    data = check_data(cfg)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "raw.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", run_dir, "--out", out,
            "--record", "1" if a.record else "0"]
    fp_path = os.path.join(BENCH, "fingerprints.json")
    fps = json.load(open(fp_path)) if os.path.exists(fp_path) else {}
    if "members" in wl:
        members = wl["members"]
        args += ["--members", ",".join(f"{n}={m}" for n, m in members.items())]
        if not a.record:
            args += ["--expect", ",".join(f"{n}={fps[n]}" for n in members if n in fps)]
    try:
        run_jvm(cp, args, run_dir)
        raw = json.load(open(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    log("session " + json.dumps({k: raw[k] for k in ("master", "cpus", "spark", "java", "heap_max_mb")}))
    calls = raw["calls"]
    failed = [c for c in calls if not c["ok"]]
    for p in raw["passes"]:
        log(f"pass {p['pass']} call seconds "
            + json.dumps([[c["op"], round(c["seconds"], 4)] for c in calls if c["pass"] == p["pass"]]))
    for c in failed[:20]:
        log(f"FAILED pass {c['pass']} {c['op']}: {c['error']}")
    log(f"output check: {len(calls) - len(failed)}/{len(calls)} calls ok, all checked; "
        f"failed_share {len(failed) / len(calls):.4f}")
    if a.record:
        fps.update(raw.get("fingerprints", {}))
        with open(fp_path, "w") as f:
            json.dump(dict(sorted(fps.items())), f, indent=2)
            f.write("\n")
        log(f"recorded {len(raw.get('fingerprints', {}))} fingerprints")
        return
    drift(raw)
    if a.trace:
        metrics = per_layer(raw)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        trace_path = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(raw["spans"], f)
        log(f"spans written to {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics = end_to_end(raw)
    for name, (v, unit) in metrics.items():
        log(f"{a.workload} {name} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(calls),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
