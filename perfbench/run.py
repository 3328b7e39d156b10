#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload queries|psx_daily \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (once per source state),
generates the seeded ``psx_daily`` inputs, runs the harness JVM over the
reference tables, checks every output
against DuckDB, and prints as its last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones. The full
run record (environment stamp, every op, set-up repetitions) is kept under
``perfbench/.work/results/``; a traced run also writes its spans there.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# The gate imports the repository's oracle check (tools/check.py).
if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
        not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
    fail(f"no engine sources or tools/check.py under {ROOT}; run from a full checkout")

import gate  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("queries", "psx_daily")
# Scale factor of the engine's reference tables the queries read: the scale
# its DuckDB oracles are checked at. The tables are fixed; the run seed
# orders the ops.
SF = "0.01"
PSX_DAYS = 5       # trading days per simulated history, the first untimed
# Seconds one timed pass takes on the four-core reference host; --seconds
# buys round(seconds / this) passes (at least one; two when traced, as only
# the first pass is traced), so the timed work is fixed for a given --seconds
# on every commit.
NOMINAL_PASS_S = {"queries": 8.0, "psx_daily": 18.0}
HEAP = "3g"
JVM_TIMEOUT_S = 150
STAGES = ("sync", "update_info", "download_historical", "daily_update")
# CPU seconds one host-speed probe (Probe.scala) takes on the four-core
# reference host. The bounded CPU times are scaled by this over the median
# probe that ran beside them, so that they read as seconds on that host
# however much of its cores' speed other guests take.
REF_PROBE_CPU_S = 0.0016


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine's sources and the harness with sbt, unless the
    sources are unchanged since the last build in this checkout."""
    srcs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "build.sbt"),
            os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    stamp = digest(srcs)
    stamp_file = os.path.join(WORK, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                           env=env, stdout=out, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def reference_tables():
    """The engine's reference tables at scale factor SF: the directory
    graft.Bench reads by default, at that scale."""
    with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
        m = re.search(r'getOrElse\(Env\.SfDir, "([^"]+)/sf[0-9.]+"\)', f.read())
    if m is None:
        fail("graft.Bench names no default table directory")
    return f"{m.group(1)}/sf{SF}"


def spark_jars():
    """The Spark jar directory, read from the engine's own build."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if m is None:
        fail("build.sbt names no unmanagedBase for the Spark jars")
    return m.group(1)


def jvm(classes, args, run_dir):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ReservedCodeCacheSize=1g",
        "-XX:-UseDynamicNumberOfCompilerThreads",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", f"{classes}{os.pathsep}{spark_jars()}/*", "perfbench.Harness"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {JVM_TIMEOUT_S} s (log: {log})", 1)
    if r.returncode != 0:
        lines = [l for l in open(log) if " INFO " not in l]
        sys.stderr.write("".join(lines[-40:]))
        fail(f"harness exited with {r.returncode}", 1)


def steal_jiffies():
    """(stolen, total) CPU jiffies of this machine so far, from /proc/stat:
    time the hypervisor gave this machine's CPUs to other guests."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


def git_commit():
    """The checkout's commit, or "none" outside a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def tail_percentile(n):
    """The highest whole percentile with at least ten samples beyond it.
    Below 20 samples that percentile is under the median, so the tail is
    the maximum (100) instead."""
    return math.floor(100 * (n - 10) / n) if n >= 20 else 100


def nearest_rank(sorted_vals, pct):
    return sorted_vals[max(0, math.ceil(pct / 100 * len(sorted_vals)) - 1)]


def timed_ops(rec):
    return [o for o in rec["ops"] if not o.get("prime")]


def setup_wall(s):
    return s["session_s"] + s["warmup_s"] + s["fixture_s"]


def warm_setups(rec):
    return [s for s in rec["setups"] if not s["cold"]]


def op_p50_tail(rec):
    """Median and tail of the untraced op times, and the tail percentile."""
    times = sorted(o["s"] for o in timed_ops(rec) if not o["traced"])
    pct = tail_percentile(len(times))
    return statistics.median(times), nearest_rank(times, pct), pct, len(times)


def pass_wall(rec):
    return statistics.median(p["wall_s"] for p in rec["passes"] if not p["traced"])


def host_scale(rec, probe):
    """The reference host's probe CPU time over the median of one of this
    run's probes (``fixed`` or ``setup``)."""
    return REF_PROBE_CPU_S / statistics.median(rec[f"{probe}_probe_cpu_s"])


def end_to_end(rec):
    warm = warm_setups(rec)
    untraced = [p for p in rec["passes"] if not p["traced"]]
    m = {"setup_s": (statistics.median(s["cpu_s"] - s["jit_cpu_s"] for s in warm)
                     * host_scale(rec, "setup"), "s"),
         "cpu_s": (rec["fixed_cpu_s"] * host_scale(rec, "fixed"), "s"),
         "heap_live_mb": (rec["heap_live_mb"], "MB")}
    p50, tail, pct, n = op_p50_tail(rec)
    return m, (f"wall_s: {pass_wall(rec):.4f}; pass_cpu_s: "
               f"{statistics.median(p['cpu_s'] for p in untraced):.4f}; "
               f"pass_jit_cpu_s: {statistics.median(p['jit_cpu_s'] for p in untraced):.4f}; "
               f"setup_wall_s: {statistics.median(setup_wall(s) for s in warm):.4f}; "
               f"host_probe_ms: {1e3 * REF_PROBE_CPU_S / host_scale(rec, 'fixed'):.4f}; "
               f"op_p50_s: {p50:.4f}; op_tail_s: {tail:.4f} (p{pct} of {n} ops)")


def per_layer(rec, psx_stats, gen_stats):
    traced = [o for o in timed_ops(rec) if o["traced"]]
    n_pass = max(1, len({o["pass"] for o in traced}))
    m = {}

    def put(name, total, unit):
        m[name] = (total / n_pass, unit)

    def part(o, k):
        return o["parts"].get(k, 0.0)

    def count(o, span, k):
        return o["counts"].get(span, {}).get(k, 0)

    def all_spans(o, k):
        return sum(c.get(k, 0) for c in o["counts"].values())

    put("build.s", sum(part(o, "build") for o in traced), "s")
    put("build.jobs", sum(count(o, "build", "jobs") for o in traced), "count")
    put("build.driver_bytes", sum(count(o, "build", "result_bytes") for o in traced), "B")
    put("plan.s", sum(part(o, "plan") for o in traced), "s")
    put("exec.s", sum(part(o, "exec") for o in traced), "s")
    for k in ("jobs", "stages", "tasks"):
        put(f"exec.{k}", sum(count(o, "exec", k) for o in traced), "count")
    put("shuffle.read_bytes", sum(all_spans(o, "shuffle_read_bytes") for o in traced), "B")
    put("shuffle.write_bytes", sum(all_spans(o, "shuffle_write_bytes") for o in traced), "B")
    put("spill.bytes", sum(all_spans(o, "spill_bytes") for o in traced), "B")
    put("sql.actions", sum(all_spans(o, "sql_actions") for o in traced), "count")
    busy = sum(all_spans(o, "busy_s") for o in traced)
    put("task.busy_s", busy, "s")
    wall_cores = sum(o["s"] * o["cpus"] for o in traced)
    m["cores.busy_share"] = (busy / wall_cores if wall_cores else 0.0, "share")
    put("task.sched_delay_s", sum(all_spans(o, "sched_delay_s") for o in traced), "s")
    put("gc.s", sum(o["gc_s"] for o in traced), "s")
    put("caches.release_s", sum(part(o, "release") for o in traced), "s")
    last = traced[-1] if traced else {}
    m["caches.pinned_end"] = (last.get("pinned_end", 0), "count")
    m["rdds.persistent_end"] = (last.get("persistent_end", 0), "count")
    put("residual.s", sum(o["s"] - sum(o["parts"].values()) for o in traced), "s")
    p50, tail, _, _ = op_p50_tail(rec)
    m["pass.wall_s"] = (pass_wall(rec), "s")
    untraced = [p for p in rec["passes"] if not p["traced"]]
    m["pass.cpu_s"] = (statistics.median(p["cpu_s"] for p in untraced), "s")
    m["jit.cpu_s"] = (statistics.median(p["jit_cpu_s"] for p in untraced), "s")
    m["host.probe_ms"] = (1e3 * REF_PROBE_CPU_S / host_scale(rec, "fixed"), "ms")
    m["op.p50_s"] = (p50, "s")
    m["op.tail_s"] = (tail, "s")
    for st in STAGES:
        put(f"stage.{st}.s", sum(part(o, f"stage.{st}") for o in traced), "s")
        put(f"stage.{st}.jobs", sum(count(o, f"stage.{st}", "jobs") for o in traced), "count")
    for k in ("session_s", "warmup_s", "fixture_s"):
        m[f"setup.{k}"] = (statistics.median(s[k] for s in warm_setups(rec)), "s")
    cold = [s for s in rec["setups"] if s["cold"]][0]
    m["setup.cold_s"] = (setup_wall(cold), "s")
    primed = [o["s"] for o in rec["ops"] if o.get("prime")]
    m["setup.prime_s"] = (statistics.median(primed) if primed else rec["prime_s"], "s")
    walls = {t: [p["wall_s"] for p in rec["passes"] if p["traced"] == t] for t in (True, False)}
    m["trace.overhead_s"] = (statistics.median(walls[True]) - statistics.median(walls[False])
                             if walls[True] and walls[False] else 0.0, "s")
    keys = ("store.files", "store.bytes", "ohlc.files", "ckpt.files",
            "append.rows_landed", "append.rows_stored", "append.useful_share")
    for k in keys:
        m[k] = (statistics.median(s[k] for s in psx_stats) if psx_stats else 0,
                "share" if k.endswith("share") else "B" if k.endswith("bytes") else "count")
    m["store.bytes_per_input_byte"] = (
        statistics.median(s["written_bytes"] for s in psx_stats) / gen_stats["input_bytes"]
        if psx_stats else 0.0, "B/B")
    return m


def self_test_query(tables_dir, verify_dir, oracles, passed):
    """The gate must report a deliberately wrong result as failed: drop
    the last row of one checked output and compare it again."""
    con = gate.tables_connection(tables_dir)
    for n in passed:
        if n not in oracles:
            continue
        got = con.execute(f"SELECT * FROM '{verify_dir}/{n}/*.parquet'").arrow()
        if got.num_rows == 0:
            continue
        causes = gate.compare(got.slice(0, got.num_rows - 1), con.execute(oracles[n]).arrow())
        return bool(causes), f"{n} with its last row dropped: {causes[:1]}"
    return False, "no non-empty oracle-checked output to corrupt"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    tables_dir = reference_tables()
    if not os.path.isfile(os.path.join(tables_dir, "lineitem.parquet")):
        fail(f"no reference tables in {tables_dir}")
    os.makedirs(WORK, exist_ok=True)
    classes = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "record.json")
    passes = max(2 if a.trace else 1, round(a.seconds / NOMINAL_PASS_S[a.workload]))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
            "--trace", str(a.trace), "--tables", tables_dir, "--work", run_dir, "--out", out]
    gen_stats = None
    if a.workload == "psx_daily":
        gdir = os.path.join(run_dir, "psx_gen")
        gen_stats = gen.write_psx_days(gdir, a.seed, PSX_DAYS)
        args += ["--psx-gen", gdir, "--psx-days", str(PSX_DAYS)]
    steal0 = steal_jiffies()
    jvm(classes, args, run_dir)
    steal1 = steal_jiffies()
    with open(out) as f:
        rec = json.load(f)

    # Correctness gate (untimed).
    failures = {}
    for o in rec["ops"]:
        if not o["ok"]:
            failures.setdefault(o["op"], []).append(o["error"])
    psx_stats = []
    if a.workload == "psx_daily":
        for d in rec["psx_dirs"]:
            for c in gate.check_psx(d, gdir):
                failures.setdefault(os.path.basename(d), []).append(c)
            psx_stats.append(gate.psx_store_stats(d))
        wrong = os.path.join(run_dir, "selftest_gen")
        shutil.copytree(gdir, wrong)
        with open(os.path.join(wrong, "final_universe.json"), "w") as f:
            json.dump(json.load(open(os.path.join(gdir, "final_universe.json")))[1:], f)
        causes = gate.check_psx(rec["psx_dirs"][0], wrong)
        caught, what = bool(causes), f"snapshot check against a universe missing one row: {causes[:1]}"
    else:
        names = sorted({o["op"] for o in rec["ops"]})
        res = gate.check_queries(tables_dir, rec["verify_dir"], names, rec["oracles"],
                                  rec["verify_errors"])
        for n, causes in res.items():
            if causes:
                failures.setdefault(n, []).extend(causes)
        caught, what = self_test_query(tables_dir, rec["verify_dir"], rec["oracles"],
                                       [n for n in names if not res[n]])
    print(f"self-test: {'wrong result reported as failed' if caught else 'WRONG RESULT NOT CAUGHT'}"
          f" ({what})")
    for name, causes in sorted(failures.items()):
        print(f"FAILED {name}: {causes[0]}")
    timed = timed_ops(rec)
    failed = sum(1 for o in timed if o["op"] in failures or not o["ok"])
    if a.workload == "psx_daily" and any(os.path.basename(d) in failures for d in rec["psx_dirs"]):
        failed = len(timed)  # a wrong history fails every day that built it

    if a.trace:
        metrics, info = per_layer(rec, psx_stats, gen_stats), "per-layer metrics, per traced pass"
    else:
        metrics, info = end_to_end(rec)
    env = rec["env"]
    env["sources"] = digest([os.path.join(ROOT, "src", "main", "scala")])
    env["git_commit"] = git_commit()
    env["steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    rec["result"] = {"failures": failures, "self_test": what, "gen": gen_stats,
                     "psx_stats": psx_stats, "metrics": metrics}
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(res_dir, name + ".json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    if a.trace:
        shutil.copy(os.path.join(run_dir, "trace", "spans.jsonl"),
                    os.path.join(res_dir, name + ".spans.jsonl"))
    print(f"env: nproc={env['nproc']} heap_max_mb={env['heap_max_mb']} jdk={env['jdk']} "
          f"spark={env['spark']} commit={env['git_commit']} sources={env['sources'][:12]} "
          f"cpu_steal_share={env['steal_share']:.3f}")
    if gen_stats:
        print("inputs: " + json.dumps({k: gen_stats[k] for k in
              ("input_bytes", "redelivery_share", "late_share")}))
    print(f"failed_share: {failed / max(1, len(timed)):.4f}; {info}")
    print(json.dumps({"correct": caught and not failures, "attempted": len(timed),
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
