#!/usr/bin/env python3
"""graft benchmark: one seeded workload per run, every output checked.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
harness with sbt (offline) and caches the classpath under
$CARGO_TARGET_DIR (default .bench_build). Each run then generates its
inputs from the seed under a temp dir in the checkout, starts the JVM
harness (graftbench.Main), checks the outputs (gates against their
DuckDB oracle SQL, intake manifests and canonical CSVs against the
generator), removes the temp dir and prints one JSON line last.
See README.md in this directory for the metrics.
"""
import argparse
import glob
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Per-workload scale; the nominal wall time of one warm pass on a 4-core
# machine, from which a run times max(2, round(--seconds / pass_s))
# passes, so both sides of a comparison time the same work; and the
# untimed warm passes before them. Passes keep getting faster while the
# JIT compiles Spark's driver paths, and timing that slope makes a
# run's result follow the host's speed, so each workload warms until
# its passes are flat: two intake passes, eight of the short training
# passes.
WORKLOADS = {
    "intake_sessions": {"lake_sf": 0.02, "good_kb": (8, 640), "max_file_mb": 1, "pass_s": 3.75, "warm": 2},
    "lake_analytics": {"lake_sf": 0.01, "pass_s": 4.0, "warm": 3},
    "training_data": {"lake_sf": 0.01, "pass_s": 1.9, "warm": 8},
}
JVM_TIMEOUT_S = 160
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
MB = 1 << 20


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, fs in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith((".scala", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile library + harness once per source state; returns the classpath."""
    cp_file, stamp_file = os.path.join(build_dir, "classpath.txt"), os.path.join(build_dir, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS") or "-Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}"
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cp = [ln for ln in lines if ".jar" in ln and ln.count(os.pathsep) > 10 and not ln.startswith("[")]
    if p.returncode != 0 or not cp:
        log(p.stdout[-4000:], p.stderr[-4000:])
        raise SystemExit("build failed")
    log(f"[graftbench] built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


# ------------------------------------------------------------------ checks

def check_gates(res, lake, out_dir):
    """Each gate output against its oracle SQL, by the rule of
    tools/compare.py: same sorted columns, dtypes and row count, and
    equal values after sorting on every column. Returns failing gates."""
    import duckdb
    import pyarrow.parquet as pq
    from gen import TABLES
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
    bad, took = {}, {}
    for name, sql in res["oracle_sql"].items():
        t0 = time.time()
        if not glob.glob(f"{out_dir}/{name}/*.parquet"):
            bad[name] = "no output"
            continue
        s = pq.read_table(f"{out_dir}/{name}").to_pandas()
        d = con.execute(sql).df()
        s, d = s[sorted(s.columns)], d[sorted(d.columns)]
        if list(s.columns) != list(d.columns):
            bad[name] = f"columns {list(s.columns)} != {list(d.columns)}"
        elif any(str(s.dtypes[c]) != str(d.dtypes[c]) for c in s.columns):
            bad[name] = "dtypes differ"
        elif len(s) != len(d):
            bad[name] = f"rows {len(s)} != {len(d)}"
        else:
            cols = list(s.columns)
            s2 = s.sort_values(cols).reset_index(drop=True)
            d2 = d.sort_values(cols).reset_index(drop=True)
            if not s2.equals(d2):
                bad[name] = "values differ"
        took[name] = time.time() - t0
    log("[graftbench] oracle compare s: " + ", ".join(f"{k}={v:.2f}" for k, v in took.items()))
    missing = [g for g in gates_of(res) if g not in res["oracle_sql"]]
    for g in missing:
        bad[g] = "no oracle SQL"
    return bad


def gates_of(res):
    return sorted({o["name"] for p in res["passes"] for o in p["ops"]})


def read_canonical(dest):
    import csv
    header, rows = None, []
    for f in sorted(glob.glob(os.path.join(dest.replace("file://", "", 1), "part-*.csv"))):
        with open(f, encoding="utf-8", newline="") as fh:
            r = list(csv.reader(fh))
        if r:
            header = header or r[0]
            rows += r[1:]
    return header, rows


def check_intake(res, sessions):
    """Every manifest row against the generator; returns failing sessions."""
    from gen import row_hash
    got = {m["session"]: {f["file"]: f for f in m["files"]} for m in res["manifests"]}
    bad = {}
    for s in sessions:
        name = os.path.basename(s["dir"])
        rows = got.get(name, {})
        errs = []
        for e in s["files"]:
            m = rows.get(e["file"])
            if m is None:
                errs.append(f"{e['file']}: missing from manifest")
                continue
            for k in ("accepted", "rows", "cols"):
                if m[k] != e[k]:
                    errs.append(f"{e['file']} ({e['kind']}): {k} {m[k]} != {e[k]}")
            issues = m.get("issues") or []
            if not e["accepted"] and not issues:
                errs.append(f"{e['file']}: rejected without an issue")
            if e["kind"] == "over_cap" and not any("max size" in i for i in issues):
                errs.append(f"{e['file']}: over-cap file lacks the size issue")
            if e["accepted"] and m["accepted"]:
                header, data = read_canonical(m["dest"])
                if header != e["header"]:
                    errs.append(f"{e['file']}: header {header} != {e['header']}")
                elif row_hash(data) != e["hash"]:
                    errs.append(f"{e['file']}: row hash differs")
        if len(rows) != len(s["files"]):
            errs.append(f"manifest has {len(rows)} rows for {len(s['files'])} files")
        if errs:
            bad[name] = "; ".join(errs[:3])
    return bad


# ------------------------------------------------------------------ metrics

def tail(samples, median):
    """The highest whole percentile with at least 10 samples beyond it,
    never below p50; with fewer than 20 samples there is none above the
    median, and the median op time stands in."""
    n = len(samples)
    p = math.floor(100 * (1 - 10 / n)) if n >= 20 else 50
    v = statistics.quantiles(samples, n=100, method="inclusive")[p - 1] if p > 50 else median
    return p, v, sum(1 for x in samples if x > v)


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def end_to_end(res, timed, input_bytes):
    walls = [p["wall_s"] for p in timed]
    samples = [o["wall_s"] for p in timed for o in p["ops"]]
    per_op = {}
    for p in timed:
        for o in p["ops"]:
            per_op.setdefault(o["name"], []).append(o["wall_s"])
    # a typical pass: each op at its median over the timed passes, so a
    # burst of host load that slows one op of one pass cannot move it
    pass_s = sum(statistics.median(v) for v in per_op.values())
    log("[graftbench] per-op median s: " + ", ".join(
        f"{n}={statistics.median(v):.3f}" for n, v in per_op.items()))
    for n in per_op:
        log(f"[graftbench] {n} by pass: " + ", ".join(f"{x:.2f}" for x in per_op[n]))
    log("[graftbench] passes s: " + ", ".join(f"{w:.2f}" for w in walls)
        + f"; session build {res['build_s']:.2f} s, warm passes "
        + ", ".join(f"{w:.2f}" for w in res["warm_passes_s"]))
    # the typical op: the median over ops of each op's median, so one
    # slow execution cannot move it
    op_p50 = statistics.median(statistics.median(v) for v in per_op.values())
    p, tail_v, beyond = tail(samples, op_p50)
    m = {
        "setup_s": (res["build_s"] + res["warm_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (op_p50, "s"),
        "op_tail_s": (tail_v, "s"),
        "op_geomean_s": (geomean([statistics.median(v) for v in per_op.values()]), "s"),
        "input_mb_per_s": (input_bytes / MB / pass_s, "MB/s"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
    }
    print(f"[graftbench] op_tail_s is p{p} of {len(samples)} op samples ({beyond} beyond it); "
          f"{len(timed)} timed passes")
    return m


COUNTERS = ["jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "shuffle_write_bytes",
            "shuffle_read_bytes", "shuffle_fetch_wait_ms", "spill_bytes", "gc_ms", "input_bytes",
            "input_records", "output_bytes", "cache_bytes", "plan_executions", "analysis_ms",
            "optimization_ms", "planning_ms", "driver_gap_ms", "wall_ms"]


def per_layer(res, input_bytes, untraced, traced):
    """Workload-level layer metrics: per traced pass totals, median over
    traced passes; plus the tracing overhead."""
    by_pass = {}
    for o in res["ops"]:
        t = by_pass.setdefault(o["pass"], dict.fromkeys(COUNTERS, 0.0))
        for k in COUNTERS:
            t[k] += o[k]
    n_ops = len(res["passes"][0]["ops"])
    cores = res["cores"]

    def med(f):
        return statistics.median(f(t) for t in by_pass.values())

    m = {
        "session.build_s": (res["build_s"], "s"),
        "session.warm_s": (res["warm_s"], "s"),
        "sources.input_bytes": (med(lambda t: t["input_bytes"]), "bytes"),
        "sources.input_records": (med(lambda t: t["input_records"]), "count"),
        "etl.bytes_written": (med(lambda t: t["output_bytes"]), "bytes"),
        "etl.io_amp": (med(lambda t: (t["input_bytes"] + t["output_bytes"]) / input_bytes), "ratio"),
        "plan.optimization_ms": (med(lambda t: t["optimization_ms"]), "ms"),
        "plan.planning_ms": (med(lambda t: t["planning_ms"]), "ms"),
        "plan.executions": (med(lambda t: t["plan_executions"]), "count"),
        "operators.cache_bytes": (med(lambda t: t["cache_bytes"]), "bytes"),
        "operators.jobs_per_op": (med(lambda t: t["jobs"] / n_ops), "count"),
        "engine.jobs": (med(lambda t: t["jobs"]), "count"),
        "engine.stages": (med(lambda t: t["stages"]), "count"),
        "engine.tasks": (med(lambda t: t["tasks"]), "count"),
        "engine.task_run_ms": (med(lambda t: t["task_run_ms"]), "ms"),
        "engine.task_cpu_ms": (med(lambda t: t["task_cpu_ms"]), "ms"),
        "engine.task_wait_ms": (med(lambda t: t["task_run_ms"] - t["task_cpu_ms"]), "ms"),
        "engine.core_util": (med(lambda t: t["task_run_ms"] / (t["wall_ms"] * cores)), "ratio"),
        "engine.driver_gap_ms": (med(lambda t: t["driver_gap_ms"]), "ms"),
        "engine.shuffle_write_bytes": (med(lambda t: t["shuffle_write_bytes"]), "bytes"),
        "engine.shuffle_read_bytes": (med(lambda t: t["shuffle_read_bytes"]), "bytes"),
        "engine.spill_bytes": (med(lambda t: t["spill_bytes"]), "bytes"),
        "engine.gc_ms": (med(lambda t: t["gc_ms"]), "ms"),
        "trace.overhead_s": (statistics.median(p["wall_s"] for p in traced)
                             - statistics.median(p["wall_s"] for p in untraced), "s"),
    }
    # kept out of the result line: on some workloads these read 0 on
    # every run (no shuffle fetch waits in local mode; gate DataFrames
    # are analysed before their action runs), so they live in the trace
    extra = {"engine.shuffle_fetch_wait_ms": med(lambda t: t["shuffle_fetch_wait_ms"]),
             "plan.analysis_ms": med(lambda t: t["analysis_ms"])}
    return m, extra


def trace_report(res, workload, seed, layer_metrics, extra, out_path):
    """Writes the trace artifact and prints its summary lines."""
    ops = res["ops"]
    # count repeatability: which counts repeat exactly across traced passes
    repeat = {}
    for name in dict.fromkeys(o["name"] for o in ops):
        runs = [o for o in ops if o["name"] == name]
        repeat[name] = {k: sorted({r[k] for r in runs}) for k in
                        ("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes")}
    flagged = {n: {k: v for k, v in c.items() if len(v) > 1} for n, c in repeat.items()}
    flagged = {n: c for n, c in flagged.items() if c}
    sites = {}
    for o in ops:
        for s, c in o["call_sites"].items():
            sites[s] = sites.get(s, 0) + c
    passes = len({o["pass"] for o in ops})
    layers = res.get("layers")
    layer_sum = None
    if layers:
        keys = ("size_check_ms", "sniff_ms", "raw_header_ms", "parse_ms", "xlsx_ms", "write_ms")
        totals = {k: sum(f.get(k, 0.0) for s in layers for f in s["files"]) for k in keys}
        totals["manifest_ms"] = sum(s["manifest_ms"] for s in layers)
        ingest_ms = statistics.median(
            sum(o["wall_ms"] for o in ops if o["pass"] == p) for p in {o["pass"] for o in ops})
        layer_sum = {"per_function_ms": totals, "sum_ms": sum(totals.values()), "ingest_with_ms": ingest_ms}
        print(f"[graftbench] intake layers per pass: sum of public functions "
              f"{layer_sum['sum_ms']:.0f} ms vs ingestWith {ingest_ms:.0f} ms: "
              + ", ".join(f"{k}={v:.0f}" for k, v in totals.items()))
    artifact = {
        "workload": workload, "seed": seed, "cores": res["cores"],
        "per_layer": {k: v[0] for k, v in layer_metrics.items()} | extra,
        "call_sites": dict(sorted(sites.items(), key=lambda kv: -kv[1])),
        "count_repeatability": repeat, "non_repeating": flagged,
        "intake_layers": layers, "intake_layer_sum": layer_sum,
        "ops": ops, "spans": res["spans"],
    }
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(artifact, f)
    top = list(artifact["call_sites"].items())[:6]
    print(f"[graftbench] trace: {len(res['spans'])} spans over {passes} traced passes -> "
          f"{os.path.relpath(out_path, ROOT)}")
    print("[graftbench] jobs by call site (all traced passes): " + "; ".join(f"{s} x{c}" for s, c in top))
    for n, c in flagged.items():
        print(f"[graftbench] count varies across passes: {n} " +
              ", ".join(f"{k}={v}" for k, v in c.items()))
    print(f"[graftbench] {len(repeat) - len(flagged)} of {len(repeat)} ops repeat jobs, tasks "
          f"and shuffle bytes exactly")


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("graftbench: run from a checkout of the graft repository (no library sources found)")
    cfg = WORKLOADS[args.workload]
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(build_dir)

    import gen
    work = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    proc = None
    try:
        g0 = time.time()
        lake = os.path.join(work, "lake")
        sessions = []
        if args.workload == "intake_sessions":
            # uploads are cut from the lake's tables; the gates' lake is not written
            sessions = gen.make_intake(os.path.join(work, "intake"), gen.lake_tables(args.seed, cfg["lake_sf"]),
                                       args.seed, cfg["good_kb"], cfg["max_file_mb"])
        else:
            lake_bytes = gen.make_lake(lake, args.seed, cfg["lake_sf"])
        gen_s = time.time() - g0
        out = os.path.join(work, "result.json")
        for d in ("tmp", "local", "fast"):
            os.makedirs(os.path.join(work, d))
        jvm = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp"]
        jvm += [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        jvm += ["-cp", classpath, "graftbench.Main", "--workload", args.workload,
                "--warm", str(cfg["warm"]), "--passes", str(max(2, round(args.seconds / cfg["pass_s"]))),
                "--trace", str(args.trace),
                "--work", work, "--out", out, "--lake", lake]
        if sessions:
            jvm += ["--intake", os.path.join(work, "intake"), "--max-file-mb", str(cfg["max_file_mb"])]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                   SPARK_GRAFT_FAST_SCRATCH=os.path.join(work, "fast"))
        j0 = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(jvm, cwd=work, env=env, stdout=jlog, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(out):
            log(open(os.path.join(work, "jvm.log"), errors="replace").read()[-6000:])
            raise SystemExit(f"graftbench: JVM exited with {rc}")
        with open(out) as f:
            res = json.load(f)
        j1 = time.time()

        if sessions:
            input_bytes = sum(os.path.getsize(os.path.join(s["dir"], e["file"]))
                              for s in sessions for e in s["files"] if e["kind"] == "ok")
            bad = check_intake(res, sessions)
        else:
            input_bytes = lake_bytes
            bad = check_gates(res, lake, os.path.join(work, "out"))
        log(f"[graftbench] phases: generate {j0 - g0:.1f} s, jvm {j1 - j0:.1f} s, check {time.time() - j1:.1f} s")
        timed = [p for p in res["passes"] if not p["traced"]]
        traced = [p for p in res["passes"] if p["traced"]]
        errors = {o["name"] for p in res["passes"] for o in p["ops"] if o["error"]}
        for w in res["warm_errors"]:
            log(f"[graftbench] warm pass error: {w}")
        for n, why in bad.items():
            log(f"[graftbench] output check failed: {n}: {why}")
        for p in res["passes"]:
            for o in p["ops"]:
                if o["error"]:
                    log(f"[graftbench] op failed: {o['name']}: {o['error']}")
        attempted = sum(len(p["ops"]) for p in res["passes"])
        failed = sum(1 for p in res["passes"] for o in p["ops"] if o["error"] or o["name"] in bad)
        correct = failed == 0 and not bad and not errors and not res["warm_errors"]
        print(f"[graftbench] {args.workload} seed={args.seed}: inputs generated in {gen_s + res['xlsx_gen_s']:.2f} s "
              f"(kept out of setup_s); {len(res['passes'][0]['ops'])} ops per pass; "
              f"input {input_bytes / MB:.2f} MB per pass; failed_frac={failed / max(1, attempted):.4f}")
        if args.trace:
            metrics, extra = per_layer(res, input_bytes, timed, traced)
            trace_path = os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}.json")
            trace_report(res, args.workload, args.seed, metrics, extra, trace_path)
        else:
            metrics = end_to_end(res, timed, input_bytes)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    main()
