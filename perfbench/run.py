#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload retain_train --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed (perfbench/gen.py), starts one engine JVM that sets
up, measures the workload for --seconds and writes its results, checks
every output (DuckDB oracles, RETAIN artifact invariants), deletes
everything it created, and prints the metrics. The last line of standard
output is one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). Exit code 0 only when every check passed.

Workloads, metrics and the layer map: perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD_DIR = os.path.join(REPO, ".bench_build")
WORK_ROOT = os.path.join(REPO, ".bench_work")
TRACE_DIR = os.path.join(REPO, ".bench_traces")
# Engine-owned tmpfs roots: GraftSession's spark.local.dir (Spark deletes
# its own dirs there when a session stops cleanly) and Streaming's staging
# copies, one per input dir, named after the dir's path and never evicted.
LOCAL_ROOT = "/dev/shm/graft-local"
STAGING_ROOT = "/dev/shm/graft-io"
DRIVER_MEM = "4g"
# Engine knobs that change behaviour: the benchmark runs the defaults.
UNSET_ENV = ["SPARK_GRAFT_STREAM_DRAIN", "SPARK_GRAFT_STATE_STORE",
             "SPARK_GRAFT_SHUFFLE_PARTITIONS", "GRAFT_STREAM_PARTITIONS",
             "SPARK_GRAFT_STRICT_GUARDS", "SPARK_LOCAL_DIRS"]

# Input sizes per workload (gen.py scales row counts like the testdata
# rungs: sf 0.1 = 600k lineitem rows, 1 500 users, 100k events).
WORKLOADS = {
    # events only, users well above sf0.1's 1 500 (66.7 events each), and
    # a small separate input for the JIT warm-up
    "retain_train": {"users": 4500, "warmup_users": 300},
    # a base warehouse at sf 0.01 plus one new events batch per cycle:
    # three warm-up cycles, then as many measured cycles as the run's time
    # takes, at least four
    "ingest_refresh": {"sf": 0.01, "cycles": 10},
}

E2E = [("setup_s", "s"), ("op_p50_s", "s"), ("round_s", "s"), ("heap_retained_mb", "MB")]
# Workload-level figures, printed by every run as `[metric]` lines and
# carried in the traced run's metrics beside the per-layer ones (0 on a
# workload they do not apply to).
NAMED = [("bmatrix_s", "s"), ("train_full_s", "s"), ("score_rows_per_s", "rows/s"),
         ("refresh_p50_s", "s"), ("refresh_p90_s", "s"), ("ingest_events_per_s", "events/s"),
         ("op_p90_s", "s"), ("peak_rss_mb", "MB"), ("jit_warmup_s", "s")]

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(REPO, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the driver; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building engine and driver with sbt ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"[perfbench] build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"[perfbench] build done in {time.time() - t0:.1f} s")
    return cp


# ------------------------------------------------------------------ inputs

def print_rows(label, tables):
    for t, (rows, digest) in tables.items():
        log(f"[gen] {label} {t:<11} {rows:>9} rows  sha256 {digest[:16]}")


def make_inputs(workload, seed, work):
    """Generate the run's inputs; returns the JVM arguments naming them."""
    cfg = WORKLOADS[workload]
    inp = os.path.join(work, "input")
    if workload == "retain_train":
        tabs = gen.generate(seed, inp, sf=0, tables=["events"], users=cfg["users"])
        print_rows("input", tabs)
        users = gen.distinct_users(os.path.join(inp, "events.parquet"))
        warm = os.path.join(work, "warmup")
        gen.generate(seed, warm, sf=0, tables=["events"], users=cfg["warmup_users"], events_part=1)
        return ["--input", inp, "--users", str(users), "--warmup", warm]
    tabs = gen.generate(seed, inp, sf=cfg["sf"])
    print_rows("input", tabs)
    args = ["--input", inp]
    if workload == "ingest_refresh":
        batches = os.path.join(work, "batches")
        events = 0
        for c in range(cfg["cycles"]):
            d = os.path.join(batches, f"c{c:03d}")
            os.makedirs(d)
            for t in gen.TABLES:
                if t != "events":
                    os.link(os.path.join(inp, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
            tabs = gen.generate(seed, d, sf=cfg["sf"], tables=["events"], events_part=c + 1)
            print_rows(f"batch c{c:03d}", tabs)
            events = tabs["events"][0]
        args += ["--batches", batches, "--landing", os.path.join(work, "landing"),
                 "--events", str(events)]
    return args


# ------------------------------------------------------------------ checks

def oracle_check(dumps, results_dir):
    """Each dumped query against its oracle SQL in DuckDB over the same
    input, with scripts/check_oracle.py's normalization. Returns
    {query: (ok, rows, detail)}."""
    import duckdb
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from check_oracle import TABLES, norm
    out = {}
    cons = {}
    for d in dumps:
        q, inp, sql = d["query"], d["dir"], d["oracle"]
        if not sql:
            continue
        try:
            con = cons.get(inp)
            if con is None:
                con = cons[inp] = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inp}/{t}.parquet'")
            odf = con.execute(sql).fetchdf()
            sdf = duckdb.sql(f"SELECT * FROM '{results_dir}/{q}/*.parquet'").fetchdf()
        except Exception as e:  # an oracle or result that cannot be read fails the query
            out[q] = (False, -1, str(e).splitlines()[-1][:200] if str(e) else repr(e))
            continue
        ocols, scols = sorted(odf.columns), sorted(sdf.columns)
        if ocols != scols:
            out[q] = (False, len(sdf), f"schema {scols} vs oracle {ocols}")
            continue
        key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
        orows = sorted((tuple(norm(v) for v in r) for r in odf[ocols].itertuples(index=False)), key=key)
        srows = sorted((tuple(norm(v) for v in r) for r in sdf[scols].itertuples(index=False)), key=key)
        if orows != srows:
            bad = next((i for i, (a, b) in enumerate(zip(orows, srows)) if a != b), min(len(orows), len(srows)))
            out[q] = (False, len(srows), f"rows {len(srows)} vs oracle {len(orows)}, first diff at {bad}")
            continue
        out[q] = (True, len(srows), "")
    return out


# ------------------------------------------------------------------ run

def snapshot_shared():
    return {r: set(os.listdir(r)) if os.path.isdir(r) else None
            for r in (LOCAL_ROOT, STAGING_ROOT)}


def clean_shared(before, work, jvm_ok):
    """Delete what this run left under the engine's tmpfs roots: the
    staging copies of its own input dirs, and after a failed JVM the
    Spark dirs that a clean stop would have deleted; then each root if
    the run created it and left it empty."""
    def rm(p):
        shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    marker = "".join(c if c.isalnum() or c == "." else "_" for c in work)
    if os.path.isdir(STAGING_ROOT):
        for name in os.listdir(STAGING_ROOT):
            if name.startswith(marker + "_"):
                rm(os.path.join(STAGING_ROOT, name))
    if not jvm_ok and os.path.isdir(LOCAL_ROOT):
        for name in set(os.listdir(LOCAL_ROOT)) - (before[LOCAL_ROOT] or set()):
            rm(os.path.join(LOCAL_ROOT, name))
    for r, had in before.items():
        if had is None and os.path.isdir(r) and not os.listdir(r):
            os.rmdir(r)


def jvm_command(cp, work, args):
    cpu = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if k not in UNSET_ENV}
    env.update(SPARK_GRAFT_CPUS=str(cpu), SPARK_DRIVER_MEM=DRIVER_MEM)
    argfile = os.path.join(work, "jvm.args")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(argfile, "w") as f:
        f.write("\n".join(JVM_OPENS + [
            f"-Xmx{DRIVER_MEM}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp]) + "\n")
    return ["java", f"@{argfile}", "perfbench.Main"] + args, env


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] engine sources (src/main/scala/graft) not found: "
                         "run from the root of a full checkout")
    cp = build()

    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    shared = snapshot_shared()
    jvm_ok = False
    try:
        args = make_inputs(a.workload, a.seed, work)
        out = os.path.join(work, "result.json")
        args += ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", work, "--out", out]
        if a.trace:
            os.makedirs(TRACE_DIR, exist_ok=True)
            spans = os.path.join(TRACE_DIR, f"{a.workload}-seed{a.seed}.spans.jsonl")
            args += ["--spans", spans]
        cmd, env = jvm_command(cp, work, args)
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as lf:
            p = subprocess.run(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
        jvm_ok = p.returncode == 0
        if p.returncode != 0 or not os.path.isfile(out):
            with open(jvm_log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            raise SystemExit(f"[perfbench] engine run failed (exit {p.returncode})")
        with open(out) as f:
            res = json.load(f)
        code = report(a, res, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        clean_shared(shared, work, jvm_ok)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
    sys.exit(code)


def report(a, res, work):
    ops = res["ops"]
    oracle = oracle_check(res["dumps"], os.path.join(work, "results"))
    failed_checks = [c for c in res["checks"] if c["ok"] != True]  # noqa: E712
    for q, (ok, rows, detail) in sorted(oracle.items()):
        log(f"[oracle] {'ok  ' if ok else 'FAIL'} {q} ({rows} rows) {detail}")
    for c in failed_checks:
        log(f"[check] FAIL {c['name']}: {c['detail']}")
    # an op fails when it threw, when its query mismatched its oracle, or
    # when its row count differs from the verified result's
    failed = 0
    for o in ops:
        ok = o["ok"]
        if o["name"] in oracle:
            qok, rows, _ = oracle[o["name"]]
            ok = ok and qok and (o["rows"] < 0 or o["rows"] == rows)
        if not ok:
            failed += 1
            log(f"[op] FAIL {o['name']}: {o['error']}")
    attempted = len(ops)
    correct = failed == 0 and not failed_checks and all(v[0] for v in oracle.values())
    log(f"[metric] failed_ratio {failed}/{attempted} = {failed / max(attempted, 1):.4f}")
    for k, (v, unit) in res["named"].items():
        log(f"[metric] {k} {v} {unit}")
    for k, unit in E2E:
        log(f"[metric] {k} {res['e2e'][k]} {unit}")
    log(f"[setup] {res['setups']}  [rounds] {res['rounds']}")
    by_op = {}
    for o in ops:
        by_op.setdefault(o["name"], []).append(o["dur_s"])
    log("[ops] " + " ".join(f"{k}={statistics.median(v):.3f}s" for k, v in by_op.items()))
    log(f"[context] {json.dumps(res['context'], sort_keys=True)}")
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
        for k, unit in NAMED:
            metrics[k] = {"value": res["named"].get(k, [0.0])[0], "unit": unit}
        metrics["failed_ratio"] = {"value": failed / max(attempted, 1), "unit": "ratio"}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E}
    for m in metrics.values():
        if m["value"] is None or (isinstance(m["value"], float) and not math.isfinite(m["value"])):
            correct = False
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def layer_unit(name):
    for suffix, unit in (("_ms_p50", "ms"), ("_ms_p90", "ms"), ("_ms", "ms"), ("_per_s", "rows/s"),
                         ("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
