#!/usr/bin/env python3
"""The benchmark: one run of one workload of graft's registered queries.

    python3 perfbench/run.py --workload verbs_ingest_sf0.1 --seed 1 --seconds 16 --trace 0

Run from the repository root. The first run builds the program and the
runner (perfbench/build.sbt) with sbt and generates the workload's data
from the seed; later runs reuse both while their hashes match. Each run
starts one fresh JVM (perfbench/src/main/scala/perfbench/Runner.scala) with
`local[nproc]`, in a scratch directory of its own that is deleted
afterwards, then checks every query's output against its DuckDB oracle
(check.py). The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (see
BENCHMARK.json and perfbench/README.md). Everything else a run measures,
including host-noise diagnostics, goes to perfbench/results/.
"""
import argparse
import glob
import hashlib
import json
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

import check  # noqa: E402
import gen  # noqa: E402

# One query per verb family of PyBabe's row-stream verbs: projection,
# dedup, join, group, pivot and window.
VERBS = ["q01_filter_columns", "q10_dedup", "q17_join_warn", "q19_group",
         "q22_pivot", "q26_window_by"]
# the minhash native/portable pair, the sign-LSH portable path and the
# materialization-heavy component dedup
CURATION = ["q47_minhash_pairs", "q93_minhash_portable", "q95_lsh_portable",
            "q154_minhash_dedup_portable"]
# Memoize, a Derby JDBC round trip, a partitioned parquet round trip and a
# stateful streaming aggregation
INGEST = ["q37_memoize", "q79_partition_reload", "q88_jdbc_roundtrip",
          "q147_heavy_hitters_stream"]
# queries checked by a property instead of their oracle (see check.py)
CURATION_PROPERTIES = {
    "q47_minhash_pairs": ("pairs",),
    "q93_minhash_portable": ("pairs",),
    "q154_minhash_dedup_portable": ("dedup", "q93_minhash_portable"),
}

# name -> (queries, scale factor, GenScale copies, row counts to check,
#          property checks)
WORKLOADS = {
    "verbs_ingest_sf0.1": (VERBS + INGEST, 0.1, 1,
                           {"lineitem": 600000, "events": 100000}, {}),
    "curation_x10": (CURATION, 0.005, 10,
                     {"documents": 2500, "embeddings": 1000},
                     CURATION_PROPERTIES),
}

HEAP = "1g"
# C1 only: with C2, the JIT was still speeding passes up after 20 s and
# its compile threads took CPU from the queries, so a warm pass measured
# how far warm-up had got on a busy host (IQR 0.26-0.31 of the median over
# ten runs). C1 code settles within the cold pass. C1 alone gets a 48 MB
# code cache; the workloads filled it, and every 30-40 s the JVM flushed
# compiled methods and C1 spent 6-9 s compiling them again, so one pass in
# five ran 40 % slow. 256 MB holds all of it.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
RESULTS = os.path.join(HERE, "results")
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads: program sources and builds."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*",
            "perfbench/src/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program and runner once per source hash; returns classpath."""
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    key = source_hash()
    try:
        with open(stamp) as fh:
            got = json.load(fh)
        if got["key"] == key:
            return got["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and runner with sbt")
    t0 = time.perf_counter()
    with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"], cwd=HERE, env=env,
            stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(p.stdout)
    if p.returncode != 0:
        raise RuntimeError(f"sbt failed ({p.returncode}); see {out.name}")
    cp = [ln for ln in p.stdout.splitlines()
          if "perfbench" in ln and ":" in ln and not ln.startswith("[")][-1]
    with open(stamp, "w") as fh:
        json.dump({"key": key, "classpath": cp.strip()}, fh)
    log(f"built in {time.perf_counter() - t0:.1f} s")
    return cp.strip()


def steal_ticks():
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def java_cmd(cp, work, main, args):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens, *JIT,
             f"-Djava.io.tmpdir={work}/jtmp",
             f"-Dspark.local.dir={work}/local",
             "-cp", cp, main] + args)


def run_jvm(cmd, work, env, deadline, log_name):
    """Runs one JVM in `work`, returns its wall-clock launch time."""
    with open(os.path.join(RESULTS, log_name), "w") as out:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM exceeded the run's time limit; "
                               f"see {out.name}")
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        raise RuntimeError(f"JVM exited {rc}; see {out.name}")
    return launched


def fresh_work(name):
    work = os.path.join(HERE, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "jtmp", "local", "check"):
        os.makedirs(os.path.join(work, d))
    return work


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        sys.exit("perfbench: no program sources next to perfbench/")
    start = time.time()
    deadline = start + 170.0
    queries, sf, copies, expect, properties = WORKLOADS[a.workload]
    os.makedirs(RESULTS, exist_ok=True)

    cp = build()
    deadline = max(deadline, time.time() + 150.0)  # a build is not the run's

    # workloads on the same scale share data; one seed's is kept
    prefix = os.path.join(HERE, "data", f"sf{sf}-x{copies}-seed")
    data = f"{prefix}{a.seed}"
    for old in glob.glob(prefix + "*"):
        if old != data and not old.startswith(data + "."):
            (shutil.rmtree if os.path.isdir(old) else os.remove)(old)
    manifest, gen_s = gen.ensure(data, sf, a.seed, copies, expect)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = fresh_work(tag)
    env = dict(os.environ, SPARK_GRAFT_TMP_DIR=os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    steal0, wall0 = steal_ticks(), time.time()
    try:
        out = os.path.join(work, "result.json")
        runner_args = ["--data", data, "--queries", ",".join(queries),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--cpus", str(cpus), "--out", out,
                       "--check", os.path.join(work, "check"),
                       "--spans", os.path.join(RESULTS, f"{tag}.spans.json")]
        launched = run_jvm(java_cmd(cp, work, "perfbench.Runner", runner_args),
                           work, env, deadline, f"{tag}.log")
        with open(out) as fh:
            res = json.load(fh)
        setup_s = res["ready_ms"] / 1e3 - launched
        steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
        run_wall = time.time() - wall0
        failed = dict(res["errors"])
        t_check = time.time()
        check_times = {}
        for q, why in check.check(data, os.path.join(work, "check"), queries,
                                  properties, copies, check_times).items():
            failed.setdefault(q, why)
        check_s = time.time() - t_check
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = res["passes"]
    ok = [i for i, q in enumerate(queries) if q not in failed]

    def warm(ps):  # per query the median warm pass, summed
        return sum(statistics.median(p[i] for p in ps) for i in ok)

    warm_s = warm(passes)
    cold_s = sum(res["cold"][i] for i in ok)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_cpu_s": (sum(res["cold_cpu"][i] for i in ok), "s"),
        "warm_cpu_s": (warm(res["passes_cpu"]), "s"),
        "mem_peak_mb": (max(res["retained_mb"]), "MB"),
        "ok_share": (len(ok) / len(queries), "ratio"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if a.trace:
        layers = dict(res["layers"])
        traced = warm(res["traced_passes"])
        layers["wall.cold_s"] = cold_s
        layers["wall.warm_s"] = warm_s
        layers["trace.warm_s"] = traced
        layers["trace.overhead_s"] = traced - warm_s
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            per_layer = json.load(fh)["per_layer"]
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in per_layer}
    diag = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "cpus": cpus, "rows": manifest["rows"], "gen_s": gen_s,
        "setup_s": setup_s, "cold_s": cold_s, "warm_s": warm_s,
        "passes": len(passes),
        "pass_wall_s": [sum(p) for p in passes],
        "cold_wall_s": res["cold_wall_s"],
        "host": {"load1_start": load1, "steal_s": steal_s,
                 "steal_share": steal_s / max(1e-9, run_wall * cpus),
                 "calibration_s": res["calibration_s"]},
        "jvm_wall_s": run_wall, "check_s": check_s,
        "check_times": check_times, "runner": res,
        "failed": failed, "metrics": metrics,
        "run_s": time.time() - start,
    }
    with open(os.path.join(RESULTS, f"{tag}.json"), "w") as fh:
        json.dump(diag, fh, indent=1)
    log(f"{tag}: {len(passes)} passes, host {diag['host']}, "
        f"failed {sorted(failed)}")
    print(json.dumps({"correct": not failed, "attempted": len(queries),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
