#!/usr/bin/env python3
"""Per-PR benchmark of the engine: three closed-loop, single-client
workloads (scan_analytics, table_upsert, stream_ingest) over seeded inputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark JVM from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/, keyed by a hash of the sources. Each run
generates its inputs from the seed, runs the benchmark JVM (perfbench.Main)
on local[k] with k = min(4, cores) for a number of whole op rounds set by
--seconds (see ROUND_S), checks every op's output, prints a
human-readable report and, as the last stdout line, one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
It exits non-zero when any op or check failed. All state lives in a
per-run directory under .bench_build/, removed at exit; a lock file
keeps two runs on one checkout from sharing it.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import ledger  # noqa: E402
import checks as outchecks  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["scan_analytics", "table_upsert", "stream_ingest"]
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 150

# input scale factor per workload (TPC-H sf: lineitem = 6M x sf rows)
SCALE = {"scan_analytics": 0.01, "table_upsert": 0.01, "stream_ingest": 0.1}
# nominal seconds one round takes on the reference box (4 cores). A section
# runs rounds(workload, seconds) whole rounds: the work, and so n_ops, depend
# on --seconds alone, never on how fast the program under test runs.
ROUND_S = {"scan_analytics": 2.5, "table_upsert": 10.0, "stream_ingest": 7.0}


def rounds(workload: str, seconds: float) -> int:
    return max(1, round(seconds / ROUND_S[workload]))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_hash() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/main/**/*"), recursive=True) +
                   [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def classpath() -> str:
    """Build with sbt unless a build of these exact sources is cached."""
    cp_file = os.path.join(BUILD, f"classpath-{sources_hash()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building engine + benchmark with sbt (first run in this checkout)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"sbt build failed (see {BUILD}/build.log)")
    for old in glob.glob(os.path.join(BUILD, "classpath-*.txt")):
        os.remove(old)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def make_inputs(workload: str, seed: int, data: str, scale: float,
                n_rounds: int, traced: bool) -> None:
    """Generate the run's inputs from the seed (engine sees only these)."""
    sf = SCALE[workload] * scale
    if workload == "scan_analytics":
        datagen.generate(data, sf, seed)
    elif workload == "table_upsert":
        datagen.generate(data, sf, seed, ["orders"])
    else:
        datagen.generate(data, sf, seed, ["documents"])
        import pyarrow.parquet as pq
        corpus = pq.read_table(f"{data}/documents.parquet").column("text").to_pylist()
        # one batch per round: the warm-up, the timed and the traced sections
        n = 1 + n_rounds * (2 if traced else 1)
        datagen.stream_batches(f"{data}/stream", corpus, n, seed)


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


# The JIT stops at C1. A run's JVM lives about a minute; with C2 on, its
# compiler threads took about half the process CPU for the whole run and
# raced the workload for the four cores, and how far they had got set the
# op times: on 4 cores, across 13 interleaved seeds, the quartile spread of
# the stream_ingest batch was 0.14 with C2 and 0.10 C1-only, and C1-only
# cut cpu_ms_per_op by 40-55% on every workload.
JVM_FLAGS = ["-Xmx3g", "-XX:TieredStopAtLevel=1", "-Duser.timezone=UTC"]


def run_jvm(cp: str, args, tmp: str, data: str, out: str, log_path: str) -> None:
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}/jtmp"] +
           [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--rounds", str(rounds(args.workload, args.seconds)),
            "--trace", str(args.trace), "--data", data, "--tmp", tmp, "--out", out])
    os.makedirs(f"{tmp}/jtmp", exist_ok=True)
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=tmp,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc}); log: {log_path}")


def end_to_end(raw: dict) -> dict:
    """Every end-to-end metric that applies to the workload: name -> (value, unit)."""
    sec = raw["sections"][0]
    ops = [o for o in raw["ops"] if o["phase"] == "timed"]
    ms = [o["ms"] for o in ops]
    el_s = sec["elapsed_ms"] / 1000.0
    m = {
        "setup_s": (stats.median(raw["setup_s"]), "s"),
        "op_p50_ms": (stats.median(ms), "ms"),
        "op_p90_ms": (stats.percentile(ms, 90), "ms"),
        "ops_per_s": (len(ops) / el_s, "1/s"),
        "cpu_ms_per_op": (sec["cpu_ms"] / len(ops), "ms"),
        "failed_op_ratio": (stats.failed_op_ratio(len(ops), sum(not o["ok"] for o in ops)),
                            "ratio"),
        "live_heap_mb": (raw["live_heap_mb"], "MB"),
    }
    f = raw["facts"]
    if raw["workload"] in ("table_upsert", "stream_ingest"):
        m["rows_per_s"] = (sum(o["rows"] for o in ops) / el_s, "1/s")
        m["write_amp"] = (stats.write_amp(f["bytes_added"], f["input_bytes"]), "ratio")
    if raw["workload"] == "table_upsert":
        m["space_amp"] = (stats.space_amp(f["disk_bytes"], f["live_bytes"]), "ratio")
        for kind, name in (("merge", "merge_p50_ms"), ("lookup", "lookup_p50_ms")):
            xs = [o["ms"] for o in ops if o["kind"] == kind]
            if xs:
                m[name] = (stats.median(xs), "ms")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplier on the workload's input scale factor (smoke tests use sf0.001)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit(f"engine sources not found under {ROOT}/src/main/scala")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(BUILD, exist_ok=True)
    lock = open(os.path.join(BUILD, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = classpath()
    tmp = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        data = os.path.join(tmp, "data")
        make_inputs(args.workload, args.seed, data, args.scale,
                    rounds(args.workload, args.seconds), args.trace == 1)
        out = os.path.join(tmp, "raw.json")
        log_dir = os.path.join(BUILD, "logs")
        os.makedirs(log_dir, exist_ok=True)
        run_jvm(cp, args, tmp, data, out,
                os.path.join(log_dir, f"{args.workload}-seed{args.seed}.log"))
        with open(out) as f:
            raw = json.load(f)
        shutil.copy(out, os.path.join(log_dir, f"{args.workload}-seed{args.seed}.raw.json"))
        checks = dict(raw["checks"])
        if args.workload == "scan_analytics":
            bad = outchecks.scan_oracle(data, os.path.join(tmp, "ref"))
            for name, why in bad.items():
                log(f"oracle mismatch {name}: {why}")
            for o in raw["ops"]:
                if o["kind"] in bad:
                    o["ok"] = False
            checks["duckdb_oracle"] = not bad
        elif args.workload == "stream_ingest":
            failed_ops, same = outchecks.stream(data, len(raw["ops"]), raw["outputs"])
            checks["batch_recompute"] = same
            for o in raw["ops"]:
                if o["i"] in failed_ops or not same:
                    o["ok"] = False
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    attempted = len(raw["ops"])
    failed = sum(not o["ok"] for o in raw["ops"])
    correct = failed == 0 and all(checks.values()) and attempted > 0
    for name, ok in checks.items():
        if not ok:
            log(f"check failed: {name}")

    e2e = end_to_end(raw)
    n_ops = sum(o["phase"] == "timed" for o in raw["ops"])
    print(f"workload={raw['workload']} seed={raw['seed']} cores={raw['cores']} "
          f"loop=closed clients=1 n_ops={n_ops} attempted={attempted} failed={failed}")
    for name, (v, unit) in e2e.items():
        print(f"  {name:<16} {v:14.4f} {unit}")
    if args.trace:
        layers = ledger.reduce(raw)
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": raw["workload"], "seed": raw["seed"], "cores": raw["cores"],
                       "spans": ledger.span_table(raw), "ledger": layers}, f)
        print(f"  trace: {trace_file}")
        for name in sorted(layers):
            print(f"  {name:<44} {layers[name]:14.4f}")
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
