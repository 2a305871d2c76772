#!/usr/bin/env python3
"""Medallion-refresh and query-registry benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the harness
and the program from source with sbt (offline) into perfbench/target;
later runs start the JVM directly. Bronze is generated from the seed under
.bench_build/perfbench; the query workloads read the sf0.01 tables kept in
perfbench/sf0.01. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the lines before it print
every metric by name and unit, and the full record is written to
.bench_build/perfbench/artifacts/. Exits 1 on any correctness failure (a
harness crash or hang too) and 2 when the checkout cannot be built.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bronze  # noqa: E402
import checks  # noqa: E402
import stats  # noqa: E402

T0 = time.time()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# the seed-42 sf0.01 tables the registry's oracle gate and Bench read
SF_DIR = os.path.join(HERE, "sf0.01")
JVM_TIMEOUT_S = 165

WORKLOADS = {
    # in BENCHMARK.json
    "refresh_ref": {"kind": "refresh", "seasons": 1, "heap": "3g"},
    "queries_sf001": {"kind": "queries", "heap": "4g", "gate": 1},
    # by hand: too long for the benchmark's run budget (see README.md)
    "refresh_10x": {"kind": "refresh", "seasons": 10, "heap": "4g", "timeout_s": 900},
    "queries_targets": {"kind": "queries", "heap": "4g", "gate": 1, "timeout_s": 900},
}

# Reported by every workload; the rest of what a run measures is printed
# and kept in its artifact (see README.md).
END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("retained_heap_mb", "MB")]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    return jars if home and os.path.isdir(jars) else None


def source_stamp():
    """Hash of every source the build reads; a changed stamp rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and \
            os.path.isdir(CLASSES):
        return
    log("building harness and program with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(2)
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def jvm(wl, seconds, trace, cpus, input_dir, order_file):
    """Start the harness JVM and wait for it; returns (result, start time)."""
    out = os.path.join(WORK, "jvm.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{wl['heap']}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp",
            f"{CLASSES}{os.pathsep}{os.path.join(spark_jars(), '*')}", "perfbench.Main",
            "--workload", wl["kind"], "--work", WORK, "--input", input_dir,
            "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus),
            "--out", out, "--order", order_file,
            # the gold gate runs in the traced run only, which keeps the
            # untraced runs short
            "--gate", str(wl.get("gate", 0) if trace else 0)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    t0 = time.time()
    with open(os.path.join(WORK, "jvm.log"), "w") as logf:
        # a hung JVM is killed well inside a run's time limit
        r = subprocess.run(cmd, cwd=WORK, env=env, stdout=logf, stderr=subprocess.STDOUT,
                           timeout=wl.get("timeout_s", JVM_TIMEOUT_S))
    log(f"JVM exited {time.time() - t0:.1f} s after start")
    if not os.path.exists(out):
        raise RuntimeError(f"harness JVM exited {r.returncode} without a result "
                           f"(see {logf.name})")
    with open(out) as f:
        res = json.load(f)
    res["exit_code"] = r.returncode
    return res, t0


def table_sizes(d):
    """{table: {"rows", "bytes"}} of the parquet tables in d."""
    import pyarrow.parquet as pq
    return {f[:-len(".parquet")]: {"rows": pq.ParquetFile(os.path.join(d, f)).metadata.num_rows,
                                   "bytes": os.path.getsize(os.path.join(d, f))}
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")}


def query_order(workload, seed):
    """The workload's fixed query set (<workload>.txt), order permuted by the seed."""
    with open(os.path.join(HERE, f"{workload}.txt")) as f:
        names = [l.split("#")[0].strip() for l in f]
    names = [n for n in names if n]
    random.Random(seed).shuffle(names)
    return names


def main(argv=None):
    # a terminated run raises SystemExit, so subprocess.run kills and waits
    # for the harness JVM on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    wl = WORKLOADS[a.workload]

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no program sources under src/main/scala: run from the root of a source checkout")
        return 2
    if spark_jars() is None or shutil.which("sbt") is None or shutil.which("java") is None:
        log("needs java, sbt and a Spark distribution at $SPARK_HOME")
        return 2
    os.makedirs(WORK, exist_ok=True)
    build()

    cpus = os.cpu_count() or 1
    prov = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cpus": cpus, "heap": wl["heap"]}
    inputs = os.path.join(WORK, "inputs")
    order_file = os.path.join(WORK, "order.txt")
    if wl["kind"] == "refresh":
        input_dir = os.path.join(inputs, f"bronze-{wl['seasons']}")
        shutil.rmtree(input_dir, ignore_errors=True)
        prov["input"] = bronze.generate(input_dir, a.seed, wl["seasons"])
        prov["input_scale"] = f"{wl['seasons']} season(s) x 30 teams x 82 games"
        names = []
    else:
        input_dir = SF_DIR
        prov["input"] = table_sizes(input_dir)
        names = query_order(a.workload, a.seed)
        prov["query_order"] = names
    with open(order_file, "w") as f:
        f.write("\n".join(names) + "\n")
    shutil.rmtree(os.path.join(WORK, "gold"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "verify"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "spark-warehouse"), ignore_errors=True)

    log(f"inputs ready at {time.time() - T0:.1f} s")
    try:
        res, t0 = jvm(wl, a.seconds, a.trace, cpus, input_dir, order_file)
        log(f"harness JVM done at {time.time() - T0:.1f} s")
        prov.update(master=res["master"], max_heap_mb=res["max_heap_mb"])
        if wl["kind"] == "refresh":
            summary = checks.summarize_refresh(res, prov["input"])
        else:
            bad, n_oracle = checks.oracle_mismatches(input_dir, os.path.join(WORK, "verify"))
            summary = checks.summarize_queries(res, names, bad, n_oracle)
        # set-up: from starting the JVM until its session has run its first
        # jobs and its SQL warm-up
        summary["setup_s"] = res["ready_epoch_ms"] / 1000.0 - t0
        prov["setup_split_s"] = {
            "jvm_and_session": res["session_epoch_ms"] / 1000.0 - t0,
            "floor_probe": (res["floor_epoch_ms"] - res["session_epoch_ms"]) / 1000.0,
            "warm_up": (res["ready_epoch_ms"] - res["floor_epoch_ms"]) / 1000.0}
        summary["retained_heap_mb"] = res["retained_heap_mb"]
        summary["peak_rss_mb"] = res["peak_rss_mb"]
        floors = res["sched_floor_start_s"] + res["sched_floor_end_s"]
        prov["sched_floor_start_s"] = statistics.median(res["sched_floor_start_s"])
        prov["sched_floor_end_s"] = statistics.median(res["sched_floor_end_s"])
        prov["sched_floor_s"] = statistics.median(floors)
        if res["exit_code"] != 0:
            summary["errors"].append(f"harness JVM exited {res['exit_code']}")
            summary["failed"] = max(summary["failed"], 1)
        if a.trace:
            metrics = stats.per_layer(res, summary, prov, wl["kind"])
        else:
            metrics = {n: {"value": summary[n], "unit": u} for n, u in END_TO_END}
    except (subprocess.TimeoutExpired, RuntimeError, KeyError, OSError, ValueError) as e:
        # a hung or crashed harness: the run's operations count as failed
        log(f"harness failed: {type(e).__name__}: {e}")
        attempted = max(1, len(names))
        print(json.dumps({"correct": False, "attempted": attempted, "failed": attempted,
                          "metrics": {}}))
        return 1
    log(f"outputs checked at {time.time() - T0:.1f} s")
    correct = not summary["errors"]
    artifact = {"provenance": prov, "summary": summary, "metrics": metrics}
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    art_path = os.path.join(WORK, "artifacts",
                            f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art_path, "w") as f:
        json.dump({**artifact, "raw": res}, f, indent=1)
    for line in stats.report_lines(summary, prov, metrics):
        print(line)
    for e in summary["errors"][:20]:
        print(f"[error] {e}")
    print(json.dumps({"correct": correct, "attempted": summary["attempted"],
                      "failed": summary["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
