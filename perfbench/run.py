#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. On first use it builds the engine together
with the benchmark program (`perfbench/build.sbt`, sbt, offline); the
build is cached under `perfbench/target` and redone when its sources
change. The query workload reads the parquet fixtures in
`perfbench/fixtures/`. It then runs the workload in one JVM, checks the
outputs (pinned oracle digests for query results; exactly-once for
ingested records), and prints a short summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the `end_to_end` metrics of
BENCHMARK.json; with `--trace 1` the run records spans and listener
counters and the metrics are the `per_layer` metrics. Per-execution and
per-batch records (and spans) go to `perfbench/work/<workload>-trace<t>.json`.
See METHOD.md for what each workload does and why.
"""
import argparse
import hashlib
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
FIXTURES = os.path.join(HERE, "fixtures")
WORKLOADS = ["query_small", "ingest_live"]
JAVA_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for root in paths:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt when their sources changed;
    returns the runtime classpath."""
    srcs = [os.path.join(REPO, "src", "main", "scala"),
            os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    stamp = tree_hash(srcs)
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if not (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        log("building engine + benchmark (sbt)")
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
             "writeClasspath"], cwd=HERE, stdout=sys.stderr,
            stderr=sys.stderr, timeout=840)
        if r.returncode != 0:
            die("build failed", 3)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return open(cp_file).read().strip()


def run_java(cp, args):
    mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    tmp = os.path.join(WORK, "tmp")  # Spark's scratch stays in the checkout
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=2g",
            "-XX:MetaspaceSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    logf = os.path.join(WORK, "spark.log")
    with open(logf, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = p.communicate(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"workload JVM exceeded {JAVA_TIMEOUT_S} s (log: {logf})", 4)
    lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(logf) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"workload JVM failed with exit code {p.returncode}", 4)
    return json.loads(lines[-1])


def check_digests(res, names):
    """Compare each set-up result with its pinned oracle digest."""
    import duckdb
    from digest import parquet_digest
    pins = json.load(open(os.path.join(HERE, "pins.json")))["sf0.01"]
    con = duckdb.connect()
    bad = []
    for name in names:
        path = res["results"].get(name)
        if path is None:
            continue  # the set-up execution threw: already a failure
        try:
            d, n = parquet_digest(con, path)
        except Exception as e:  # unreadable result
            d, n = f"error: {e}", 0
        pin = pins.get(name)
        if pin is None or d != pin["digest"]:
            bad.append(f"{name} (digest mismatch)")
    return bad


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(REPO, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        die("engine sources (src/main/scala) not found next to perfbench/", 2)
    bench = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    cores = len(os.sched_getaffinity(0))
    res = run_java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--data", FIXTURES, "--work", WORK, "--cores", str(cores)])

    failures = list(res["failures"])
    failed = res["failed"]
    if a.workload == "query_small":
        bad = check_digests(res, res["info"]["rows"])
        failures += bad
        failed += len(bad)
    attempted = res["attempted"]

    spec = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = res["layer"] if a.trace else res["e2e"]
    metrics, missing = {}, []
    for m in spec:
        v = source.get(m["name"])
        if v is None and not a.trace:
            die(f"end-to-end metric {m['name']} not measured", 5)
        if v is None:
            missing.append(m["name"])  # layer not on this workload's path
            v = 0.0
        if isinstance(v, float) and not math.isfinite(v):
            die(f"metric {m['name']} is not a finite number", 5)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    # the summary tail: every number a reader needs, before the JSON line
    e2e = res["e2e"]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    info = res["info"]
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} cores={cores} artifact={os.path.relpath(res['artifact'], REPO)}")
    print("e2e: " + " | ".join(f"{k} {fmt(v)} {units.get(k, '')}".strip()
                               for k, v in e2e.items())
          + f" | tail=p{info.get('query_tail_percentile', 0):.0f} of "
            f"{info.get('query_samples', 0)}")
    if a.workload == "ingest_live":
        lay = res["layer"]
        print("ingest: " + " | ".join(
            f"{k} {fmt(lay[f'EventIngest.{k}'])} {u}" for k, u in
            [("lag_p50_s", "s"), ("lag_p99_s", "s"), ("drain_eps", "1/s")])
            + f" | gen.late_p99_s {fmt(lay['gen.late_p99_s'])} s"
            + f" | gen.backlog_max {fmt(lay['gen.backlog_max'])} count")
    if a.trace:
        self_t = {k[5:]: v for k, v in res["layer"].items() if k.startswith("self.")}
        print("self_s: " + " ".join(f"{k}={v:.3f}" for k, v in sorted(self_t.items())))
        prev = os.path.join(WORK, f"{a.workload}-last-trace0.json")
        if os.path.exists(prev):
            base = json.load(open(prev))
            print("trace overhead (traced - last untraced): " + " ".join(
                f"{k}={fmt(e2e[k] - base[k])}" for k in base if k in e2e))
        print(f"per-layer: {len(metrics) - len(missing)} measured, "
              f"{len(missing)} off this workload's path (0); all in the artifact")
    else:
        with open(os.path.join(WORK, f"{a.workload}-last-trace0.json"), "w") as fh:
            json.dump(e2e, fh)
    print(f"failed_ratio {failed / attempted:.6f} ({failed}/{attempted}) "
          f"failed: {', '.join(failures) if failures else '-'}"[:600])
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
