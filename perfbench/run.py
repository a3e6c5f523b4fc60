#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree. The first run builds the program
(see pb/build.py) and generates the star tables; every run then
generates its seeded inputs, runs the workload in one JVM, checks the
outputs and prints, as its last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1). The line before
it is the run's full record, which is also kept under
`.bench_build/results/` for `perfbench/compare.py`.
"""
import time

T_START = time.perf_counter()  # set-up counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

PB = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PB)
sys.path.insert(0, PB)

from pb import build, gen, layers, stats  # noqa: E402

WORKLOADS = ("nilm_pack", "doc_pack", "ingest_etl", "stream_replay")
HEAP = "3g"
JVM_TIMEOUT_S = 160
END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("peak_heap_mb", "MB"))
# Spark 4 on JDK 17 outside spark-submit (the list the repo's build uses)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return os.environ.get("PERFBENCH_COMMIT", "unknown")


def java(classes, args, log, env=None, cwd=None):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={cwd}", "-cp", build.classpath(classes), *args]
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=cwd,
                             env={**os.environ, **(env or {})})
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return "timeout"


def q50_centroids(classes, star_dir):
    """q50's oracle fits centroids on the data it runs on; the repo's
    PrintQ50Centroids prints them. Computed once per star-table set."""
    path = os.path.join(star_dir, "q50_centroids.txt")
    if not os.path.exists(path):
        log = os.path.join(star_dir, "q50_centroids.log")
        if java(classes, ["graft.tools.PrintQ50Centroids", star_dir], log, cwd=star_dir) != 0:
            raise SystemExit(f"perfbench: PrintQ50Centroids failed, see {log}")
        with open(log) as f:
            text = f.read()
        block = text.split("CENTROIDS_BEGIN\n", 1)[1].split("\nCENTROIDS_END", 1)[0]
        with open(path, "w") as f:
            f.write(block)
    with open(path) as f:
        return f.read()


def ingest_checks(jvm, manifest):
    """The pipeline's counts against the generator's closed-form ones."""
    obs = jvm["info"]
    exp = manifest["expected"]
    inputs = manifest["inputs"]
    rows_out = {s: obs.get(f"observed.sources.{s}_rows_out") for s in ("ukdale", "refit", "mqtt")}
    dropped = (None if None in rows_out.values() else
               inputs["ukdale_records"] + inputs["refit_records"] + inputs["mqtt_lines"]
               - sum(rows_out.values()))
    pairs = [("readings", obs.get("observed.container.readings"), exp["readings"]),
             ("channels", obs.get("observed.container.channels"), exp["channels"]),
             ("windows", obs.get("observed.tensorprep.windows"), exp["windows"]),
             ("rows_dropped", dropped, exp["rows_dropped"]),
             ("other_channels", obs.get("observed.labels.other_channels"), exp["other_channels"]),
             ("refit_rate_s", obs.get("observed.refit_rates"), str(exp["refit_rate_s"]))]
    return [{"name": f"counts:{n}", "scope": "*", "ok": got == want,
             "detail": f"got {got} want {want}"} for n, got, want in pairs]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load_before = loadavg()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print(f"perfbench: no program source tree at {ROOT}", file=sys.stderr)
        return 2

    os.makedirs(build.BUILD, exist_ok=True)
    t0 = time.perf_counter()
    with open(os.path.join(build.BUILD, "build.log"), "a") as blog:
        classes = build.build(blog)
    build_s = time.perf_counter() - t0

    # inputs (excluded from set-up time, recorded on their own)
    t0 = time.perf_counter()
    star_dir, star_sizes = gen.ensure_star(os.path.join(build.BUILD, "data"))
    centroids = q50_centroids(classes, star_dir)
    work = os.path.join(build.BUILD, "run", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = {"star": star_sizes}
    manifest = None
    extra = []
    if a.workload == "ingest_etl":
        manifest = gen.raw_tree(os.path.join(work, "raw"), a.seed)
        inputs["raw_tree"] = {k: manifest[k] for k in ("raw_bytes", "inputs")}
        extra = ["--raw", os.path.join(work, "raw")]
    elif a.workload == "stream_replay":
        chunks = gen.stream_chunks(os.path.join(star_dir, "events.parquet"),
                                   os.path.join(work, "chunks"), a.seed)
        inputs["chunks"] = chunks
        extra = ["--chunks", os.path.join(work, "chunks")]
    gen_s = time.perf_counter() - t0
    pre_jvm_s = time.perf_counter() - T_START - build_s - gen_s

    jvm_dir = os.path.join(work, "jvm")
    log = os.path.join(work, "jvm.log")
    rc = java(classes, ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--out", jvm_dir, "--star", star_dir, *extra],
              log, env={"SPARK_GRAFT_Q50_CENTROIDS": centroids}, cwd=work)
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        print(f"perfbench: the JVM exited with {rc}; log tail:\n{tail}", file=sys.stderr)
        return 1
    with open(os.path.join(jvm_dir, "jvm_result.json")) as f:
        jvm = json.load(f)

    # output checks
    checks = [{**c, "scope": c["name"].split(":", 1)[1] if ":" in c["name"] else "*"}
              for c in jvm["checks"]]
    if a.workload in ("nilm_pack", "doc_pack"):
        from pb import oracle  # DuckDB and pandas load only for the packs
        checks += oracle.check(ROOT, star_dir, os.path.join(jvm_dir, "results"),
                               jvm["info"]["queries"])
    elif a.workload == "ingest_etl":
        checks += ingest_checks(jvm, manifest)
    attempted, failed = stats.failures(jvm["ops"], checks)

    # end-to-end figures come from the untraced leg
    leg = "untraced" if a.trace else "main"
    passes = [p["s"] for p in jvm["passes"] if p["leg"] == leg]
    lat = [o["latency_s"] for o in jvm["ops"] if o["leg"] == leg and not o["error"]]
    setups = list(jvm["setups_s"])
    setups[0] += pre_jvm_s
    e2e = {"setup_s": statistics.median(setups),
           "pass_s": statistics.median(passes),
           "peak_heap_mb": jvm["peak_heap_bytes"] / 2 ** 20}

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "correct": failed == 0 and all(c["ok"] for c in checks),
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted if attempted else 1.0,
        "end_to_end": e2e,
        "named": layers.named_metrics(a.workload, e2e, passes, lat, failed, attempted),
        "setups_s": setups, "passes_s": passes,
        "failed_checks": [c for c in checks if not c["ok"]],
        "failed_ops": sorted({o["name"] for o in jvm["ops"] if o["error"]}),
        "inputs": inputs, "gen_s": gen_s, "build_s": build_s,
        "stamp": {"nproc": os.cpu_count(), "loadavg_before": load_before,
                  "loadavg_after": loadavg(), "heap": HEAP,
                  "heap_max_bytes": jvm["info"].get("heap_max_bytes"),
                  "spark_version": jvm["info"].get("spark_version"),
                  "cores": jvm["info"].get("cores"), "commit": commit(),
                  "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())},
    }
    if a.trace:
        with open(os.path.join(jvm_dir, "spans.json")) as f:
            dump = json.load(f)
        record["per_layer"] = layers.per_layer(jvm, dump, manifest)
        record["span_dump"] = os.path.relpath(os.path.join(jvm_dir, "spans.json"), ROOT)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in record["per_layer"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    os.makedirs(os.path.join(build.BUILD, "results"), exist_ok=True)
    with open(os.path.join(build.BUILD, "results",
                           f"{int(time.time() * 1000)}-{a.workload}-{a.seed}-t{a.trace}.json"),
              "w") as f:
        json.dump(record, f)
    for k, (v, u) in sorted(record["named"].items()):
        print(f"perfbench {a.workload} {k} = {v:.6g} {u}", file=sys.stderr)
    for c in record["failed_checks"]:
        print(f"perfbench {a.workload} CHECK FAILED {c['name']}: {c['detail']}", file=sys.stderr)
    for o in record["failed_ops"]:
        print(f"perfbench {a.workload} OP FAILED {o}", file=sys.stderr)
    # keep the run's logs and JSON, drop its inputs and outputs
    for d in ("raw", "chunks"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for d in os.listdir(jvm_dir):
        if os.path.isdir(os.path.join(jvm_dir, d)):
            shutil.rmtree(os.path.join(jvm_dir, d), ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": record["correct"], "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
