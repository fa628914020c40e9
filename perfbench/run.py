#!/usr/bin/env python3
"""Benchmark of record for the Spark engine.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds the engine and the harness from
the checkout's sources (cached by source hash under .bench_build), generates
the seed's fixture (cached per scale and seed), runs the workload in one JVM
and checks every result: against the DuckDB oracle through tools/check.py
the first time an op runs on a fixture, and against that verified hash on
every later call. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The lines above
it give each metric with its unit and sample count, the fail ratio and the
host calibration. Exit code is 1 if any op failed, 124 if the harness
outran its time limit, and another non-zero code if the run could not be
made.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import stats  # noqa: E402
from workloads import MIN_OPS, WORKLOADS, clients, cpus  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CHECK = os.path.join(ROOT, "tools", "check.py")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
# A run takes about a minute; the harness is stopped if it hangs.
HARNESS_LIMIT_S = 150
TIMED_OUT = 124
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

MODULES = ["Ingest", "Scalar", "Relational", "Aggregates", "Windows",
           "Subqueries", "Events", "Text", "Vectors", "Multimodal",
           "Analytics"]
LAYER_METRICS = ["build_s", "exec_s", "jobs", "tasks", "task_busy_s",
                 "driver_gap_s", "shuffle_mb", "spill_mb", "gc_s"]
END_TO_END = ["setup_s", "batch_s", "ops_per_s", "op_p50_s", "op_p90_s",
              "cpu_s", "peak_rss_mb"]


def per_layer_names():
    return ([f"{m}.{k}" for m in MODULES for k in LAYER_METRICS] +
            ["Tables.scan_mb", "Tables.scan_rows", "Ingest.write_mb",
             "Ingest.write_amp", "Checkpoints.derive_s",
             "Checkpoints.hit_ratio", "Checkpoints.pinned_mb",
             "driver.sched_wait_s", "driver.task_retries",
             "trace.batch_s_overhead", "trace.ops_per_s_overhead"])


def end_to_end(res):
    """{name: (value, samples)} of the end-to-end metrics of one harness
    run."""
    calls = res["calls"]
    lat = [c["build_s"] + c["exec_s"] for c in calls]
    n = len(calls)
    return {
        "setup_s": (res["setup_s"], 1),
        "batch_s": (stats.median(res["passes_s"]), len(res["passes_s"])),
        "ops_per_s": (n / res["window_s"], n),
        "op_p50_s": (stats.percentile(lat, 50), n),
        "op_p90_s": (stats.percentile(lat, 90), n),
        "cpu_s": (res["cpu_s"] * res["ops_per_pass"] / n, n),
        "peak_rss_mb": (res["peak_rss_mb"], 1),
    }


def unit(name):
    if name.endswith("ops_per_s") or name.endswith("ops_per_s_overhead"):
        return "1/s"
    if name.endswith("_s") or name.endswith("_s_overhead"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio") or name.endswith("_amp"):
        return "ratio"
    return "count"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"[perfbench] {msg}")
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """Spark's jars, the engine's classpath: $SPARK_HOME/jars, else the
    directory the engine's own build.sbt takes them from."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        fail("Spark's jars not found: set SPARK_HOME")
    return m.group(1)


def build():
    """Compile engine + harness with sbt, unless the sources are unchanged
    since the last build in this checkout."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    sbt_opts = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
                os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    env = dict(os.environ, BENCH_SPARK_JARS=spark_jars(),
               COURSIER_MODE="offline", SBT_OPTS=sbt_opts)
    log("[perfbench] building engine and harness (sbt compile)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=850)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed; see {os.path.join(BUILD, 'build.log')}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_harness(args, spec, fixture_dir, dump_ops, workdir):
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    out = os.path.join(workdir, "result.json")
    jars = spark_jars()
    cp = ":".join([CLASSES] + sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC"] + opens +
           [f"-Djava.io.tmpdir={workdir}/tmp", "-cp", cp, "perfbench.Harness",
            f"fixture={fixture_dir}", f"ops={','.join(spec['ops'])}",
            f"mode={spec['mode']}", f"clients={clients(args.workload)}",
            f"seconds={args.seconds}",
            f"minOps={spec.get('min_ops', MIN_OPS)}",
            f"trace={args.trace}", f"seed={args.seed}",
            f"workdir={workdir}", f"cpus={cpus()}", f"out={out}",
            f"dump={workdir}/dump", f"dumpOps={','.join(sorted(dump_ops))}",
            f"spans={workdir}/spans.jsonl"])
    with open(os.path.join(workdir, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=workdir, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=HARNESS_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness exceeded the run's time limit", TIMED_OUT)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(workdir, "harness.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited with {rc}:\n{tail}", 4)
    with open(out) as f:
        return json.load(f)


def oracle_check(fixture_dir, dump_dir):
    """Run tools/check.py over the dumped results; {op: True/False}."""
    r = subprocess.run([sys.executable, CHECK, fixture_dir, dump_dir],
                       capture_output=True, text=True, timeout=120)
    verdict = {}
    for line in r.stdout.splitlines():
        if line.startswith("ok "):
            verdict[line.split()[1]] = True
        elif line.startswith("FAIL "):
            verdict[line.split()[1].rstrip(":")] = False
            log(f"[perfbench] oracle: {line}")
    return verdict


def verify(res, expected, verdict, oracle_ops):
    """Mark every timed call ok or failed and extend the expected-hash cache.
    An op's reference is its cached hash, else (first run on this fixture)
    its hash in this run once the DuckDB oracle accepted the dump, or, for
    ops without an oracle, its first result."""
    calls = res["warm_calls"] + res["calls"]
    for op in {c["op"] for c in calls}:
        hashes = [c["hash"] for c in calls if c["op"] == op and c["hash"]]
        if op in expected or not hashes:
            continue
        if op in oracle_ops:
            if verdict.get(op) and len(set(hashes)) == 1:
                expected[op] = {"hash": hashes[0], "check": "oracle"}
        else:
            expected[op] = {"hash": hashes[0], "check": "first_run"}
    failed = []
    for c in res["calls"]:
        ref = expected.get(c["op"], {}).get("hash")
        if c["error"] or c["hash"] != ref:
            failed.append(c)
    return failed


def timed_run(args, spec, fixture_dir, expected):
    """One harness run with its calls checked; (result, failed calls).
    Ops not yet verified on this fixture are dumped and checked against the
    DuckDB oracle, and `expected` gains their hashes."""
    need = set(spec["ops"]) - set(expected)
    workdir = os.path.join(BUILD, "run")
    res = run_harness(args, spec, fixture_dir, need, workdir)
    oracle_ops, verdict = set(), {}
    sql_file = os.path.join(workdir, "dump", "oracle_sql.json")
    if need and os.path.exists(sql_file):
        with open(sql_file) as f:
            oracle_ops = set(json.load(f))
        if oracle_ops:
            verdict = oracle_check(fixture_dir, os.path.join(workdir, "dump"))
    return res, verify(res, expected, verdict, oracle_ops)


def tracing_overhead(res):
    """(batch_s, ops_per_s) overhead of tracing from one traced run, whose
    traced and untraced calls are interleaved. A pass of each kind is the
    sum over ops of the op's median latency among calls of that kind (so
    the op mix cannot differ between the kinds); the overheads are the
    traced pass minus the untraced one, and the untraced throughput at the
    run's client count minus the traced one."""
    lat = {}
    for c in res["calls"]:
        lat.setdefault((c["op"], c["traced"]), []).append(
            c["build_s"] + c["exec_s"])
    ops = {op for op, _ in lat if (op, True) in lat and (op, False) in lat}
    pass_s = {t: sum(stats.median(lat[(op, t)]) for op in ops)
              for t in (False, True)}
    rate = {t: res["clients"] * len(ops) / pass_s[t] for t in pass_s}
    return pass_s[True] - pass_s[False], rate[False] - rate[True]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(fixture.SCALES), default=None,
                    help="fixture scale (default: the workload's own)")
    args = ap.parse_args()
    if not (os.path.isdir(ENGINE_SRC) and os.path.exists(CHECK)):
        fail("engine sources (src/main/scala) or tools/check.py not found; "
             "run from the root of a full checkout")
    spec = WORKLOADS[args.workload]
    build()
    scale = args.scale or spec["scale"]
    fixture_dir, manifest = fixture.ensure(BUILD, scale, args.seed)
    exp_path = fixture_dir + ".expected.json"
    expected = {}
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            expected = json.load(f)
    started = time.time()
    res, failed = timed_run(args, spec, fixture_dir, expected)
    calls = res["calls"]
    with open(exp_path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)

    if args.trace == 0:
        metrics = end_to_end(res)
    else:
        n = sum(c["traced"] for c in calls)
        layers = res["layers"]
        metrics = {k: (v, n) for k, v in layers.items()}
        metrics["Ingest.write_amp"] = (res["write_amp"], 1)
        metrics["Checkpoints.pinned_mb"] = (res["pinned_mb"], 1)
        batch_over, ops_over = tracing_overhead(res)
        metrics["trace.batch_s_overhead"] = (batch_over, len(calls))
        metrics["trace.ops_per_s_overhead"] = (ops_over, len(calls))
        self_s = sorted(((layers[f"{m}.build_s"] + layers[f"{m}.exec_s"], m)
                         for m in MODULES), reverse=True)
        log("[perfbench] self time by layer: " + ", ".join(
            f"{m} {s:.2f}s" for s, m in self_s if s > 0))
    names = END_TO_END if args.trace == 0 else per_layer_names()
    missing = set(names) - set(metrics)
    if missing:
        fail(f"metrics not produced: {sorted(missing)}", 5)

    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "fixture": manifest,
              "calibration": res["calibration"], "clients": res["clients"],
              "setup_s": res["setup_s"], "passes_s": res["passes_s"],
              "failed_ops": sorted({c["op"] for c in failed}),
              "metrics": {k: metrics[k][0] for k in names}}
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{int(started)}"
    with open(os.path.join(runs, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace == 1:
        shutil.copyfile(os.path.join(BUILD, "run", "spans.jsonl"),
                        os.path.join(runs, tag + ".spans.jsonl"))

    fx = manifest
    print(f"workload {args.workload} seed {args.seed} clients {res['clients']} "
          f"fixture {fx['rows']} rows {fx['bytes']} bytes "
          f"(replica {fx['replica_index']})")
    for k in names:
        v, cnt = metrics[k]
        print(f"{k} {v:.6g} {unit(k)} n={cnt}")
    print(f"fail_ratio {len(failed) / len(calls):.6g} ratio n={len(calls)}")
    for op in sorted({c['op'] for c in failed}):
        errs = [c["error"] for c in failed if c["op"] == op and c["error"]]
        print(f"FAILED {op}: " + (errs[0] if errs else "result hash mismatch"))
    cal = res["calibration"]
    print(f"calibration single_core_s {cal['calib_single_s']:.4f} "
          f"all_cores_s {cal['calib_all_cores_s']:.4f}")
    print(json.dumps({
        "correct": not failed, "attempted": len(calls), "failed": len(failed),
        "metrics": {k: {"value": metrics[k][0], "unit": unit(k)}
                    for k in names}}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
