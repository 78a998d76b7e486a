#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source,
runs one workload in a fresh JVM, checks every output, and prints one JSON
line of metrics as the last line of stdout.

Usage (from the repository root):
  python3 layerbench/run.py --workload image_io|corpus_queries|lake_commits
      --seed N --seconds S --trace 0|1

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
(see BENCHMARK.json). Exit code 0 only when every output was correct.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("image_io", "corpus_queries", "lake_commits")
# The read-only star schema corpus_queries runs on: $SPARK_GRAFT_SF_DIR, as
# for the engine's own bench, else the sf0.1 drop under ~/testdata.
DEFAULT_DATA = os.environ.get("SPARK_GRAFT_SF_DIR",
                              os.path.expanduser("~/testdata/sf0.1"))
JVM_TIMEOUT_S = 170

# Nominal seconds of one timed cycle at 2 Spark slots on a 4-vCPU host. The
# timed phase is a fixed number of whole cycles derived from --seconds (at
# least two), never a time budget, so every run of a workload does the same
# ops. The untimed warm-up runs whole cycles until at least
# warmup_ops ops have run: in a fresh JVM an image op's latency falls from
# ~740 ms to ~510 ms over its first ~45 ops (JIT), so image_io warms up
# past that curve.
PLAN = {
    "image_io": dict(cycle_s=1.6, warmup_ops=45),
    "corpus_queries": dict(cycle_s=5.2, warmup_ops=5),
    "lake_commits": dict(cycle_s=3.1, warmup_ops=7),
}
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xss8m"]

SPANS = [
    "plugins.resolve_ms", "readers.open_ms", "meta.ome_ms", "image.select_ms",
    "writers.save_ms", "readers.region_ms", "ops.build_ms", "ops.plan_ms",
    "ops.execute_ms", "sources.append_ms", "sources.merge_ms",
    "sources.delete_ms", "sources.update_ms", "sources.compact_ms",
    "streaming.batch_ms", "sources.read_ms", "sources.time_travel_ms",
]
WALK_SPAN = "bench.walk_ms"
QUERY_KEYS = ["q05_region_revenue", "q38_lsh_buckets",
              "q43_embedding_neardup", "q44_ann_probe", "q72_bm25"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[layerbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars directory, from $SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    """Every file the build reads, in a stable order."""
    engine = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(engine, "scala")):
        die(f"no engine sources at {engine}/scala: run from the repository root")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(build_root, jars, files):
    """Compiles src/main/scala and layerbench/src into a directory keyed by
    the hash of every input, so each run uses classes built from exactly the
    checked-out sources and nothing else reaches the classpath."""
    h = hashlib.sha256(open(__file__, "rb").read())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        h.update(open(f, "rb").read())
    out = os.path.join(build_root, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "BUILD_OK")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [f for f in files if f.endswith(".scala")]
    log(f"compiling {len(scala)} Scala files into {os.path.relpath(out, ROOT)}")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.path.join(jars, "*")] + scala,
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compilation failed")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, "BUILD_OK"), "w").write(h.hexdigest() + "\n")
    try:
        os.rename(tmp, out)
    except OSError:  # built concurrently by another run: keep that one
        shutil.rmtree(tmp, ignore_errors=True)
    log(f"compiled in {time.time() - t0:.1f} s")
    for old in glob.glob(os.path.join(build_root, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def graft_tmp_dirs():
    return set(glob.glob("/tmp/graft_*") + glob.glob("/tmp/graft-*"))


def run_jvm(args, classes, jars, scratch, out, plan, slots, data):
    cycles = max(2, round(args.seconds / plan["cycle_s"]))
    cmd = ["java"] + JVM_OPTS
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={scratch}/tmp",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "conf", "log4j2.properties"),
        f"-Dderby.system.home={scratch}/derby",
        f"-Dderby.stream.error.file={scratch}/derby/derby.log",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--cycles", str(cycles), "--warmup-ops", str(plan["warmup_ops"]),
        "--trace", str(args.trace),
        "--slots", str(slots), "--scratch", scratch, "--out", out,
        "--data", data]
    os.makedirs(f"{scratch}/tmp")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(slots))
    launched = time.time()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"workload JVM did not finish within {JVM_TIMEOUT_S} s")
    if rc != 0:
        die(f"workload JVM exited with code {rc}")
    return launched


def read_lines(path):
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def render(v):
    """Engine-neutral value rendering, the same as CorpusQueries.digest."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return str(math.floor(v * 1e6 + 0.5))
    if hasattr(v, "is_finite"):  # decimal.Decimal
        return str(math.floor(float(v) * 1e6 + 0.5))
    return str(v)


def golden_digests(sql_by_key, data, cache_dir):
    """Digests of the DuckDB oracle SQL's results, canonicalised as
    tools/oracle_check.py does (columns by name, rows sorted). Cached by the
    SQL text and the data files' sizes and times, which fix the result."""
    import duckdb
    tables = sorted(glob.glob(os.path.join(data, "*.parquet")))
    key = hashlib.sha256(json.dumps(sql_by_key, sort_keys=True).encode())
    for t in tables:
        st = os.stat(t)
        key.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(cache_dir, f"goldens-{key.hexdigest()[:16]}.json")
    if os.path.isfile(path):
        return json.load(open(path))
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in tables:
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    out = {}
    for k, sql in sorted(sql_by_key.items()):
        rows = con.execute(sql).fetchall()
        cols = [d[0] for d in con.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        lines = sorted("\x1f".join(render(r[i]) for i in order) for r in rows)
        text = ",".join(cols[i] for i in order) + "\n" + "\n".join(lines)
        out[k] = hashlib.sha256(text.encode()).hexdigest()
    con.close()
    json.dump(out, open(path, "w"))
    return out


def pct(xs, q):
    """Linear-interpolated percentile (q in 0..100)."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(ops, spans, counters, spark, run, workload):
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    traced_ids = {o["id"] for o in traced}
    # op wall time without the benchmark's own directory walks (file and
    # byte counts taken in traced cycles)
    walks = {}
    for s in spans:
        if s["name"] == WALK_SPAN:
            walks[s["op"]] = walks.get(s["op"], 0) + s["t1"] - s["t0"]
    wall = {o["id"]: (o["t1"] - o["t0"] - walks.get(o["id"], 0)) / 1e6 for o in ops}
    m = {}

    # self time per span: its duration minus its children's, summed per op
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["t1"] - s["t0"]
    per_op = {}
    for s in spans:
        k = (s["name"], s["op"])
        per_op[k] = per_op.get(k, 0) + s["t1"] - s["t0"] - child.get(s["id"], 0)
    for name in SPANS:
        vals = [v / 1e6 for (n, _), v in per_op.items() if n == name]
        m[name] = statistics.median(vals) if vals else 0.0

    def counter(name):
        return sum(c["value"] for c in counters if c["name"] == name)

    image_ops = [o for o in traced if o["kind"] == "image"]
    m["writers.files_per_op"] = counter("writers.files") / max(1, len(image_ops))
    m["writers.bytes_per_op"] = counter("writers.bytes") / max(1, len(image_ops))
    for k in QUERY_KEYS:
        vals = [wall[o["id"]] for o in ops if o["kind"] == k]
        m[f"ops.{k}_p50_ms"] = statistics.median(vals) if vals else 0.0
    commits = counter("sources.commits")
    m["sources.files_per_commit"] = counter("sources.files") / commits if commits else 0.0
    ub = counter("sources.user_bytes")
    m["sources.write_bytes_per_user_byte"] = counter("sources.bytes") / ub if ub else 0.0
    fig = run["figures"]
    m["sources.table_mb"] = fig.get("disk_bytes", 0) / 2**20 if workload == "lake_commits" else 0.0
    m["bytes_per_user_byte"] = (fig["disk_bytes"] / fig["user_bytes"]
                                if fig.get("user_bytes") else 0.0)

    sp = [s for s in spark if s["op"] in traced_ids]
    n = max(1, len(traced))

    def tot(k):
        return sum(s[k] for s in sp)
    m["spark.jobs_per_op"] = tot("jobs") / n
    m["spark.stages_per_op"] = tot("stages") / n
    m["spark.tasks_per_op"] = tot("tasks") / n
    m["spark.task_run_ms_per_op"] = tot("run_ms") / n
    m["spark.task_cpu_ms_per_op"] = tot("cpu_ns") / 1e6 / n
    m["spark.task_gc_ms_per_op"] = tot("gc_ms") / n
    m["spark.input_bytes_per_op"] = tot("input_bytes") / n
    m["spark.shuffle_bytes_per_op"] = tot("shuffle_bytes") / n
    m["spark.spill_bytes_per_op"] = tot("spill_bytes") / n
    m["streaming.triggers_per_op"] = tot("triggers") / n
    jobs = {s["op"]: s["job_spans"] for s in sp}
    m["spark.driver_gap_ms"] = statistics.median(
        wall[o["id"]] - union_ms(jobs.get(o["id"], [])) for o in traced) if traced else 0.0
    m["jvm.gc_ms_per_op"] = sum(o["gc_ms"] for o in ops) / max(1, len(ops))
    mean_t = statistics.fmean(wall[o["id"]] for o in traced)
    mean_u = statistics.fmean(wall[o["id"]] for o in untraced)
    m["trace.overhead_frac"] = mean_t / mean_u - 1.0
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA,
                    help="star-schema directory read by corpus_queries")
    args = ap.parse_args()

    jars = spark_jars()
    files = sources()
    build_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_root, exist_ok=True)
    classes = build(build_root, jars, files)
    if args.workload == "corpus_queries" and not os.path.isfile(
            os.path.join(args.data, "lineitem.parquet")):
        die(f"corpus_queries needs the star schema at {args.data}")

    slots = max(1, (os.cpu_count() or 2) // 2)
    scratch = os.path.join(build_root, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    out = os.path.join(scratch, "out")
    tmp_before = graft_tmp_dirs()
    try:
        launched = run_jvm(args, classes, jars, scratch, out, PLAN[args.workload],
                           slots, args.data)
        ops = read_lines(os.path.join(out, "ops.jsonl"))
        run = read_lines(os.path.join(out, "run.json"))[0]
        failures = list(run["failures"])
        if args.workload == "corpus_queries":
            sql = json.load(open(os.path.join(scratch, "inputs",
                                              "oracle_sql.json")))
            want = golden_digests(sql, args.data, build_root)
            for o in ops:
                if o["ok"] and o["digest"] != want[o["kind"]]:
                    o["ok"] = False
                    o["err"] = f"result digest {o['digest'][:12]} != oracle {want[o['kind']][:12]}"
        if args.trace:
            spans = read_lines(os.path.join(out, "spans.jsonl"))
            counters = read_lines(os.path.join(out, "counters.jsonl"))
            spark = read_lines(os.path.join(out, "spark.jsonl"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    leaked = sorted(graft_tmp_dirs() - tmp_before)
    for d in leaked:
        log(f"left behind by this run (not removed): {d}")
    for c in run["leftover_catalog_confs"]:
        log(f"session catalog conf left behind: {c}")

    failed = [o for o in ops if not o["ok"]]
    for o in failed[:10]:
        log(f"FAILED op {o['id']} ({o['kind']}): {o['err']}")
    for f in failures:
        log(f"FAILED check: {f}")
    attempted = len(ops)
    lat = [(o["t1"] - o["t0"]) / 1e6 for o in ops]
    session_s = run["session_ready_ms"] / 1e3 - launched
    setup_s = session_s + run["prepare_s"] + run["warmup_s"]
    log(f"set-up: session {session_s:.2f} s, inputs {run['prepare_s']:.2f} s, warm-up {run['warmup_s']:.2f} s; timed phase {run['timed_s']:.2f} s")
    if args.trace:
        metrics = per_layer(ops, spans, counters, spark, run, args.workload)
        metrics["failed_op_frac"] = len(failed) / attempted
        metrics["hygiene.leaked_tmp_dirs"] = float(len(leaked))
        metrics["hygiene.leftover_catalog_confs"] = float(len(run["leftover_catalog_confs"]))
    else:
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": attempted / run["timed_s"],
            "op_p50_ms": pct(lat, 50),
            "op_p90_ms": pct(lat, 90),
            "live_heap_mb": run["live_heap_bytes"] / 2**20,
        }
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if args.trace else "end_to_end"]}
    if set(units) != set(metrics):
        die(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")
    correct = not failed and not failures
    summary = " ".join(f"{k}={v:.4g}" for k, v in sorted(metrics.items()))
    print(f"{args.workload} seed={args.seed} trace={args.trace} n={attempted} "
          f"failed={len(failed)} failed_op_frac={len(failed) / attempted:.4g} "
          f"slots={slots} {summary}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
