#!/usr/bin/env python3
"""The repository benchmark: the KG job end to end, and layer by layer.

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run:
  1. builds the engine and the benchmark's JVM program (perfbench/build.sbt) if the
     sources changed since the last build (outputs under .bench_build/);
  2. generates the workload's `documents` table from the seed (gen.py);
  3. measures set-up time: process start until the SparkSession is ready,
     in SETUP_SAMPLES fresh JVMs (the last one is the measuring JVM);
  4. times `KgPipeline.run` once into a fresh directory, cold as
     spark-submit runs it (job_s), then on the completed directory until
     --seconds have passed and at least MIN_RESUMES times (resume_s: median
     after the first RESUME_WARMUP), tracing off;
     with --trace 1, then makes the traced run, which calls each layer on
     its predecessor's materialized output (per-layer metrics);
  5. checks every run's outputs against counts DuckDB computes from the
     engine's own oracle SQL (`SparkEntry.oracleSql`), outside timing;
  6. prints the metrics, a fixed CPU probe taken before and after (context
     only, never used to drop or rescale a run), and as the last line one
     JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
sys.path.insert(0, HERE)
import gen  # noqa: E402

SETUP_SAMPLES = 3
MIN_RESUMES = 6
RESUME_WARMUP = 3  # resumes that warm the resume path's JIT; not in resume_s
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
PIPELINE_STAGES = 6  # snapshot stages KgPipeline.run reuses on a resume

# JDK 17 module opens Spark needs outside spark-submit (the root build.sbt
# passes the same list).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

# The end-to-end metrics of the KG job's design, in the order the text
# summary prints them; the reason follows for those no run measures here
# (see README.md).
NO_REGISTRY = "n/a: no registry workload"
END_TO_END = [
    ("setup_s", "s", None), ("job_s", "s", None), ("turns_per_s", "1/s", None),
    ("resume_s", "s", None), ("suite_s", "s", NO_REGISTRY), ("query_p50_s", "s", NO_REGISTRY),
    ("query_p87_s", "s", NO_REGISTRY),
    ("peak_rss_mb", "MB", "reported as spark.peak_rss_mb with --trace 1"),
    ("failed_ratio", "ratio", None),
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """SPARK_HOME, else the Spark distribution the root build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("SPARK_HOME is not set and build.sbt names no Spark jars directory")
    return os.path.dirname(m.group(1).rstrip("/"))


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(home):
    """Compile with sbt unless the classes match the current sources."""
    stamp_file = os.path.join(BUILD, "classes.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                           env=env, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {r.returncode}); log in {log}", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def note(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpu_probe():
    """Fixed CPU-only work (SHA-256 over 384 MiB), in seconds."""
    block = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(384):
        h.update(block)
    h.hexdigest()
    return time.perf_counter() - t0


def launch(home, run_dir, mode, extra, log_name):
    """Run the JVM program to completion; return its set-up time in seconds.

    Set-up time runs from just before the process is spawned until the
    program prints READY, i.e. until its SparkSession is ready."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
              "-cp", os.pathsep.join([CLASSES, os.path.join(home, "jars", "*")]),
              "perfbench.Main", mode, "--local-dir", local] + extra)
    log_path = os.path.join(run_dir, log_name)
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log, text=True)
        setup = None
        try:
            for line in p.stdout:
                if line.strip() == "READY" and setup is None:
                    setup = time.perf_counter() - t0
            code = p.wait(timeout=max(1.0, JVM_TIMEOUT_S - (time.perf_counter() - t0)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or setup is None:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"JVM program '{mode}' failed (exit {code}); log in {log_path}", 1)
    return setup


def components(edges):
    """node -> least node of its connected component (union-find): what the
    `kg_canonical` oracle SQL defines, without its recursive closure, whose
    cost grows with the square of component size."""
    parent = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def oracle_counts(sql, docs, tmp):
    """Expected counts from the engine's DuckDB oracle SQL (`kg_triples`,
    `kg_parse_errors`, `kg_mentions`, `kg_link_edges`) over the same
    documents table; canonical entities are the components of the edges."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count()}")
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(docs, 'documents.parquet', '*.parquet')}')")
    for name in ("kg_triples", "kg_parse_errors", "kg_mentions", "kg_link_edges"):
        con.execute(f"CREATE TEMP TABLE {name} AS {sql[name]}")

    def one(q):
        return con.execute(q).fetchone()[0]
    canonical = components(con.execute("SELECT a, b FROM kg_link_edges").fetchall())
    con.execute("CREATE TEMP TABLE canonical (node VARCHAR, component VARCHAR)")
    con.executemany("INSERT INTO canonical VALUES (?, ?)", list(canonical.items()))
    errors = one("SELECT n FROM kg_parse_errors")
    parsed = one("SELECT count(*) FROM kg_triples")
    triples = parsed + one("SELECT count(*) FROM kg_mentions m JOIN canonical c ON m.mention = c.node")
    entities = len(set(canonical.values()))
    expected = {
        "turns": 2 * one("SELECT count(*) FROM documents"),
        "parse_errors": errors, "parse_error_rows": errors, "parse_rows": parsed + errors,
        "triples": triples, "triples_all": triples,
        "mentions": one("SELECT count(*) FROM kg_mentions"),
        "distinct_mentions": one("SELECT count(DISTINCT mention) FROM kg_mentions"),
        "edges": one("SELECT count(*) FROM kg_link_edges"),
        "entities": entities, "components": entities,
    }
    con.close()
    return expected


def mismatches(got, expected):
    return {k: (v, expected[k]) for k, v in got.items() if k in expected and v != expected[k]}


def check(result, expected, trace):
    """Count operations and failed ones: a pipeline run fails on an
    exception or on any count that differs from the oracle; the traced run
    is one more operation, checked the same way."""
    attempted = failed = 0
    for op in result["ops"]:
        attempted += 1
        if "error" in op:
            failed += 1
            print(f"perfbench: {op['kind']} run failed: {op['error']}", file=sys.stderr)
            continue
        stats = dict(op["stats"])
        reused = stats.pop("reused_stages")
        bad = mismatches(stats, expected)
        if reused != (PIPELINE_STAGES if op["kind"] == "resume" else 0):
            bad["reused_stages"] = reused
        if bad:
            failed += 1
            print(f"perfbench: {op['kind']} run output differs from the oracle: {bad}", file=sys.stderr)
    if trace:
        attempted += 1
        layers = result["layers"]
        bad = layers.get("error") or mismatches(layers["counts"], expected)
        if bad:
            failed += 1
            print(f"perfbench: traced run differs from the oracle: {bad}", file=sys.stderr)
    return attempted, failed


def end_to_end(result, setups, expected):
    ok = [op for op in result["ops"] if "error" not in op]
    resume = [op["seconds"] for op in ok if op["kind"] == "resume"][RESUME_WARMUP:]
    if "error" in result["ops"][0] or not resume:
        fail("no pipeline run completed", 1)
    job_s = result["ops"][0]["seconds"]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "job_s": (job_s, "s"),
        "turns_per_s": (expected["turns"] / job_s, "1/s"),
        "resume_s": (statistics.median(resume), "s"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(gen.WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout")

    home = spark_home()
    build(home)
    probe_before = cpu_probe()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    docs = os.path.join(run_dir, "docs")
    t = time.perf_counter()
    params = gen.generate(a.workload, a.seed, docs)
    note(f"generated inputs in {time.perf_counter() - t:.1f} s")

    setups = [launch(home, run_dir, "setup", [], f"setup-{i}.log") for i in range(SETUP_SAMPLES - 1)]
    result_file = os.path.join(run_dir, "result.json")
    setups.append(launch(home, run_dir, "run", [
        "--docs", docs, "--work", os.path.join(run_dir, "work"), "--seconds", str(a.seconds),
        "--min-resumes", str(MIN_RESUMES), "--trace", str(a.trace), "--out", result_file], "run.log"))
    note(f"set-up samples {', '.join(f'{x:.2f}' for x in setups)} s")
    with open(result_file) as f:
        result = json.load(f)
    t = time.perf_counter()
    expected = oracle_counts(result["oracle_sql"], docs, os.path.join(run_dir, "tmp"))
    note(f"oracle counts in {time.perf_counter() - t:.1f} s")
    attempted, failed = check(result, expected, a.trace)
    note("runs " + ", ".join(f"{op['kind']} {op.get('seconds', float('nan')):.2f}" for op in result["ops"]))
    probe_after = cpu_probe()

    if a.trace:
        layers = result["layers"]
        if "metrics" not in layers:
            fail(f"traced run failed: {layers.get('error')}", 1)
        metrics = {k: (v["value"], v["unit"]) for k, v in sorted(layers["metrics"].items())}
        with open(os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(layers["spans"], f, indent=1)
    else:
        metrics = end_to_end(result, setups, expected)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer" if a.trace else "end_to_end"]}
    if declared != set(metrics):
        fail(f"metrics differ from BENCHMARK.json: {sorted(declared ^ set(metrics))}", 1)

    print(f"workload {a.workload} seed {a.seed}: {params['docs']} documents, "
          f"{expected['turns']} turns, {expected['distinct_mentions']} distinct mentions, "
          f"{expected['edges']} link edges, {expected['entities']} entities")
    print(f"cpu_probe_s before {probe_before:.4f} after {probe_after:.4f}")
    if not a.trace:
        shown = dict(metrics, failed_ratio=(failed / attempted, "ratio"))
        for name, unit, absent in END_TO_END:
            print(f"  {name:<14} " + (absent or f"{shown[name][0]:.4f} {unit}"))
    else:
        for name, (v, unit) in metrics.items():
            print(f"  {name:<28} {v:.6g} {unit}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
