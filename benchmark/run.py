#!/usr/bin/env python3
"""Benchmark of the accident-prediction engine; see README.md here.

    python3 benchmark/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the driver with sbt and fills the oracle cache; later runs reuse both.
The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

# Registry queries, picked by the rules in README.md. The seed orders them.
REGISTRY = {
    "registry_heavy": [
        "q_graph_kcore", "q_dedup_minhash_lsh", "q_ml_tvs_best",
        "q_join_asof_native", "q_join_interval_native",
    ],
}
PIPELINE = {"streets": 800, "accidents": 8000, "years": (2016, 2017),
            "split": "2017-01-01", "negfrac": 0.002}
WORKLOADS = ["pipeline_montreal", *REGISTRY]
PER_LAYER = [
    "sessions.start_s", "tables.load_ms", "tables.load_jobs",
    "queries.builder_s", "queries.builder_jobs", "queries.cache_entries_left",
    "plans.planning_ms", "plans.exchanges", "plans.broadcast_joins",
    "exec.jobs", "exec.shuffle_write_mb", "exec.task_s", "exec.cpu_s", "exec.gc_s",
    "exec.stages", "exec.tasks", "exec.shuffle_read_mb", "exec.spill_mb", "exec.evicted_blocks",
    "exec.utilisation",
    "sources.kmz_parse_s", "sources.csv_read_s", "sources.stage_write_s",
    "operators.road_features_s", "operators.nearest_match_s",
    "operators.nearest_match_jobs", "operators.threshold_metrics_s",
    "pipeline.dataset_s", "pipeline.examples",
    "ml.fit_s", "ml.fit_jobs", "ml.evaluate_s", "ml.undersample_kept_ratio",
]
PER_LAYER_UNITS = {"ms": "ms", "s": "s", "mb": "MB"}
# the star-schema fixtures described in TESTDATA.md, as graft.Bench reads them
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Spark threads: every core the process may run on, as `Sessions.local`
# takes by default. The heap is SPARK_DRIVER_MEM, as in the root build, but
# 4g by default: the traced run counts spills and cache evictions, which
# stay 0 at that size (README.md, "Heap and threads").
CPUS = len(os.sched_getaffinity(0))
HEAP = os.environ.get("SPARK_DRIVER_MEM", "4g")
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
JAVA_TIMEOUT_S = 150


def die(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the driver when their sources changed.
    Returns (seconds spent, classpath)."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        die(f"cannot build: missing {', '.join(os.path.relpath(p, ROOT) for p in missing)}")
    stamp = tree_digest(sources)
    bdir = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return 0.0, open(cp_file).read()
    t0 = time.time()
    shutil.rmtree(bdir, ignore_errors=True)
    os.makedirs(bdir)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if ln.strip() and ":" in ln and os.path.isdir(ln.strip().split(":")[0])]
    if p.returncode != 0 or not cps:
        die("build failed:\n" + p.stdout[-4000:])
    classpath = cps[-1]
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    java(classpath, ["dump-oracles", f"out={os.path.join(bdir, 'oracles.json')}"],
         os.path.join(bdir, "dump.log"))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return time.time() - t0, classpath


def java(classpath, args, log_path):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
                                "graftbench.Main", *args],
                               cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=log,
                               stderr=subprocess.STDOUT, timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"driver timed out after {JAVA_TIMEOUT_S} s; log: {log_path}")
    if p.returncode != 0:
        with open(log_path, errors="replace") as fh:
            die(f"driver failed ({p.returncode}):\n" + fh.read()[-4000:])


def oracle_results(queries):
    """DuckDB oracle results for `queries`, cached under work/oracle by the
    SQL text and the table files; property checks for rows-only queries.
    Returns (results, seconds spent computing missing entries)."""
    import duckdb
    from checks import PROPERTY_CHECKS, read_parquet
    with open(os.path.join(WORK, "build", "oracles.json")) as fh:
        oracles = json.load(fh)["oracles"]
    tables = hashlib.sha256()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if not os.path.exists(path):
            die(f"missing registry table {path}")
        tables.update(tree_digest([path]).encode())
    odir = os.path.join(WORK, "oracle")
    os.makedirs(odir, exist_ok=True)
    out, spent, con = {}, 0.0, None
    for name in queries:
        if name in PROPERTY_CHECKS:
            out[name] = PROPERTY_CHECKS[name]
            continue
        sql = oracles[name]
        key = hashlib.sha256((sql + tables.hexdigest()).encode()).hexdigest()[:20]
        path = os.path.join(odir, f"{name}-{key}")
        if not os.path.exists(path):
            t0 = time.time()
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp', 'duckdb')}'")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
            os.makedirs(path + ".tmp", exist_ok=True)
            target = os.path.join(path + ".tmp", "part-0.parquet")
            con.execute(f"COPY ({materialize_ctes(sql)}) TO '{target}' (FORMAT PARQUET)")
            os.rename(path + ".tmp", path)
            spent += time.time() - t0
        out[name] = read_parquet(path)
    return out, spent


def materialize_ctes(sql):
    """Marks every common table expression MATERIALIZED, so that DuckDB
    computes each once; without it the k-core oracle re-expands its
    peeling rounds and runs out of temp disk. A CTE head is a name and
    `AS (` that follows `WITH` or the `),` closing the previous CTE."""
    return re.sub(r"(\bWITH\s+|\),\s*)([A-Za-z_]\w*)\s+AS\s*\(",
                  r"\1\2 AS MATERIALIZED (", sql, flags=re.IGNORECASE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    excluded_s, classpath = build()
    import checks
    import montreal

    run_dir = os.path.join(WORK, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_dir = os.path.join(run_dir, "out")
    args = ["run", f"workload={a.workload}", f"seconds={a.seconds}", f"trace={a.trace}",
            f"cpus={CPUS}", f"out={out_dir}", f"result={os.path.join(run_dir, 'result.json')}"]
    if a.workload == "pipeline_montreal":
        in_dir = os.path.join(run_dir, "in")
        truth = montreal.generate(a.seed, in_dir, PIPELINE["streets"], PIPELINE["accidents"],
                                  PIPELINE["years"])
        args += [f"in={in_dir}", f"years={','.join(map(str, PIPELINE['years']))}",
                 f"split={PIPELINE['split']}", f"negfrac={PIPELINE['negfrac']}"]
    else:
        queries = list(REGISTRY[a.workload])
        random.Random(a.seed).shuffle(queries)
        oracle, spent = oracle_results(queries)
        excluded_s += spent
        args += [f"sf={SF_DIR}", f"queries={','.join(queries)}"]

    java(classpath, args, os.path.join(run_dir, "driver.log"))
    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)

    if a.workload == "pipeline_montreal":
        outputs = checks.pipeline_outputs(os.path.join(out_dir, "pipeline"))
        fails = checks.check_pipeline(outputs, truth, PIPELINE["split"], a.seed)
        auprc = checks.test_auprc(outputs["results"])
    else:
        reg = os.path.join(out_dir, "registry")
        fails = checks.check_registry(reg, queries, oracle)
        auprc = checks.tvs_best_auprc(checks.read_parquet(os.path.join(reg, "q_ml_tvs_best")))
    for f in fails:
        print(f"check failed: {f}", file=sys.stderr)

    rounds = res["rounds"]
    if a.trace:
        with open(os.path.join(run_dir, "profile.json"), "w") as fh:
            json.dump(res["profile"], fh, indent=1)
        metrics = {n: {"value": float(res["layers"].get(n, 0.0)),
                       "unit": per_layer_unit(n)} for n in PER_LAYER}
    else:
        metrics = {
            "wall_s": {"value": statistics.median(r["wall_s"] for r in rounds), "unit": "s"},
            "setup_s": {"value": res["timed_start_ms"] / 1000 - T_START - excluded_s, "unit": "s"},
            "jobs": {"value": statistics.median(r["jobs"] for r in rounds), "unit": "count"},
            "shuffle_mb": {"value": statistics.median(r["shuffle_write_bytes"] for r in rounds) / 1e6,
                           "unit": "MB"},
            "test_auprc": {"value": auprc, "unit": "ratio"},
        }
    for f in res["failures"]:
        print(f"operation failed: {f}", file=sys.stderr)
    print(json.dumps({"correct": not fails, "attempted": len(rounds) * res["ops_per_round"],
                      "failed": len(res["failures"]), "metrics": metrics}))


def per_layer_unit(name):
    suffix = name.rsplit("_", 1)[-1]
    if suffix in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[suffix]
    return "ratio" if name.endswith(("utilisation", "ratio")) else "count"


if __name__ == "__main__":
    main()
