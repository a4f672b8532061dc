#!/usr/bin/env python3
"""Pipeline benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The steps:
  1. build the engine and the benchmark main (perfbench/build.py; skipped
     when the sources are unchanged);
  2. generate the seeded inputs for W (perfbench/datagen.py; once per seed,
     outside every timing);
  3. compute the DuckDB oracle results of W's oracle-backed outputs from
     SparkEntry.oracleSql over the same generated tables;
  4. run W in one `local[nproc]` Spark JVM (perfbench.PipelineBench),
     which times set-up, a cold iteration and S seconds of warm iterations
     and checks every iteration's outputs.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The line before it records the host, the load gate, and the
input row counts. Everything is written under .bench_build (or
$CARGO_TARGET_DIR): classes, data, logs, traces and one record per run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
import build  # noqa: E402
import datagen  # noqa: E402

# scales of the generated inputs per workload: the workload's own first,
# then any a part of it runs at (methyl_study ingests the sf0.01 IDAT panel)
WORKLOADS = {
    "methyl_study": ("0.1", "0.01"),
    "curation": ("0.1",),
    "idat_ingest": ("0.1",),
    "relational_floor": ("0.01",),
}
E2E_UNITS = {"setup_s": "s", "first_iter_s": "s", "iter_s_p50": "s",
             "rows_per_s": "rows/s", "peak_rss_mb": "MB", "ok_frac": "ratio"}
# the program's own driver heap (build.sbt: SPARK_DRIVER_MEM, default 8g)
HEAP = os.environ.get("SPARK_DRIVER_MEM") or "8g"
# a fixed young generation: with the collector's own sizing, the resident
# peak follows when collections happen (IQR/median 0.38 over five
# `curation` runs) rather than what the run keeps live
YOUNG = "1g"
KEEP_SEEDS = 24  # generated input sets kept on disk, most recent first
RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_RUN_LIMIT_S = 880  # ... or 900 s when it also builds
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def layer_unit(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf in ("core_util", "share", "skipped_stage_ratio", "overhead_frac",
                "unattributed_frac"):
        return "ratio"
    return "count"


def host_fingerprint():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    load1 = os.getloadavg()[0]
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "xmx": HEAP, "load1_at_start": load1,
            # Bench's trust rule: a run that starts at load >= 1.0 is flagged
            "trusted": load1 < 1.0}


def java(cls_args, log, timeout, cwd, env_extra=None):
    env = dict(os.environ, **(env_extra or {}))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(cwd, 'tmp')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.PipelineBench"] + cls_args
    os.makedirs(os.path.join(cwd, "tmp"), exist_ok=True)
    with open(log, "w") as out:
        return subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd,
                              env=env, timeout=timeout).returncode


def oracle_results(workload, stamp, data, work, deadline):
    """DuckDB results of the workload's oracle SQL, cached per build.

    Each query runs over the tables of its own scale: `data`, or its
    sibling `sf<scale>` directory.
    """
    sql_file = os.path.join(build.BUILD, f"oracle-{workload}-{stamp}.json")
    if not os.path.exists(sql_file):
        log = os.path.join(build.BUILD, "logs", f"oracle-{workload}.log")
        if java(["--export-oracle", workload, sql_file], log,
                deadline - time.time(), work) != 0:
            raise SystemExit(f"oracle SQL export failed, see {log}")
    with open(sql_file) as f:
        sqls = json.load(f)
    out = os.path.join(data, f"oracle-{workload}-{stamp}")
    if not os.path.exists(os.path.join(out, "_done")):
        import duckdb
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        for name, q in sqls.items():
            src = data if q["scale"] is None \
                else os.path.join(os.path.dirname(data), f"sf{q['scale']}")
            con = duckdb.connect()
            con.execute("SET threads = 4")
            con.execute(f"SET temp_directory = '{os.path.join(build.BUILD, 'duckdb-tmp')}'")
            for t in ["region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"]:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}/{t}.parquet'")
            con.execute(f"COPY ({q['sql']}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")
            con.close()
        open(os.path.join(out, "_done"), "w").close()
    return out


def prune_data(root, keep=KEEP_SEEDS):
    """Drops the oldest generated input sets beyond the newest `keep`."""
    if not os.path.isdir(root):
        return
    seeds = sorted((os.path.join(root, d) for d in os.listdir(root)),
                   key=os.path.getmtime, reverse=True)
    for d in seeds[keep - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    host = host_fingerprint()

    if not os.path.isfile(os.path.join(build.PROGRAM_SOURCES, "graft", "SparkEntry.scala")):
        print(f"perfbench: the engine sources ({build.PROGRAM_SOURCES}) are missing; "
              "run from the repository root", file=sys.stderr)
        return 2
    stamp, compiled = build.build()
    limit = BUILD_RUN_LIMIT_S if compiled else RUN_LIMIT_S
    deadline = started + limit

    phases = {"build_s": time.time() - started}
    seed_dir = os.path.join(build.BUILD, "data", f"seed-{a.seed}")
    table_rows = {}
    for scale in WORKLOADS[a.workload]:
        d = os.path.join(seed_dir, f"sf{scale}")
        if not os.path.exists(os.path.join(d, "rows.json")):
            if not os.path.isdir(seed_dir):
                prune_data(os.path.join(build.BUILD, "data"))
            datagen.generate(d, scale, a.seed)
        with open(os.path.join(d, "rows.json")) as f:
            table_rows[f"sf{scale}"] = json.load(f)
    data = os.path.join(seed_dir, f"sf{WORKLOADS[a.workload][0]}")
    phases["datagen_s"] = time.time() - started - phases["build_s"]
    work = os.path.join(build.BUILD, "work")
    for d in ("digests", "logs", "runs", "traces", "work"):
        os.makedirs(os.path.join(build.BUILD, d), exist_ok=True)
    t0 = time.time()
    oracle = oracle_results(a.workload, stamp, data, work, deadline)
    phases["oracle_s"] = time.time() - t0

    tag_seed = f"{a.workload}-seed{a.seed}"
    tag = f"{tag_seed}-trace{a.trace}"
    result = os.path.join(build.BUILD, "runs", f"{tag}.raw.json")
    log = os.path.join(build.BUILD, "logs", f"{tag}.log")
    args = ["--workload", a.workload, "--data", data, "--oracle", oracle,
            "--scratch", os.path.join(build.BUILD, "scratch", a.workload),
            "--result", result, "--seconds", str(a.seconds),
            "--trace", str(a.trace),
            "--cpus", str(host["nproc"]),
            "--digests", os.path.join(build.BUILD, "digests", f"{tag_seed}-{stamp}.tsv"),
            "--trace-file", os.path.join(build.BUILD, "traces", f"{tag}.json")]
    if os.path.exists(result):
        os.remove(result)
    t0 = time.time()
    try:
        rc = java(args + ["--launch-ns", str(time.time_ns())], log,
                  deadline - time.time(), work,
                  {"SPARK_LOCAL_DIRS": os.path.join(build.BUILD, "spark-local")})
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {limit} s, see {log}", file=sys.stderr)
        return 1
    phases["jvm_s"] = time.time() - t0
    if rc != 0 or not os.path.exists(result):
        print(f"perfbench: JVM exited {rc}, see {log}", file=sys.stderr)
        return 1
    with open(result) as f:
        r = json.load(f)

    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(r["per_layer"].items())}
    else:
        metrics = {k: {"value": r["end_to_end"][k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "host": dict(host, spark_version=r["spark_version"],
                           max_heap_mb=r["max_heap_mb"]),
              "input_rows": r["input_rows"], "table_rows": table_rows,
              "failures": r["failures"][:10], "wall_s": phases,
              "tables_build_s": r["tables_build_s"],
              "iterations": r["iterations"]}
    with open(os.path.join(build.BUILD, "runs", f"{tag}.json"), "w") as f:
        json.dump(dict(record, metrics=metrics), f, indent=1)
    for msg in r["failures"][:10]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({k: record[k] for k in ("host", "input_rows", "table_rows")}))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
