#!/usr/bin/env python3
"""Benchmark runner: one run of one workload, result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source (sbt, offline) into `perfbench/target`; later
runs reuse the build while the sources are unchanged. Each run works in a
fresh directory under `.perfbench/` (inputs, spools, checkpoints, artifact
store, Spark scratch) and deletes it at the end.

Workloads and metrics are described in perfbench/WORKLOADS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["sensor_stream", "batch_curation"]
# Scale of the generated catalog for batch_curation (sf 1 = 6M lineitem rows).
SF = 0.01
HEAP = "-Xmx3g"
# all of a run's JVMs must end this long after the build is ready
JAVA_BUDGET_S = 170
# sensor_stream sets up this many times per run, each in a JVM of its own
# (the last one then measures); setup_s is the median
STREAM_SETUPS = 3

def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env(tmp):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):  # resolve from the local repositories only
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + benchmark once per source state; returns (classpath,
    jvm options, {"oracle": sql by query, "queries": batch query names})."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found: run from the root of a full checkout")
    stamp = sources_stamp()
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    opts_file = os.path.join(TARGET, "jvm_options.txt")
    oracle_file = os.path.join(TARGET, "oracle_sql.json")
    fresh = os.path.exists(stamp_file) and open(stamp_file).read() == stamp
    tmp = os.path.join(TARGET, "tmp")  # keeps build scratch inside the checkout
    os.makedirs(tmp, exist_ok=True)
    if not fresh:
        print("perfbench: building engine and benchmark", file=sys.stderr)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=sbt_env(tmp), stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=800)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            die("build failed")
    cp = open(cp_file).read().strip()
    jvm = [o for o in open(opts_file).read().split("\n") if o and not o.startswith("-Xmx")]
    if not fresh:
        r = subprocess.run(["java", *jvm, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
                            "--dump-oracle", oracle_file],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            die("oracle dump failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return cp, jvm, json.load(open(oracle_file))


def run_jvm(cp, jvm, work, args, deadline):
    """One benchmark JVM in `work`, ended by `deadline` (monotonic s);
    returns its raw record."""
    os.makedirs(os.path.join(work, "tmp"))
    props = [f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dspark.sql.warehouse.dir={work}/warehouse"]
    out = os.path.join(work, "raw.json")
    # start from settled disk state: writeback (and discards of files
    # deleted by an earlier run) must not land inside the measurement
    os.sync()
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        r = subprocess.run(["java", HEAP, *jvm, *props, "-cp", cp, "perfbench.Main", *args,
                            "--work", work, "--out", out],
                           cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                           timeout=max(1.0, deadline - time.monotonic()))
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-6000:])
        die(f"benchmark JVM exited with {r.returncode}")
    return json.load(open(out))


def oracle_rows(data, oracle):
    """Row count of every oracle-covered query, from DuckDB over the same
    generated tables the engine reads."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return {n: con.execute(f"SELECT count(*) FROM ({sql.rstrip().rstrip(';')})").fetchone()[0]
            for n, sql in oracle.items()}


def latencies(raw):
    """(untraced, traced) latency samples in ms. sensor_stream records
    receipts against its send schedule (open loop); batch_curation records
    query latencies directly."""
    d, s = raw["dists"], raw["scalars"]
    if "sched_t0_ms" not in s:
        return d.get("latency_ms", []), d.get("traced.latency_ms", [])
    lat = stats.open_loop_latencies(s["sched_t0_ms"], s["sched_interval_ms"],
                                    dict(zip(map(int, d["receipt_id"]), d["receipt_ms"])))
    cut = s["trace_from"]
    return ([v for i, v in lat.items() if i < cut], [v for i, v in lat.items() if i >= cut])


def end_to_end(raw, trace):
    d, s = raw["dists"], raw["scalars"]
    plain, traced = latencies(raw)
    lat = plain + (traced if trace else [])
    thr = d.get("throughput_per_s", []) + (d.get("traced.throughput_per_s", []) if trace else [])
    t, pct, n = stats.tail(lat)
    return {
        "setup_s": (stats.median(d["setup_s"]), "s"),
        "latency_p50_ms": (stats.median(lat), "ms"),
        "latency_tail_ms": (t, "ms"),
        "latency_geomean_ms": (stats.geomean(lat), "ms"),
        "throughput_per_s": (stats.median(thr), "1/s"),
        "heap_live_mb": (s["heap_live_mb"], "MB"),
    }, f"latency samples n={n}, tail = p{pct:.1f}"


def per_layer(raw, queries):
    d, s = raw["dists"], raw["scalars"]

    def p50(name):
        return stats.median(d[name]) if d.get(name) else 0.0

    def p99(name):
        return stats.tail(d[name])[0] if d.get(name) else 0.0

    passes = max(1, len(d.get("traced.throughput_per_s", [])))
    selfs = stats.self_times(raw["spans"])
    m = {
        "sources.wire.publish_ms_p50": (p50("sources.wire.publish_ms"), "ms"),
        "sources.wire.publish_ms_p99": (p99("sources.wire.publish_ms"), "ms"),
        "sources.wire.bridged": (s.get("sources.wire.bridged", 0.0), "count"),
        "sources.wire.gen_lag_ms_p99": (p99("sources.wire.gen_lag_ms"), "ms"),
        "sources.spool.latest_offset_ms_p50": (p50("phase.latestOffset"), "ms"),
        "sources.spool.get_batch_ms_p50": (p50("phase.getBatch"), "ms"),
        "sources.spool.dense_prefix_ms": (s.get("sources.spool.dense_prefix_ms", 0.0), "ms"),
        "sources.spool.dense_prefix_files": (s.get("sources.spool.dense_prefix_files", 0.0), "count"),
        "sources.sink.publish_us_p50": (p50("sources.sink.publish_us"), "us"),
        "sources.sink.published": (s.get("sources.sink.published", 0.0), "count"),
        "streaming.microbatch.trigger_ms_p50": (p50("streaming.microbatch.trigger_ms"), "ms"),
        "streaming.microbatch.trigger_ms_p99": (p99("streaming.microbatch.trigger_ms"), "ms"),
        "streaming.microbatch.planning_ms_p50": (p50("phase.queryPlanning"), "ms"),
        "streaming.microbatch.add_batch_ms_p50": (p50("phase.addBatch"), "ms"),
        "streaming.microbatch.wal_commit_ms_p50": (p50("phase.walCommit"), "ms"),
        "streaming.microbatch.commit_offsets_ms_p50": (p50("phase.commitOffsets"), "ms"),
        "streaming.microbatch.batches": (s.get("streaming.microbatch.batches", 0.0), "count"),
        "streaming.microbatch.rows_per_batch_p50": (p50("streaming.microbatch.rows_per_batch"), "count"),
        "streaming.pipelines.dd_transform_ms": (p50("streaming.pipelines.dd_transform_ms"), "ms"),
        "streaming.pipelines.rejected": (s.get("streaming.pipelines.rejected", 0.0), "count"),
        "streaming.pipelines.bad_ts_raises": (s.get("streaming.pipelines.bad_ts_raises", 0.0), "count"),
        "queries.build_s": (sum(d.get("queries.build_s", [])) / passes, "s"),
        "queries.exec_s": (sum(d.get("queries.exec_s", [])) / passes, "s"),
    }
    for q in queries:
        m[f"queries.{q}_s"] = (p50(f"queries.{q}_s"), "s")
    tasks = s.get("spark.tasks", 0.0)
    for k, unit in [("jobs", "count"), ("jobs_in_build", "count"), ("stages", "count"),
                    ("tasks", "count"), ("task_busy_s", "s"), ("task_overhead_s", "s"),
                    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]:
        m[f"spark.{k}"] = (s.get(f"spark.{k}", 0.0) / passes, unit)
    m["spark.useful_task_ratio"] = (s.get("spark.useful_tasks", 0.0) / tasks if tasks else 0.0, "ratio")
    m["artifacts.fits_measured"] = (s.get("artifacts.fits_measured", 0.0), "count")
    m["artifacts.fit_s_setup"] = (p50("artifacts.fit_s_setup"), "s")
    m["jvm.gc_ms"] = (s.get("jvm.gc_ms", 0.0), "ms")
    m["jvm.gc_old_n"] = (s.get("jvm.gc_old_n", 0.0), "count")
    for layer in ["sources.wire", "sources.spool", "sources.sink", "streaming.microbatch",
                  "streaming.pipelines", "queries", "spark"]:
        m[f"{layer}.self_ms"] = (selfs.get(layer, 0.0), "ms")
    m["trace.overhead_ratio"] = (overhead(raw), "ratio")
    m["baseline.drain_msgs_per_s"] = (s.get("baseline.drain_msgs_per_s", 0.0), "1/s")
    m["baseline.local1_drain_msgs_per_s"] = (s.get("baseline.local1_drain_msgs_per_s", 0.0), "1/s")
    return m


def overhead(raw):
    """Traced against untraced part of the traced run: per-sample latency
    for sensor_stream (its traced half records sample and publish spans
    live), time per pass for batch_curation."""
    d = raw["dists"]
    plain, traced = latencies(raw)
    if "sched_t0_ms" in raw["scalars"] and plain and traced:
        return stats.median(traced) / stats.median(plain) - 1
    if d.get("traced.throughput_per_s") and d.get("throughput_per_s"):
        return stats.median(d["throughput_per_s"]) / stats.median(d["traced.throughput_per_s"]) - 1
    return 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp, jvm, catalog = build()
    deadline = time.monotonic() + JAVA_BUDGET_S
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        setups = []
        if a.workload == "sensor_stream":
            for k in range(STREAM_SETUPS - 1):
                setups += run_jvm(cp, jvm, os.path.join(work, f"setup-{k}"),
                                  args + ["--setup-only", "1"], deadline)["dists"]["setup_s"]
        if a.workload == "batch_curation":
            import gen_data
            data = os.path.join(work, "data")
            gen_data.main(data, a.seed, SF)
            with open(os.path.join(work, "expected.json"), "w") as f:
                json.dump(oracle_rows(data, catalog["oracle"]), f)
            args += ["--data", data, "--expected", os.path.join(work, "expected.json")]
        raw = run_jvm(cp, jvm, os.path.join(work, "run"), args, deadline)
        raw["dists"]["setup_s"] = setups + raw["dists"]["setup_s"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()

    failures, findings = raw["failures"], raw.get("findings", [])
    valid, lag = stats.run_valid(raw["dists"].get("sources.wire.gen_lag_ms", []))
    e2e, note = end_to_end(raw, a.trace == 1)
    queries = catalog["queries"]
    metrics = per_layer(raw, queries) if a.trace else e2e
    attempted = max(1, int(raw["attempted"]))
    if a.trace:
        # a probe's finding counts here as one more attempted, failed check
        metrics["check.error_ratio"] = ((len(failures) + len(findings)) /
                                        (attempted + len(findings)), "ratio")
    for f in failures[:20]:
        print(f"FAILED: {f}")
    for f in findings:
        print(f"FOUND: {f}")
    if not valid:
        print(f"INVALID RUN: generator p99 lag {lag:.1f} ms > {stats.GEN_LAG_BOUND_MS} ms")
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}: {note}; "
          f"attempted={attempted} failed={len(failures)}")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": not failures and valid,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
