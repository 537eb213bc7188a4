#!/usr/bin/env python3
"""The repository's benchmark: one command per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and this package
(`build.py`, skipped when nothing changed), makes the workload's inputs from
the seed, runs the workload in one JVM (`perfbench.Main`), checks the
outputs outside the timed window, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (`--trace 0`) or every per-layer metric
(`--trace 1`). The line before it carries the detail: sample counts, the
tail quantile used, each ladder step's verdict and the check's outcome.
A failed check exits 1; a missing engine source tree or toolchain exits 2.
See README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import build  # noqa: E402

WORKLOADS = ("mood_stream", "mood_batch", "curation_store")
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "sustained_eps": "events/s",
    "wall_s": "s",
    "peak_rss_mb": "MB",
}
STORE_QUERIES = ("q124_allpairs_jaccard",)
PER_LAYER = dict(
    [("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_busy_s", "s"),
     ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
     ("spark.peak_exec_mem_mb", "MB"), ("spark.output_mb", "MB"),
     ("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
     ("streaming.state_commit_ms", "ms"), ("streaming.wal_commit_ms_p50", "ms"),
     ("streaming.planning_ms_p50", "ms"), ("streaming.add_batch_ms_p50", "ms"),
     ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
     ("streaming.watermark_dropped_rows", "count"), ("streaming.rows_out", "count"),
     ("streaming.batch_ms_p50.local1", "ms"),
     ("io.generator_late_ms_max", "ms"), ("io.backlog_events_max", "count"),
     ("io.written_bytes_per_row", "B/row"),
     ("pipeline.backfill_s", "s"), ("pipeline.export_load_s", "s"),
     ("pipeline.quality_s", "s"), ("pipeline.summary_s", "s"),
     ("pipeline.valid_ratio", "ratio")]
    + [(f"query.{q}_{k}", u) for q in STORE_QUERIES for k, u in (("s", "s"), ("jobs", "count"))])
# The whole run must end within 180 s; leave room for the checks.
JVM_DEADLINE_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_jvm(root, classes, args, work, deadline):
    """Run perfbench.Main; returns its raw record. Stops the JVM at the
    deadline and waits for it to end."""
    out = os.path.join(work, "raw.json")
    log = os.path.join(work, "jvm.log")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                          os.path.join(build.spark_jars(root), "*")])
    cmd = (["java"] + ADD_OPENS + [
        # a fixed young generation keeps the peak resident memory and the
        # batch times from following the collector's adaptive sizing
        "-Xmx3g", "-Xmn256m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), work, out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.readlines()[-40:]
        raise RuntimeError(f"JVM exited with {code}:\n" + "".join(tail))
    with open(out) as f:
        return json.load(f)


def check_batch(c):
    """Counts against the generated rows; summaries against DuckDB over the
    written parquet. Returns a list of problems."""
    import duckdb
    rows = c["rows"]
    problems = []
    if not c["succeeded"]:
        problems.append(f"pipeline did not succeed: {c['report']}")
    if c["backfilled"] != rows:
        problems.append(f"backfilled {c['backfilled']} rows, expected {rows}")
    e = c.get("export") or {}
    if (e.get("read"), e.get("valid"), e.get("written")) != (rows, rows, rows):
        problems.append(f"ExportResult {e} != {rows} rows")
    q = c.get("quality") or {}
    if (q.get("total"), q.get("missing"), q.get("invalid"), q.get("passed")) != (rows, 0, 0, True):
        problems.append(f"QualityCheck.Report {q} != {rows} clean rows")
    con = duckdb.connect()
    src = f"read_parquet('{c['parquet']}/*.parquet')"
    written = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
    if written != rows:
        problems.append(f"parquet holds {written} rows, expected {rows}")
    if not c["summaries"]:
        problems.append("no daily summaries")
    for s in c["summaries"]:
        rel = con.execute(f"""
            SELECT intersection, mood, count(*) AS records_count,
              CAST(sum(CAST(avg_speed AS DECIMAL(27,6))) AS DOUBLE) / count(avg_speed) AS avg_speed,
              CAST(sum(CAST(avg_temp AS DECIMAL(27,6))) AS DOUBLE) / count(avg_temp) AS avg_temp
            FROM {src}
            WHERE CAST(event_time AS DATE) = DATE '{s['day']}' AND event_time IS NOT NULL
              AND intersection IS NOT NULL AND weather IS NOT NULL AND avg_speed > 0
            GROUP BY intersection, mood""")
        cols = [d[0] for d in rel.description]
        ok, why = benchlib.same_result(cols, rel.fetchall(), cols,
                                       [tuple(r) for r in s["rows"]])
        if not ok:
            problems.append(f"summary {s['day']} differs from DuckDB: {why}")
    return problems


def check_store(c, data_dir):
    """Each query's result against its DuckDB oracle over the same corpus."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, 'documents.parquet')}')")
    problems = []
    for q, sql in sorted(c["oracle_sql"].items()):
        path = os.path.join(c["out_dir"], f"{q}.parquet")
        if sql is None or not os.path.isdir(path):
            problems.append(f"{q}: no oracle or no result")
            continue
        s = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        s_cols, s_rows = [d[0] for d in s.description], s.fetchall()
        o = con.execute(sql)
        o_cols, o_rows = [d[0] for d in o.description], o.fetchall()
        ok, why = benchlib.same_result(s_cols, s_rows, o_cols, o_rows)
        if not ok:
            problems.append(f"{q} differs from its oracle: {why}")
    return problems


def report(args, raw, setup_s, data_dir=None):
    """(detail, result line, exit code) from the JVM's raw record."""
    w = args.workload
    layers = {k: 0.0 for k in PER_LAYER}
    if w == "mood_stream":
        e2e, stream_layers, detail, attempted, failed = benchlib.stream_metrics(raw)
        layers.update(stream_layers)
        problems = [] if raw["check"]["ok"] else [raw["check"]["detail"]]
        detail["check"] = raw["check"]["detail"]
    else:
        e2e, detail = benchlib.closed_loop_metrics(raw)
        layers.update(raw.get("layers", {}))
        attempted, failed = raw["attempted"], raw["failed"]
        problems = (check_batch(raw["batch_check"]) if w == "mood_batch"
                    else check_store(raw["store_check"], data_dir))
        detail["errors"] = raw.get("errors", [])
    units = max(1, raw.get("units") or layers.get("streaming.batches") or 1)
    for k, v in (raw.get("spark") or {}).items():
        layers[f"spark.{k}"] = v if k == "peak_exec_mem_mb" else v / units
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = raw["peak_rss_mb"]
    detail.update(workload=w, seed=args.seed, failed_frac=failed / max(1, attempted),
                  problems=problems, end_to_end=e2e)
    names = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    line = {"correct": not problems, "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in names.items()}}
    return detail, line, 0 if not problems else 1


def keep_trace(root, args, work, detail):
    """Keep the span file, and report tracing overhead against an untraced
    run of the same workload and seed when one was kept."""
    results = os.path.join(build.build_dir(root), "results")
    os.makedirs(results, exist_ok=True)
    key = f"{args.workload}-seed{args.seed}"
    with open(os.path.join(results, f"{key}-trace{args.trace}.json"), "w") as f:
        json.dump(detail["end_to_end"], f)
    if not args.trace:
        return
    spans = os.path.join(work, "spans.json")
    if os.path.exists(spans):
        dst = os.path.join(build.build_dir(root), "trace", f"{key}.json")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(spans, dst)
        detail["spans_file"] = os.path.relpath(dst, root)
        with open(spans) as f:
            self_ms = json.load(f)["self_ms"]
        detail["self_ms_top"] = dict(sorted(self_ms.items(), key=lambda kv: -kv[1])[:12])
    untraced = os.path.join(results, f"{key}-trace0.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)
        detail["tracing_overhead"] = {k: detail["end_to_end"][k] - base[k]
                                      for k in base if k in detail["end_to_end"]}


def main(argv=None):
    args = parse(argv)
    root = os.getcwd()
    try:
        classes = build.build(root)
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2
    # set-up time runs from here: the build is not part of it
    setup_from = time.time()
    deadline = setup_from + JVM_DEADLINE_S
    work = os.path.join(build.build_dir(root), "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        if args.workload == "curation_store":
            import corpus
            os.makedirs(data)
            corpus.write(args.seed, os.path.join(data, "documents.parquet"))
        raw = run_jvm(root, classes, args, work, deadline)
        jvm_done = time.time()
        detail, line, code = report(args, raw, raw["timed_start_ms"] / 1000.0 - setup_from, data)
        detail["phases_s"] = {"setup": raw["timed_start_ms"] / 1000.0 - setup_from,
                              "timed": (raw["timed_end_ms"] - raw["timed_start_ms"]) / 1000.0,
                              "jvm_after_timed": jvm_done - raw["timed_end_ms"] / 1000.0,
                              "check_and_report": time.time() - jvm_done}
        keep_trace(root, args, work, detail)
    except Exception as e:  # a failed run prints no result
        print(f"perfbench: {args.workload} failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(line))
    return code


if __name__ == "__main__":
    sys.exit(main())
