#!/usr/bin/env python3
"""Benchmark for the unique-window engine and its curation tier.

    python3 perfbench/run.py --workload unique_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness with sbt; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, starts one JVM
(`perfbench.Harness`), checks every output the workload names against
the engine's DuckDB oracle (`SparkEntry.oracleSql`) outside the timed
region, prints every metric by name with its unit, and prints one JSON
object as its last line. `--trace 1` reports the per-layer metrics
instead of the end-to-end ones.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, "work")
HARNESS_TIMEOUT_S = 150

UNIQUE_ROWS = [
    "ever_current", "ever_expired", "ever_multikey", "ever_all", "first_current",
    "time_current", "time_expired", "timebatch_current", "timebatch_expired",
    "firsttimebatch_current", "firsttimebatch_expired", "externaltimebatch_current",
    "externaltimebatch_replacets", "externaltimebatch_expired", "length_current",
    "length_expired", "lengthbatch_current", "lengthbatch_expired",
    "firstlengthbatch_current", "firstlengthbatch_expired", "timelengthbatch_current",
    "timelengthbatch_expired", "deduplicate", "deduplicate_salted", "join_windows",
    "agg_over_window", "window_star_agg",
]
CURATION_ROWS = [
    "doc_exact_dedup", "doc_minhash_pairs", "doc_simhash_pairs", "doc_neardup_clusters",
    "doc_editdist_dedup", "doc_curation_pipeline", "doc_lm_ppl", "doc_quality_clf",
    "doc_bm25_stats", "emb_semdedup", "emb_neardup_pairs", "mm_image_semdedup",
    "mm_image_crop_pairs", "mm_image_crop_dedup", "mm_audio_seg_dedup",
    "mm_audio_offset_pairs",
]
STREAM_OPS = ["first", "ever", "ever_tws", "deduplicate", "time", "timebatch", "lengthbatch"]

# Zipf user keys: the hottest of 20k users holds about a fifth of the rows.
EVENTS = {"users": 20000, "zipf_s": 1.2}
WORKLOADS = {
    "unique_batch": {
        "rows": UNIQUE_ROWS,
        "inputs": {"events": dict(EVENTS, rows=10000),
                   "orders": {"rows": 30000, "customers": 3000}}},
    "curation_batch": {
        "rows": CURATION_ROWS,
        "inputs": {"documents": {"rows": 500, "exact_share": 0.05, "near_share": 0.10},
                   "embeddings": {"rows": 500, "dim": 64, "near_share": 0.05}}},
    "unique_stream": {
        "rows": STREAM_OPS,
        # closed loop at the registry replay rows' chunk size; the open-loop
        # rate sits below the slowest operator's closed-loop capacity; two
        # timed passes at least, for twice the micro-batch latency samples
        "min_passes": 2, "chunk": 2000, "open_rate": 1000, "open_seconds": 1.5,
        "inputs": {"events": dict(EVENTS, rows=4000)}},
}
# self-test scale: tiny inputs and a few rows of each workload
SMOKE = {
    "unique_batch": {"rows": ["ever_current", "lengthbatch_expired", "join_windows"],
                     "inputs": {"events": dict(EVENTS, rows=3000),
                                "orders": {"rows": 2000, "customers": 300}}},
    "curation_batch": {"rows": ["doc_exact_dedup", "doc_simhash_pairs", "mm_audio_offset_pairs"],
                       "inputs": {"documents": {"rows": 200, "exact_share": 0.05, "near_share": 0.10},
                                  "embeddings": {"rows": 200, "dim": 64, "near_share": 0.05}}},
    "unique_stream": {"rows": ["ever", "timebatch"], "inputs": {"events": dict(EVENTS, rows=2000)}},
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
              "cpu_s": "s", "peak_rss_mb": "MB"}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d) if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; returns the harness classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("no engine sources: run from a checkout of the whole repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    fp = h.hexdigest()
    cp_file = os.path.join(HARNESS, "target", "classpath.txt")
    stamp = os.path.join(HARNESS, "target", "sources.sha256")
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    t = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/writeClasspath"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0 or not os.path.isfile(cp_file):
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    with open(stamp, "w") as f:
        f.write(fp)
    print(f"# built in {time.time() - t:.1f} s", file=sys.stderr)
    return open(cp_file).read().strip()


def run_harness(cp, workload, spec, data, out, seconds, trace, plant):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: peak RSS does not depend on when G1 chose
    # to grow the heap or how much of it a run happened to touch, and moves
    # with off-heap use
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", workload, "--data", data,
            "--out", out, "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--rows", ",".join(spec["rows"]), "--plant", plant]
    for k in ("min_passes", "chunk", "open_rate", "open_seconds"):
        if k in spec:
            cmd += ["--" + k.replace("_", "-"), str(spec[k])]
    log = open(os.path.join(out, "harness.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    deadline = time.time() + HARNESS_TIMEOUT_S
    while True:
        pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            break
        if time.time() > deadline:
            proc.kill()
            os.wait4(proc.pid, 0)
            die(f"harness exceeded {HARNESS_TIMEOUT_S} s (log: {log.name})")
        time.sleep(0.05)
    log.close()
    code = os.waitstatus_to_exitcode(status)
    res_file = os.path.join(out, "result.json")
    if code != 0 or not os.path.isfile(res_file):
        with open(log.name) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"harness exited with {code}")
    res = json.load(open(res_file))
    res["peak_rss_mb"] = usage.ru_maxrss / 1024.0  # ru_maxrss is in KiB on Linux
    return res


def oracle_gate(data, checks):
    """Compare each written output with its DuckDB oracle on the same
    tables: columns sorted by name, rows sorted by value, then equal
    values and dtypes (the repository's check_correctness compare)."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(data, 'duckdb.tmp')}'")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    verdicts = []
    for c in checks:
        v = {"row": c["row"], "check": c["check"]}
        try:
            got = con.sql(f"SELECT * FROM '{c['path']}/*.parquet'").df()
            exp = con.sql(c["sql"]).df()
            cols = sorted(got.columns)
            g = got[cols].sort_values(by=cols).reset_index(drop=True)
            e = exp[sorted(exp.columns)].sort_values(by=sorted(exp.columns)).reset_index(drop=True)
            v["rows"] = len(g)
            v["match"] = bool(list(g.columns) == list(e.columns) and len(g) == len(e) and g.equals(e))
            if not v["match"]:
                v["expected_rows"] = len(e)
        except Exception as ex:  # an oracle that fails to run is a mismatch
            v["match"] = False
            v["error"] = str(ex)[:300]
        verdicts.append(v)
    return verdicts


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    if not s:
        return 0.0
    return s[min(len(s), max(1, math.ceil(q * len(s)))) - 1]


def end_to_end(res):
    """Query latency samples: a batch query's time, or each micro-batch's
    in a stream operator run, over every timed pass."""
    passes = res["passes"]
    lat = [x for p in passes for q in p["queries"] if q["ok"]
           for x in q.get("batches_s", [q["query_s"]])]
    return {
        "setup_s": median(res["setup_s"]),
        "pass_s": median([p["wall_s"] for p in passes]),
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": res["peak_rss_mb"],
    }, len(lat)


PER_LAYER = {
    "registry.build_s": "s", "registry.build_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.nodes": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.cpu_util": "ratio",
    "exec.task_skew": "ratio",
    "tables.rows_read": "count", "tables.bytes_read": "bytes",
    "shuffle.bytes_written": "bytes", "shuffle.records": "count",
    "shuffle.spill_bytes": "bytes", "shuffle.peak_exec_mem_bytes": "bytes",
    "cache.leftover_entries": "count", "cache.peak_storage_bytes": "bytes",
    "stream.batches": "count", "stream.batch_rows_mean": "count",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.capacity_eps": "1/s",
    "stream.latency_p50_ms": "ms", "stream.latency_p99_ms": "ms",
    "state.rows_total": "count", "state.memory_bytes": "bytes", "state.commit_ms": "ms",
    "state.rows_removed": "count", "state.rows_dropped_by_watermark": "count",
    "state.rocksdb_bytes_copied": "bytes", "state.rocksdb_sst_bytes": "bytes",
    "gen.lag_p99_ms": "ms", "gen.backlog_events": "count",
    "trace.pass_s": "s",
}


def pass_layers(p, cpus):
    """Fold one traced pass's per-query records into per-layer values."""
    qs = [q for q in p["queries"] if "layers" in q]
    L = [q["layers"] for q in qs]

    def tot(k):
        return sum(x[k] for x in L)
    plan_s = tot("analysis_s") + tot("optimization_s") + tot("planning_s")
    registry_s = sum(q.get("registry_s", 0.0) for q in qs)
    wall_s = sum(q["query_s"] for q in qs)
    exec_s = max(0.0, wall_s - registry_s - plan_s)
    slowest = max(L, key=lambda x: x["slowest_stage_s"]) if L else {"task_skew": 0.0}
    batches = [b for x in L for b in x["batches"]]
    data = [b for b in batches if b["rows"] > 0]
    last = [x["batches"][-1] for x in L if x["batches"]]
    events = sum(q.get("events", 0) for q in qs)

    def p50(k):
        return median([b[k] for b in data])

    def custom(b, k):
        return b["state_custom"].get(k, 0)
    return {
        "registry.build_s": registry_s, "registry.build_jobs": tot("registry_jobs"),
        "plan.analysis_s": tot("analysis_s"), "plan.optimization_s": tot("optimization_s"),
        "plan.planning_s": tot("planning_s"), "plan.nodes": tot("plan_nodes"),
        "exec.s": exec_s, "exec.jobs": tot("exec_jobs"), "exec.stages": tot("stages"),
        "exec.tasks": tot("tasks"), "exec.task_cpu_s": tot("task_cpu_s"),
        "exec.gc_s": tot("gc_s"),
        "exec.cpu_util": tot("task_cpu_s") / (wall_s * cpus) if wall_s else 0.0,
        "exec.task_skew": slowest["task_skew"],
        "tables.rows_read": tot("rows_read"), "tables.bytes_read": tot("bytes_read"),
        "shuffle.bytes_written": tot("shuffle_bytes"), "shuffle.records": tot("shuffle_records"),
        "shuffle.spill_bytes": tot("spill_bytes"),
        "shuffle.peak_exec_mem_bytes": max([x["peak_exec_mem_bytes"] for x in L], default=0),
        "cache.leftover_entries": sum(q.get("cache_leftover", 0) for q in qs),
        "cache.peak_storage_bytes": max([x["peak_storage_bytes"] for x in L], default=0),
        "stream.batches": len(batches),
        "stream.batch_rows_mean": sum(b["rows"] for b in batches) / len(batches) if batches else 0.0,
        "stream.trigger_ms": p50("triggerExecution"), "stream.add_batch_ms": p50("addBatch"),
        "stream.query_planning_ms": p50("queryPlanning"), "stream.wal_commit_ms": p50("walCommit"),
        "stream.commit_offsets_ms": p50("commitOffsets"),
        "stream.capacity_eps": events / wall_s if events else 0.0,
        "state.rows_total": sum(b["state_rows"] for b in last),
        "state.memory_bytes": sum(b["state_memory_bytes"] for b in last),
        "state.commit_ms": p50("state_commit_ms"),
        "state.rows_removed": sum(b["state_rows_removed"] for b in batches),
        "state.rows_dropped_by_watermark": sum(b["state_rows_dropped_by_watermark"] for b in batches),
        "state.rocksdb_bytes_copied": sum(custom(b, "rocksdbBytesCopied") for b in batches),
        "state.rocksdb_sst_bytes": sum(custom(b, "rocksdbSstFileSize") for b in last),
    }


def per_layer(res):
    folded = [pass_layers(p, res["cpus"]) for p in res["passes"]]
    m = {k: median([f[k] for f in folded]) for k in folded[0]}
    ol = res.get("open_loop", [])
    lat = [o["latency_ms"] for o in ol]
    m["stream.latency_p50_ms"] = median([x[0] for x in lat if x[0] is not None])
    m["stream.latency_p99_ms"] = max([x[1] for x in lat if x[1] is not None], default=0.0)
    m["gen.lag_p99_ms"] = max([o["gen_lag_p99_ms"] or 0.0 for o in ol], default=0.0)
    m["gen.backlog_events"] = max([o["backlog_max_events"] for o in ol], default=0)
    # wall time of a traced pass: minus an untraced run's pass_s on the
    # same seed, the tracing overhead
    m["trace.pass_s"] = median([p["wall_s"] for p in res["passes"]])
    return {k: m[k] for k in PER_LAYER}


def run(args, seconds, trace, plant="none", smoke=False):
    spec = dict(WORKLOADS[args.workload], **(SMOKE[args.workload] if smoke else {}))
    inputs = spec["inputs"]
    cp = build()
    out = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{int(trace)}"
                       f"{'-smoke' if smoke else ''}{'' if plant == 'none' else '-' + plant}")
    shutil.rmtree(out, ignore_errors=True)
    data = os.path.join(out, "inputs")
    sys.path.insert(0, HERE)
    import gen
    t = time.time()
    props = gen.generate(inputs, args.seed, data)
    gen_s = time.time() - t
    res = run_harness(cp, args.workload, spec, data, out, seconds, trace, plant)
    verdicts = oracle_gate(data, res["checks"])
    mismatches = sum(not v["match"] for v in verdicts)
    missing = len(spec["rows"]) - len(verdicts)
    attempted = res["attempted"] + len(verdicts)
    failed = res["failed"] + mismatches
    summary = {"workload": args.workload, "seed": args.seed, "trace": trace,
               "smoke": smoke, "plant": plant, "inputs": props,
               "gen_s": gen_s, "verdicts": verdicts, "errors": res["errors"],
               "result": res}
    if trace:
        metrics = {k: (v, PER_LAYER[k]) for k, v in per_layer(res).items()}
    else:
        e2e, n = end_to_end(res)
        metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
        print(f"# query latency samples: {n}")
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    # inputs and outputs are large; the summary keeps what the run saw
    for d in ("inputs", "outputs", "spark-local", "ckpt", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    for k in sorted(props):
        print(f"# input {k} = {props[k]}")
    for e in res["errors"]:
        print(f"# error {e}")
    for v in verdicts:
        if not v["match"]:
            print(f"# oracle mismatch {v}")
    print(f"# oracle: {len(verdicts) - mismatches}/{len(spec['rows'])} outputs match")
    print(f"error_rate {failed / max(1, attempted):.6f} ratio ({failed}/{attempted})")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    correct = mismatches == 0 and missing == 0
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def selftest():
    """Smoke scale of every workload, then a planted wrong result (the
    oracle gate must fail) and a planted exception (error_rate must
    rise)."""
    problems = []
    for w in WORKLOADS:
        a = argparse.Namespace(workload=w, seed=7)
        r = run(a, 1, False, smoke=True)
        if not r["correct"] or r["failed"]:
            problems.append(f"{w}: clean smoke run not correct: {r}")
        r = run(a, 1, True, smoke=True)
        if not r["metrics"]["exec.tasks"]["value"]:
            problems.append(f"{w}: traced smoke run recorded no tasks")
    a = argparse.Namespace(workload="unique_batch", seed=7)
    if run(a, 1, False, plant="wrong", smoke=True)["correct"]:
        problems.append("planted wrong result passed the oracle gate")
    for w in ("unique_batch", "unique_stream"):
        r = run(argparse.Namespace(workload=w, seed=7), 1, False, plant="throw", smoke=True)
        if r["failed"] == 0:
            problems.append(f"{w}: planted exception did not raise error_rate")
    for p in problems:
        print(f"SELFTEST FAIL: {p}")
    print("SELFTEST OK" if not problems else "SELFTEST FAILED")
    return not problems


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        sys.exit(0 if selftest() else 1)
    if not args.workload:
        ap.error("--workload is required")
    print(json.dumps(run(args, args.seconds, bool(args.trace))))


if __name__ == "__main__":
    main()
