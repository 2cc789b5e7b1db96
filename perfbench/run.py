#!/usr/bin/env python3
"""graft benchmark: runs one named workload of catalog queries, checks every
timed output and prints the metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload seo-etl --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the program (`build.py`) into the
build directory ($CARGO_TARGET_DIR, default `.bench_build`). The inputs
are the project's fixed scale-factor-0.1 tables in `data/sf0.1`, checked
against `data/sf0.1.sha256` before every run. Each run then starts one JVM
that sets a Spark session up on local[N] (N = usable cores) and runs passes
over the workload's queries, in an order permuted by --seed, until
--seconds of measurement have passed (at least one pass). Every execution
is checked against `expected.json`; an exception or a wrong output counts
as failed. No execution is retried.

--trace 0 prints the end-to-end metrics; --trace 1 first makes an untraced
run with the same seed, then a run that registers listeners, and prints
the per-layer metrics, a per-query table and the tracing overhead (traced
against untraced pass_s of the pair), and writes the span tree to
<build dir>/traces/. The last line of stdout is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")

SEO_ETL = """q01_pricing_summary q02_latest_event q03_prev_day_revenue
q04_idempotent_filter q05_duplicate_brands q06_topk_orders q07_value_change
q08_merge_worklists q09_sql_named_params q10_metatag_checks q11_robots_sitemaps
q12_url_parse q13_json_pluck q14_keys_pivot q25_count_alert q26_lookup_classify
q27_regex_template q28_date_helpers q29_header_normalize q31_watermark_read
q32_check_dsl_alerts q33_column_mapping q38_xpath_ops q39_enrichment
q40_shipping_priority q41_region_volume q45_rollup q46_semi_join q47_except
q50_moving_avg q51_cumulative q52_pivot_status q53_responseheader_checks
q54_pagespeed_checks q56_revenue_forecast q57_promo_revenue q58_big_orders"""

CURATION_INGEST = """q70_curate_incremental q164_crawl_epochs
q173_anchor_retrieval"""

CURATION_INGEST_FULL = CURATION_INGEST + """ q65_minhash_incremental
q155_containment_incremental q85_bm25_incremental q78_embedding_incremental
q161_curate_authority q166_curate_trust q171_curate_sitelevel"""

BATCH_DEDUP = """q21_jaccard_pairs q34_minhash_pairs q35_simhash_pairs
q152_containment_pairs q128_prefix_jaccard q64_dup_components q89_dup_spans
q90_excise_spans q154_graph_pagerank q162_trustrank q96_semantic_dedup
q77_embedding_pairs q142_image_dedup q99_bpe_encode q150_quality_classifier
q167_gopher_rules q101_importance_score"""

# name -> (queries, fresh session per pass)
WORKLOADS = {
    "seo-etl": (SEO_ETL.split(), False),
    "curation-ingest": (CURATION_INGEST.split(), True),
    "curation-ingest-full": (CURATION_INGEST_FULL.split(), True),
    "batch-dedup": (BATCH_DEDUP.split(), False),
}

END_TO_END = {"setup_s": "s", "pass_s": "s"}

PER_LAYER = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "catalyst.plan_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimizer_ms": "ms", "catalyst.planning_ms": "ms",
    "catalyst.sql_executions": "count",
    "exec.exec_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.run_ms": "ms", "exec.job_idle_ms": "ms",
    "exec.task_cpu_ms": "ms", "exec.task_run_ms": "ms", "exec.task_gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
    "core.max_concurrent_jobs": "count", "jvm.gc_ms": "ms", "jvm.live_heap_mb": "MB",
    "sources.output_bytes": "bytes", "sources.store_files": "count",
    "sources.store_bytes": "bytes", "sources.store_bytes_per_input_byte": "B/B",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s",
}
# per-pass maxima; every other per-layer metric is a per-pass sum
PASS_MAX = {"core.max_concurrent_jobs"}

JVM_HEAP = "4g"
RUN_LIMIT_S = 175.0

# ----------------------------------------------------------------- helpers


def tail_percentile(n, ladder=(99.9, 99, 90, 75, 50)):
    """The highest percentile in the ladder with at least 10 of the n
    samples beyond it, or None when even the median has fewer."""
    for p in ladder:
        if round(n * (100 - p) / 100, 6) >= 10:  # 100 - 99.9 is inexact
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-p * len(s) // 100) - 1))
    return s[int(k)]


def outcome(e, expected):
    """'failed' for an exception, 'wrong' for an output without an
    expectation or whose row count or digest differs from it, else 'ok'."""
    if e["error"]:
        return "failed"
    exp = expected.get(e["query"])
    if exp is None or (e["rows"], e["digest"]) != (exp["rows"], exp["digest"]):
        return "wrong"
    return "ok"


def count_failures(executions, expected):
    """(attempted, failed, wrong): every execution is one attempt, and a
    failed or a wrong one is a failure."""
    outcomes = [outcome(e, expected) for e in executions]
    return len(outcomes), len(outcomes) - outcomes.count("ok"), outcomes.count("wrong")


def latency_ms(e):
    return (e["build_ns"] + e["plan_ns"] + e["exec_ns"]) / 1e6


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def jvm_options(root):
    jopts = os.path.join(root, "tools", "jopts.sh")
    if not os.path.exists(jopts):
        raise RuntimeError("tools/jopts.sh (the program's JVM flags) is missing")
    out = subprocess.run(["bash", "-c", '. tools/jopts.sh && printf "%s" "$JOPTS"'],
                         cwd=root, stdout=subprocess.PIPE, text=True, check=True).stdout
    return out.split()


def check_data():
    """Fails unless every input table matches its recorded SHA-256."""
    with open(DATA + ".sha256") as f:
        sums = [line.split() for line in f if line.strip()]
    for digest, name in sums:
        with open(os.path.join(DATA, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise RuntimeError(f"input table {name} differs from data/sf0.1.sha256")


def prepare(root):
    """Builds the classes and checks the tables; returns (build_dir,
    classes, data_dir)."""
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(root, build_dir)
    check_data()
    return build_dir, classes, DATA


def java_cmd(root, classes, jopts, run_dir, args):
    cp = os.pathsep.join([classes, os.path.join(root, "src", "main", "resources"),
                          os.path.join(build.spark_jars(root), "*")])
    return (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"] + jopts +
            [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-cp", cp,
             "graft.perfbench.Runner"] + args)


def run_jvm(cmd, run_dir, timeout):
    """Runs the JVM in its run directory; returns (returncode, log tail)."""
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    with open(log_path, errors="replace") as f:
        return rc, f.read()[-3000:]


# ----------------------------------------------------------------- metrics


def live_heap_mb(res):
    return min(res["heap_after_gc_mb"])


def end_to_end(res):
    return {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in res["passes"]),
    }


def per_query_layers(res):
    """query -> metric -> median over the query's executions."""
    by_q = {}
    for x in res["trace"]["executions"]:
        by_q.setdefault(x["query"], []).append(x["metrics"])
    return {q: {k: statistics.median(m[k] for m in ms) for k in ms[0]}
            for q, ms in by_q.items()}


def per_layer(res):
    """Per-pass sums (maxima for PASS_MAX) of the per-execution layer
    metrics, median over passes."""
    per_pass = {}
    for x in res["trace"]["executions"]:
        acc = per_pass.setdefault(x["pass"], {})
        for k, v in x["metrics"].items():
            acc[k] = max(acc.get(k, 0.0), v) if k in PASS_MAX else acc.get(k, 0.0) + v
    out = {k: statistics.median(p.get(k, 0.0) for p in per_pass.values())
           for k in PER_LAYER if k in next(iter(per_pass.values()))}
    out["trace.pass_s"] = statistics.median(p["wall_s"] for p in res["passes"])
    out["jvm.live_heap_mb"] = live_heap_mb(res)
    out["sources.store_bytes_per_input_byte"] = out["sources.store_bytes"] / res["input_bytes"]
    return out


def print_query_table(layers):
    cols = [("build_ms", "queries.build_ms"), ("plan_ms", "catalyst.plan_ms"),
            ("exec_ms", "exec.exec_ms"), ("idle_ms", "exec.job_idle_ms"),
            ("jobs", "exec.jobs"), ("bjobs", "queries.build_jobs"),
            ("stages", "exec.stages"), ("tasks", "exec.tasks"),
            ("sqlx", "catalyst.sql_executions"), ("maxconc", "core.max_concurrent_jobs"),
            ("store_kb", "sources.store_bytes"), ("files", "sources.store_files"),
            ("cpu_ms", "exec.task_cpu_ms"), ("shufw_kb", "exec.shuffle_write_bytes")]
    print("per-query medians:  " + " ".join(f"{c:>9}" for c, _ in cols))
    for q in sorted(layers):
        m = layers[q]
        vals = [m[k] / 1024 if k.endswith("bytes") else m[k] for _, k in cols]
        print(f"  {q:<32.32} " + " ".join(f"{v:9.1f}" for v in vals))


def run_once(root, build_dir, classes, jopts, workload, seed, seconds, trace, deadline):
    """One benchmark JVM in its own run directory, deleted afterwards;
    returns what the JVM measured."""
    queries, fresh = WORKLOADS[workload]
    run_dir = os.path.join(build_dir, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "result.json")
    try:
        args = ["run", "--data", DATA, "--queries", ",".join(queries),
                "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--fresh-session", "1" if fresh else "0",
                "--cores", str(len(os.sched_getaffinity(0))), "--out", out,
                "--local-dir", os.path.join(run_dir, "local")]
        cmd = java_cmd(root, classes, jopts, run_dir,
                       args + ["--spawn-ns", str(time.time_ns())])
        rc, log = run_jvm(cmd, run_dir, deadline - time.monotonic())
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(log)
            fail(f"benchmark JVM ended with {rc}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def print_executions(label, res, expected):
    for e in res["executions"]:
        status = outcome(e, expected)
        if status == "failed":
            status = f"FAILED {e['error'][:300]}"
        elif status == "wrong":
            status = (f"WRONG rows={e['rows']} digest={e['digest']} "
                      f"expected={expected.get(e['query'])}")
        print(f"{label} pass {e['pass']} {e['query']:<32} {latency_ms(e):10.1f} ms  {status}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        build_dir, classes, _ = prepare(root)
        jopts = jvm_options(root)
    except Exception as e:  # missing sources, failed build, no toolchain
        fail(f"set-up failed: {e}")
    deadline = time.monotonic() + RUN_LIMIT_S  # a first run's build comes before
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    queries = WORKLOADS[a.workload][0]

    def run(trace):
        return run_once(root, build_dir, classes, jopts, a.workload, a.seed,
                        a.seconds, trace, deadline)

    # the traced run is paired with an untraced one of the same seed, back
    # to back, which gives the end-to-end lines and the tracing overhead
    untraced = run(0)
    traced = run(1) if a.trace else None
    print_executions("untraced", untraced, expected)
    if traced:
        print_executions("traced", traced, expected)
    executions = untraced["executions"] + (traced["executions"] if traced else [])
    attempted, failed, wrong = count_failures(executions, expected)

    res = untraced
    lat = [latency_ms(e) for e in res["executions"]]  # a failure's: time to it
    print(f"workload {a.workload}: {len(res['passes'])} pass(es) of {len(queries)} "
          f"queries on local[{res['cores']}], {res['measured_s']:.1f} s measured, "
          f"seed {a.seed}, trace {a.trace}")
    print(f"set-up: context ready after {res['context_ready_s']:.3f} s, session "
          f"ready after {res['setup_s']:.3f} s; heap after full GCs "
          + ", ".join(f"{x:.1f}" for x in res["heap_after_gc_mb"]) + " MB")
    print(f"failed_frac = {failed / attempted:.4f} ({failed} of {attempted} executions, "
          f"{wrong} wrong outputs)")
    print(f"query_p50_ms = {statistics.median(lat):.3f} ms (n={len(lat)})")
    p = tail_percentile(len(lat))
    if p is not None and p > 50:
        print(f"query_p{p:g}_ms = {percentile(lat, p):.3f} ms (n={len(lat)})")
    print(f"live_heap_mb = {live_heap_mb(res):.3f} MB")
    last_pass = res["passes"][-1]
    if last_pass["store_bytes"] > 0:
        print(f"store_bytes_per_input_byte = "
              f"{last_pass['store_bytes'] / res['input_bytes']:.4f} B/B "
              f"({last_pass['store_files']} files under the store roots)")

    if traced:
        metrics = per_layer(traced)
        metrics["trace.untraced_pass_s"] = end_to_end(untraced)["pass_s"]
        units = PER_LAYER
        print_query_table(per_query_layers(traced))
        trace_dir = os.path.join(build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "passes": traced["passes"],
                       "executions": traced["trace"]["executions"],
                       "unattributed_jobs": traced["trace"]["unattributed_jobs"]}, f)
        print(f"spans written to {os.path.relpath(trace_path, root)}")
        print(f"tracing overhead = "
              f"{metrics['trace.pass_s'] / metrics['trace.untraced_pass_s'] - 1:+.4f} "
              f"(traced pass_s {metrics['trace.pass_s']:.3f} s against "
              f"{metrics['trace.untraced_pass_s']:.3f} s untraced, same seed, back to back)")
    else:
        metrics = end_to_end(untraced)
        units = END_TO_END
    for k in (END_TO_END if not traced else sorted(metrics)):
        print(f"{k} = {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": wrong == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
