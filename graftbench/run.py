#!/usr/bin/env python3
"""The graft benchmark: one command that builds the program, generates a
workload's inputs from a seed, runs it closed-loop with one client, checks
the outputs, and prints every metric by name with its unit.

    python3 graftbench/run.py --workload serve --seed 1 --seconds 15 --trace 0
    python3 graftbench/run.py --workload all --trace both --out /tmp/bench.json

--seconds S the measured loop's length, as a fixed number of operations:
            S over a nominal operation time (NOMINAL_OP_S)
--trace 0   untraced pass: end-to-end metrics
--trace 1   traced pass: per-layer metrics (spans + Spark listeners)
--trace both  both passes, plus the tracing overhead (traced minus untraced)
--out PATH  also write the full self-describing artifact to PATH (nothing
            is written outside .bench_build/ otherwise)

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. See graftbench/README.md for the
workloads, the metrics and which layer metric should move which end-to-end
metric.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# per workload: set-ups (setup_s is their median; with two, their mean)
# and untimed warm-up operations before the measured loop
SETUP_REPS = {"serve": 2, "curate": 5}
WARMUP_OPS = {"serve": 0, "curate": 2}
JVM_TIMEOUT_S = 165
# nominal time of one operation on a 4-core box: a serve request, a funnel
NOMINAL_OP_S = {"serve": 1.5, "curate": 3.75}
# the kernel-rate probes of the traced pass run over this many copies of
# the workload's docs, so the kernel's work outweighs one job's overhead
PROBE_COPIES = {"serve": 5, "curate": 10}
# An operation during which the host stole more than MAX_STEAL of the
# machine's CPU time (read from /proc/stat) is run again, at most
# MAX_REMEASURES times a pass. On a shared virtual machine such episodes
# make whole runs 30-50% slower; without this they set the run-to-run spread.
MAX_STEAL = 0.03
MAX_REMEASURES = {"serve": 5, "curate": 2}


def measured_ops(workload, seconds):
    """The measured loop runs a fixed number of operations, so every run
    takes its medians over the same positions of the JIT warm-up curve; on
    serve whole cycles of the request schedule, so every run sends the same
    mix."""
    n = max(1, round(seconds / NOMINAL_OP_S[workload]))
    if workload == "serve":
        cycle = len(gen.SCHEDULE)
        n = max(cycle, round(n / cycle) * cycle)
    return n

WORKLOADS = {
    "serve": "stored BM25 searches (head/tail/OOV) and phrases after a prepare->index set-up",
    "curate": "the curation funnel over a crawl with planted duplicates, spam and languages",
}

END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
]

PER_LAYER = [
    ("rank.search_plan_ms", "ms"),
    ("rank.search_exec_ms", "ms"),
    ("rank.rows_read_per_result", "rows"),
    ("index.stored_buckets_ms", "ms"),
    ("index.postings_lookup_ms", "ms"),
    ("index.bytes_read_frac", "ratio"),
    ("index.phrase_plan_ms", "ms"),
    ("index.phrase_exec_ms", "ms"),
    ("index.write_s", "s"),
    ("index.files_written", "count"),
    ("index.bytes_per_text_byte", "ratio"),
    ("index.ingest_s", "s"),
    ("index.ingest_jobs", "count"),
    ("index.ingest_bytes_written_per_doc_byte", "ratio"),
    ("text.tf_build_s", "s"),
    ("text.tokens_per_s_core", "1/s"),
    ("sources.sample_s", "s"),
    ("sources.docsink_s", "s"),
    ("sources.docsink_files_per_s", "1/s"),
    ("sources.load_s", "s"),
    ("textstats.lang_guess_s", "s"),
    ("functions.shingles_rows_per_s_core", "1/s"),
    ("dedup.jaccard_pairs_s", "s"),
    ("dedup.shuffle_rows_per_pair", "ratio"),
    ("dedup.clusters_s", "s"),
    ("dedup.clusters_jobs", "count"),
    ("curate.tags_s", "s"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.sched_delay_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.task_skew", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.op_task_share", "ratio"),
    ("spark.setup_task_share", "ratio"),
    ("trace.op_p50_ms", "ms"),
]

# ---- statistics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, samples). Under 11 samples it is the maximum."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def self_times(spans):
    """Per span name: total, self (minus the time its child spans cover)
    and count, in ms. Children of one span run one after another."""
    child = [0] * len(spans)
    for sp in spans:
        if sp["parent"] >= 0:
            child[sp["parent"]] += sp["end_ns"] - sp["start_ns"]
    out = {}
    for i, sp in enumerate(spans):
        d = sp["end_ns"] - sp["start_ns"]
        o = out.setdefault(sp["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        o["count"] += 1
        o["total_ms"] += d / 1e6
        o["self_ms"] += (d - child[i]) / 1e6
    return out


# ---- one pass -----------------------------------------------------------------

def jvm(run_dir, log):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    extra = [f"-XX:SharedArchiveFile={build.ARCHIVE}"] if os.path.exists(build.ARCHIVE) else []
    with open(log, "w") as lf:
        proc = subprocess.Popen(build.java_command([run_dir], tmp, extra), stdout=lf,
                                stderr=subprocess.STDOUT, env=build.java_env(), cwd=run_dir)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return "timeout"


def duckdb_funnel(table, sql_path, tmp):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{table}/*.parquet')")
    sql = open(sql_path).read()
    # Evaluation hint only: without it DuckDB re-evaluates the pair CTE in
    # every step of the recursive closure (about 5x slower, same rows).
    if sql.count("pairs AS (") == 1:
        sql = sql.replace("pairs AS (", "pairs AS MATERIALIZED (")
    rows = con.execute(sql).fetchall()
    con.close()
    return [[r[0], int(r[1])] for r in rows]


def end_to_end(res):
    lat = [o["ms"] if o["ok"] else float("inf") for o in res["ops"]]
    tv, tp, tn = tail(lat)
    return {
        "setup_s": median(res["setup_s"]),
        "op_p50_ms": median(lat),
    }, {"peak_rss_mb": res["peak_rss_mb"], "tail_ms": tv, "tail_percentile": round(tp, 1), "samples": tn,
        "op_cpu_ms": median([o["cpu_ms"] for o in res["ops"]])}


def per_layer(res, workload):
    tr = res["trace"]
    spans = tr["spans"]
    stats = tr["ops"]
    probes = res.get("probes", {})
    st = res.get("stats", {})
    cores = res["header"]["cores"]

    ops = res["ops"]
    kept = {o["id"] for o in ops}

    def span_ms(name):
        # warm-up requests and disturbed attempts record spans too; they are
        # not measured operations
        return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans
                if s["name"] == name and s["op"] != "warmup"
                and (s["op"] in kept or not s["op"].startswith("op-"))]

    op_stats = [stats.get(o["id"], {}) for o in ops]
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["trace.op_p50_ms"] = median([o["ms"] for o in ops])
    for key, name, scale in [
        ("jobs", "spark.jobs_per_op", 1), ("tasks", "spark.tasks_per_op", 1),
        ("sched_delay_ms", "spark.sched_delay_ms", 1), ("planning_ms", "catalyst.planning_ms", 1),
        ("cpu_ns", "spark.executor_cpu_s", 1e-9), ("shuffle_write_bytes", "spark.shuffle_write_bytes", 1),
        ("shuffle_read_bytes", "spark.shuffle_read_bytes", 1), ("spill_bytes", "spark.spill_bytes", 1),
        ("task_skew", "spark.task_skew", 1), ("gc_ms", "spark.gc_s", 1e-3)]:
        m[name] = median([s.get(key, 0) * scale for s in op_stats])
    # task time over the operation's (or set-up's) wall time on all cores:
    # near 1 the cores are busy running tasks, near 0 the time goes to
    # driver-side planning, scheduling and job overhead
    m["spark.op_task_share"] = median([
        s.get("run_ms", 0) / max(o["ms"] * cores, 1e-9) for o, s in zip(ops, op_stats)])
    m["spark.setup_task_share"] = median([
        stats.get(f"setup-{r}", {}).get("run_ms", 0) / max(t * 1e3 * cores, 1e-9)
        for r, t in enumerate(res["setup_s"])])

    if workload == "serve":
        m["rank.search_plan_ms"] = median(span_ms("rank.search_plan"))
        m["rank.search_exec_ms"] = median(span_ms("rank.search_exec"))
        m["rank.rows_read_per_result"] = median([
            stats.get(o["id"], {}).get("input_records", 0) / max(o["rows"], 1)
            for o in ops if o["cls"] == "head" and o["ok"]])
        m["index.stored_buckets_ms"] = median(probes.get("index.stored_buckets", []))
        m["index.postings_lookup_ms"] = median(probes.get("index.postings_lookup", []))
        m["index.bytes_read_frac"] = median([
            s.get("input_bytes", 0) / max(st["store_bytes"], 1) for s in op_stats])
        m["index.phrase_plan_ms"] = median(span_ms("index.phrase_plan"))
        m["index.phrase_exec_ms"] = median(span_ms("index.phrase_exec"))
        m["index.write_s"] = median(span_ms("index.write")) / 1e3
        m["index.files_written"] = st["store_files"]
        m["index.bytes_per_text_byte"] = st["store_bytes"] / max(st["sample_text_bytes"], 1)
        ing = res.get("ingests", [])
        m["index.ingest_s"] = median([g["ms"] for g in ing]) / 1e3
        m["index.ingest_jobs"] = median([stats.get(g["op"], {}).get("jobs", 0) for g in ing])
        m["index.ingest_bytes_written_per_doc_byte"] = median([
            stats.get(g["op"], {}).get("output_bytes", 0) / max(g["doc_bytes"], 1) for g in ing])
        m["text.tf_build_s"] = median(probes.get("text.tf_build", [])) / 1e3
        if m["text.tf_build_s"] > 0:
            m["text.tokens_per_s_core"] = (st["sample_tokens"] * st["probe_copies"]
                                           / (m["text.tf_build_s"] * cores))
        m["sources.sample_s"] = median(span_ms("sources.sample")) / 1e3
        m["sources.docsink_s"] = median(span_ms("sources.docsink")) / 1e3
        if m["sources.docsink_s"] > 0:
            m["sources.docsink_files_per_s"] = st["sample_docs"] / m["sources.docsink_s"]
    else:
        m["sources.load_s"] = median(span_ms("sources.load")) / 1e3
        m["textstats.lang_guess_s"] = median(probes.get("textstats.lang_guess", [])) / 1e3
        sh = median(probes.get("functions.shingles", [])) / 1e3
        docs = median(probes.get("docs", []))
        if sh > 0:
            m["functions.shingles_rows_per_s_core"] = docs / (sh * cores)
        m["dedup.jaccard_pairs_s"] = median(probes.get("dedup.jaccard_pairs", [])) / 1e3
        pairs = median(probes.get("dedup.pairs", []))
        m["dedup.shuffle_rows_per_pair"] = median([
            stats.get(f"probe-jaccard-{k}", {}).get("shuffle_write_records", 0) / max(pairs, 1)
            for k in range(len(probes.get("dedup.jaccard_pairs", [])))])
        m["dedup.clusters_s"] = median(probes.get("dedup.clusters", [])) / 1e3
        m["dedup.clusters_jobs"] = median([
            stats.get(f"probe-clusters-{k}", {}).get("jobs", 0)
            for k in range(len(probes.get("dedup.clusters", [])))])
        m["curate.tags_s"] = median(probes.get("curate.tags", [])) / 1e3
    return m


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_pass(workload, seed, seconds, trace, digest):
    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp = os.path.join(run_dir, "input")
    try:
        t0 = time.time()
        inputs = gen.generate(workload, seed, inp)
        gen_s = time.time() - t0
        spec = {"workload": workload, "trace": str(trace), "ops": str(measured_ops(workload, seconds)),
                "setup_reps": str(SETUP_REPS[workload]),
                "warmup_ops": str(WARMUP_OPS[workload]), "probe_copies": str(PROBE_COPIES[workload]),
                "max_steal": str(MAX_STEAL), "max_remeasures": str(MAX_REMEASURES[workload]),
                "sample_n": str(gen.SERVE_SAMPLE),
                "sample_seed": str(seed), "pipeline_query": inputs.get("pipeline_query", "")}
        build.write_spec(run_dir, spec)
        log = os.path.join(run_dir, "jvm.log")
        t_jvm = time.time()
        rc = jvm(run_dir, log)
        jvm_s = time.time() - t_jvm
        result_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            raise SystemExit(f"graftbench: {workload} pass failed (jvm exit {rc})")
        res = json.load(open(result_path))
        res["phases"].update(generate_s=gen_s, jvm_s=jvm_s,
                             session_s=res["header"]["session_s"])
        checks = list(res["checks"])
        if workload == "curate":
            t_oracle = time.time()
            oracle = duckdb_funnel(res["table"], os.path.join(run_dir, "oracle.sql"),
                                   os.path.join(run_dir, "tmp"))
            checks.append({"name": "funnel_equals_duckdb_oracle", "ok": oracle == res["funnel"],
                           "detail": f"spark {res['funnel']} vs duckdb {oracle}"})
            res["phases"]["oracle_s"] = time.time() - t_oracle
        e2e, info = end_to_end(res)
        layers = per_layer(res, workload) if trace else None
        attempted = len(res["ops"]) + len(res.get("ingests", []))
        failed = sum(1 for o in res["ops"] if not o["ok"])
        header = dict(res["header"], seed=seed, git_sha=git_sha(), source_sha256=digest,
                      workload=workload, why=WORKLOADS[workload], trace=trace,
                      seconds=seconds, setup_reps=SETUP_REPS[workload], wall_s=round(time.time() - t0, 3))
        return {"header": header, "inputs": inputs, "end_to_end": e2e, "info": info,
                "per_layer": layers, "checks": checks, "attempted": attempted, "failed": failed,
                "self_times": self_times(res["trace"]["spans"]) if trace else None,
                "ops": res["ops"], "setup_s": res["setup_s"], "phases": res["phases"]}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ---- report -------------------------------------------------------------------

def summarize_checks(checks):
    by = {}
    for c in checks:
        b = by.setdefault(c["name"], {"ok": 0, "failed": 0, "details": []})
        if c["ok"]:
            b["ok"] += 1
        else:
            b["failed"] += 1
            if len(b["details"]) < 3:
                b["details"].append(c["detail"])
    return by


def report(p):
    h = p["header"]
    w = h["workload"]
    print(f"== {w} (seed {h['seed']}, trace {h['trace']}): {h['why']}")
    print(f"   cores={h['cores']} {h['master']} shuffle.partitions={h['shuffle_partitions']} "
          f"maxPartitionBytes={h['max_partition_bytes']} {' '.join(h['jvm_flags'])} "
          f"calibration={h['calibration']['median_s']:.3f}s git={h['git_sha']} "
          f"src={h['source_sha256'][:12]}")
    print(f"   inputs: {json.dumps(p['inputs'], sort_keys=True)}")
    units = dict(END_TO_END)
    for k, v in p["end_to_end"].items():
        print(f"   {k:<22} {v:14.4f} {units[k]}")
    print(f"   op tail: {p['info']['tail_ms']:.4f} ms = p{p['info']['tail_percentile']} of "
          f"{p['info']['samples']} samples (highest percentile with 10 samples beyond it)")
    phases = {k: round(v, 2) for k, v in p["phases"].items()
              if k not in ("loop_steal_share", "remeasured_ops")}
    print(f"   set-up runs (s): {['%.3f' % s for s in p['setup_s']]}; phases (s): "
          f"{phases}; wall {h['wall_s']} s")
    print(f"   host CPU steal during the loop: {100 * p['phases'].get('loop_steal_share', 0):.1f}% "
          "(a virtual machine's CPUs taken by the host); operations measured again for it: "
          f"{int(p['phases'].get('remeasured_ops', 0))}")
    print(f"   op_cpu_ms              {p['info']['op_cpu_ms']:14.4f} ms (process CPU per operation, "
          "JIT compiler threads included)")
    print(f"   peak_rss_mb            {p['info']['peak_rss_mb']:14.4f} MB (VmHWM of the JVM)")
    print(f"   error_rate             {p['failed'] / max(p['attempted'], 1):14.4f} "
          f"({p['failed']} of {p['attempted']} operations failed)")
    if p["per_layer"]:
        lu = dict(PER_LAYER)
        for k, v in p["per_layer"].items():
            print(f"   {k:<40} {v:16.4f} {lu[k]}")
        print("   self time by span (ms):")
        for k, v in sorted(p["self_times"].items(), key=lambda kv: -kv[1]["self_ms"]):
            print(f"     {k:<24} n={v['count']:<4} total={v['total_ms']:10.1f} self={v['self_ms']:10.1f}")
    for name, b in sorted(summarize_checks(p["checks"]).items()):
        status = "ok" if b["failed"] == 0 else "FAILED"
        print(f"   check {name:<36} {status} ({b['ok']} ok, {b['failed']} failed)")
        for d in b["details"]:
            print(f"      {d}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", default="0", choices=["0", "1", "both"])
    ap.add_argument("--out", help="write the full artifact (JSON) to this path")
    a = ap.parse_args()

    digest = build.ensure_built()
    workloads = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    traces = [0, 1] if a.trace == "both" else [int(a.trace)]
    passes = []
    for w in workloads:
        for t in traces:
            p = run_pass(w, a.seed, a.seconds, t, digest)
            report(p)
            passes.append(p)
        if len(traces) == 2:
            u, t = passes[-2], passes[-1]
            print(f"   tracing overhead on {w}: op_p50_ms {t['per_layer']['trace.op_p50_ms']:.2f} traced"
                  f" - {u['end_to_end']['op_p50_ms']:.2f} untraced = "
                  f"{t['per_layer']['trace.op_p50_ms'] - u['end_to_end']['op_p50_ms']:.2f} ms")

    if a.out:
        with open(a.out, "w") as f:
            json.dump({"benchmark": "graftbench", "passes": passes}, f, indent=1)

    correct = all(c["ok"] for p in passes for c in p["checks"]) and \
        all(p["failed"] == 0 for p in passes)
    metrics = {}
    units = dict(END_TO_END + PER_LAYER)
    single = len(passes) == 1
    for p in passes:
        vals = p["per_layer"] if p["header"]["trace"] else p["end_to_end"]
        prefix = "" if single else f"{p['header']['workload']}.t{p['header']['trace']}."
        for k, v in vals.items():
            metrics[prefix + k] = {"value": v if v != float("inf") else 1e12, "unit": units[k]}
    print(json.dumps({"correct": correct, "attempted": sum(p["attempted"] for p in passes),
                      "failed": sum(p["failed"] for p in passes), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
