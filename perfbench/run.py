#!/usr/bin/env python3
"""One benchmark run of the graft loader, its declared queries or its
corpus pipeline.

Usage (from the repository root):

    python3 perfbench/run.py --workload fhir_load|query_mix|corpus_pipeline
        --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates the seeded
inputs once per (workload, seed, size) under .bench_data/inputs, starts
one JVM at local[nproc] with nproc shuffle partitions, runs the workload
for S seconds as one closed-loop client, checks every operation's output,
and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (a separate,
traced run). The line before it is a JSON summary with the host
signature, input sizes, sample counts and, when traced, every span.
See perfbench/README.md for the metrics and what each layer should move.
"""
import argparse
import hashlib
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
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".bench_data")
MAIN = "graft.perfbench.Main"

# input sizes per workload
FHIR_BUNDLES = 600
STAR_SCALE = 1           # sf0.01
QUERY_DOCS, QUERY_VECS = 500, 500
PIPE_DOCS = 2000
FIXED_DATA_SEED = 0      # query_mix and corpus_pipeline inputs
JVM_TIMEOUT_S = 165
HEAP = "3g"              # maximum heap; the JVM sizes it as it goes

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def java(cp, args, cwd, log, timeout, heap="1g"):
    """Run the harness in `cwd`; every file the JVM makes stays under it."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Xmx" + heap, "-Duser.timezone=UTC",
            "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(tmp, "spark-local"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(tmp, "hadoop"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(cwd, "sqlwh"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + cwd]
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    with open(log, "a") as lf:
        p = subprocess.Popen(["java"] + opts + ["-cp", cp, MAIN] + args,
                             cwd=cwd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("JVM timed out after %ds" % timeout)
    if p.returncode != 0:
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError("JVM exited %d:\n%s" % (p.returncode, tail))


def query_list():
    rows = []
    with open(os.path.join(HERE, "queries.txt")) as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                rows.append(line.split()[:2])
    return rows


def oracle_sql(cp, names, work):
    out = os.path.join(work, "oracle_sql.json")
    java(cp, ["oracle", out] + names, work, os.path.join(work, "gen.log"),
         120)
    with open(out) as f:
        return json.load(f)


def corpus(cp, out, work, n_docs, n_vecs, seed, mode):
    jdir = os.path.join(work, "corpus_jsonl")
    # a window of the GenCorpus stream; offsets are multiples of its
    # duplicate schedules (625 and 250), so every seed has the same shape
    java(cp, ["corpus", jdir, str(n_docs), str(n_vecs),
              str(seed * 625 * 1000), mode], work,
         os.path.join(work, "gen.log"), 120)
    sizes = gen.corpus_to_parquet(jdir, out)
    shutil.rmtree(jdir)
    return sizes


def inputs(cp, workload, seed):
    """Generate (once) and return the input directory and its record."""
    size = {"fhir_load": FHIR_BUNDLES, "query_mix": STAR_SCALE,
            "corpus_pipeline": PIPE_DOCS}[workload]
    if workload != "fhir_load":
        # fixed inputs, validated against the oracle once per checkout.
        # query_mix: the run seed permutes the query order. corpus_pipeline
        # keeps about 10 of 2000 docs, so with a seeded window whether its
        # 10 % val and test splits exist, and so its file count, would
        # change from seed to seed.
        seed = FIXED_DATA_SEED
    key = "%s-s%d-n%d" % (workload, seed, size)
    if workload == "query_mix":
        names = [n for n, _ in query_list()]
        key += "-" + hashlib.sha256(" ".join(names).encode()).hexdigest()[:12]
    d = os.path.join(DATA, "inputs", key)
    done = os.path.join(d, "inputs.json")
    if os.path.exists(done):
        with open(done) as f:
            return d, json.load(f)
    gen.reset_dir(d)
    work = os.path.join(DATA, "gen-%d" % os.getpid())
    gen.reset_dir(work)
    t = time.time()
    if workload == "fhir_load":
        sizes, truth = gen.gen_fhir(d, seed, FHIR_BUNDLES)
    elif workload == "query_mix":
        sizes = gen.gen_star(d, seed, STAR_SCALE)
        sizes.update(corpus(cp, d, work, QUERY_DOCS, QUERY_VECS, seed, "iid"))
        truth = gen.oracle_digests(d, oracle_sql(cp, names, work), work)
    else:
        sizes = corpus(cp, d, work, PIPE_DOCS, PIPE_DOCS, seed, "skew")
        sql = oracle_sql(cp, ["x43_pipeline"], work)
        truth = gen.oracle_digests(d, sql, work)
    in_files, in_bytes = gen.dir_size(d)
    shutil.rmtree(work)
    sizes.update({"input_files": in_files, "input_bytes": in_bytes})
    rec = {"sizes": sizes, "truth": truth, "gen_s": time.time() - t}
    with open(done, "w") as f:
        json.dump(rec, f)
    return d, rec


def verify(workload, op, truth):
    """Reasons an operation's output is wrong (empty = correct)."""
    if not op["ok"]:
        return ["threw: " + op.get("error", "?")]
    bad = []
    if workload == "fhir_load":
        for k in ["rawstat", "synth_pop_facts", "synth_disease_facts",
                  "synth_condition_facts", "collections", "references"]:
            if op[k] != truth[k]:
                bad.append("%s: %r != %r" % (k, op[k], truth[k]))
        if op["unrewritten"] != 0:
            bad.append("unrewritten references: %d" % op["unrewritten"])
    elif workload == "query_mix":
        want = truth.get(op["name"])
        if op["digest"] != want:
            bad.append("digest %s != oracle %s" % (op["digest"], want))
    else:
        if op["shards"] != truth["x43_pipeline"]:
            bad.append("shards %s != oracle %s" %
                       (op["shards"], truth["x43_pipeline"]))
        if not op["manifest_matches"]:
            bad.append("manifest differs from the written shards")
        if op["packed_docs"] != op["written_docs"]:
            bad.append("packs hold %d docs, shards %d" %
                       (op["packed_docs"], op["written_docs"]))
        if op["written_docs"] != op["kept"]:
            bad.append("kept %d != written %d" %
                       (op["kept"], op["written_docs"]))
        if op["docs_in_two_splits"] != 0:
            bad.append("%d docs in more than one split" %
                       op["docs_in_two_splits"])
        if op["mix_rows"] <= 0:
            bad.append("empty mixture weights")
    return bad


def end_to_end(workload, result, good, rec):
    """Metrics of the operations that passed; failed ones are never
    timed."""
    walls = [op["wall_s"] for op in good]
    if workload == "query_mix":
        total = sum(op["wall_s"] for op in result["ops"])
        throughput = len(good) / total
    else:
        items = rec["sizes"]["bundles_valid" if workload == "fhir_load"
                             else "docs"]
        throughput = benchlib.percentile([items / w for w in walls], 50)
    return {
        "setup_s": (result["setup_s"], "s"),
        "items_per_s": (throughput, "1/s"),
        "op_p50_s": (benchlib.percentile(walls, 50), "s"),
        "out_bytes_per_in_byte": (result["outputs"]["bytes"] /
                                  rec["sizes"]["input_bytes"], "ratio"),
        "out_files": (result["outputs"]["files"], "count"),
    }


def tail(good):
    """p90 and the highest percentile with ten samples beyond it, with the
    sample count (measured operations only)."""
    walls = [op["wall_s"] for op in good]
    p = benchlib.tail_percentile(len(walls))
    return {"samples": len(walls),
            "p90_s": benchlib.percentile(walls, 90),
            "tail_pct": p,
            "tail_s": benchlib.percentile(walls, p) if p else None}


def span_table(spans):
    """Spans summed by name, with driver-only time from task intervals."""
    table = {}
    for s in spans:
        t = table.setdefault(s["name"], {"calls": 0})
        t["calls"] += 1
        for k, v in s.items():
            if k in ("name", "op", "intervals", "start_ms", "end_ms"):
                continue
            t[k] = t.get(k, 0) + v
        t["driver_only_s"] = t.get("driver_only_s", 0) + benchlib.driver_only(
            s["intervals"], s["start_ms"], s["end_ms"]) / 1e3
    return table


def per_layer(result):
    """Counters of the whole measured run."""
    w = result["whole"]
    covered = sum(s["wall_s"] for s in result["spans"])
    traced_wall = sum(op["wall_s"] for op in result["ops"])
    m = {
        "run.cpu_s": (w["cpu_s"], "s"),
        "run.driver_only_s": (benchlib.driver_only(
            w["intervals"], w["start_ms"], w["end_ms"]) / 1e3, "s"),
        "run.task_run_s": (w["task_run_s"], "s"),
        "run.jobs": (w["jobs"], "count"),
        "run.tasks": (w["tasks"], "count"),
        "run.shuffle_bytes": (w["shuffle_bytes"], "bytes"),
        "run.spill_bytes": (w["spill_bytes"], "bytes"),
        "jvm.jit_s": (w["jit_s"], "s"),
        "jvm.gc_s": (w["gc_s"], "s"),
        "codegen.classes": (w["codegen_classes"], "count"),
        "codegen.compile_s": (w["codegen_compile_s"], "s"),
        "run.first_round_s": (result["rounds_s"][0], "s"),
        "jvm.heap_peak_mb": (result["heap_peak_mb"], "MB"),
        "trace.op_p50_s": (benchlib.percentile(
            [op["wall_s"] for op in result["ops"]], 50), "s"),
        "trace.span_gap_s": (traced_wall - covered, "s"),
        "trace.overhead_s": (result["trace_own_s"], "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    return m


def host():
    mem = ""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = line.split(":")[1].strip()
    return {"nproc": nproc(), "mem_total": mem}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["fhir_load", "query_mix", "corpus_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build.build()
    in_dir, rec = inputs(cp, a.workload, a.seed)
    work = os.path.join(DATA, "work", "%s-%d" % (a.workload, os.getpid()))
    gen.reset_dir(work)
    result_path = os.path.join(work, "result.json")
    args = ["run", a.workload, in_dir, work, str(a.seconds), str(a.trace),
            str(nproc()), str(a.seed), result_path]
    if a.workload == "query_mix":
        args.append(os.path.join(HERE, "queries.txt"))
    try:
        java(cp, args, work, os.path.join(work, "run.log"), JVM_TIMEOUT_S,
             heap=HEAP)
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = {}
    good = []
    for i, op in enumerate(result["ops"]):
        bad = verify(a.workload, op, rec["truth"])
        if bad:
            failures["%d:%s" % (i, op["name"])] = bad
        else:
            good.append(op)
    attempted = len(result["ops"])
    failed = attempted - len(good)
    if not good:
        raise SystemExit("no operation succeeded: %s" %
                         json.dumps(failures)[:2000])

    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "host": dict(host(), jdk=result["java_version"],
                     spark=result["spark_version"]),
        "sizes": rec["sizes"], "input_gen_s": rec["gen_s"],
        "samples": len(good), "measured_wall_s": result["wall_s"],
        "rounds_s": result["rounds_s"],
        "rounds": [result["rounds"], result["rounds_planned"]],
        "error_rate": failed / attempted,
        "failures": failures,
    }
    if a.trace:
        summary["spans"] = span_table(result["spans"])
        metrics = per_layer(result)
    else:
        metrics = end_to_end(a.workload, result, good, rec)
        summary["op_tail"] = tail(good)
    print(json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
