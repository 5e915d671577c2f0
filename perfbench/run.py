"""Benchmark runner.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 2 --trace 0

Run from the repository root. Builds the engine with the benchmark's
own sbt build (once per source fingerprint, into .bench_build/),
generates the seed's inputs, runs one workload in a fresh JVM and
prints every metric by name and unit; the last stdout line is the JSON
result. `--trace 1` records spans and prints the per-layer metrics
instead of the end-to-end ones. `--workload all` runs every workload.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["rag_serve", "curate_batch", "ingest_refresh"]
# set-up reps per workload. The first is cold (class loading, JIT,
# codegen) and its time is printed; setup_s is the median of the others.
SETUP_REPS = {"rag_serve": 3, "curate_batch": 3, "ingest_refresh": 3}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# result of curate_batch's un-sharded corpus check, kept per build
CORPUS_CHECK = os.path.join(BUILD, "corpus_check.json")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
LAYERS = ["Chunker", "VectorOps", "Knn", "SimilaritySearch", "Pq", "Retrieval",
          "ContextAssembly", "Eval", "Clean", "TextAnalysis", "Dedup", "Curation", "EventStream"]
MB = 1e6
# units of the metrics printed but not listed in BENCHMARK.json
UNGATED_UNITS = {"op_p50_s": "s", "items_per_s": "1/s", "Store.bytes_written_mb": "MB",
                 "Store.files_written": "count", "Store.write_amp": "ratio",
                 "EventStream.batches": "count", "EventStream.wait_s": "s",
                 "EventStream.drain_s": "s", "EventStream.busy_s": "s",
                 "EventStream.cpu_s": "s", "EventStream.calls": "count",
                 "EventStream.jobs": "count", "EventStream.shuffle_mb": "MB",
                 "Build.store_init_s": "s"}


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless this source state is built."""
    classpath = os.path.join(BUILD, "sbt-target", "classpath.txt")
    stamp = os.path.join(BUILD, "fingerprint")
    fp = source_fingerprint()
    if os.path.exists(classpath) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(classpath).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(CORPUS_CHECK):
        os.remove(CORPUS_CHECK)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       HERE, out, env, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(classpath):
        tail = open(log).read()[-3000:]
        fail(f"build failed (exit {rc}); see {log}\n{tail}", 3)
    with open(stamp, "w") as f:
        f.write(fp)
    return open(classpath).read().strip()


def run_group(cmd, cwd, out, env, timeout):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def inputs_for(seed):
    d = os.path.join(BUILD, "inputs", f"seed-{seed}")
    if not os.path.exists(os.path.join(d, "complete")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(seed, d)
        open(os.path.join(d, "complete"), "w").close()
    return d


def run_jvm(classpath, workload, inputs, seconds, trace):
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    check_corpus = workload == "curate_batch" and not os.path.exists(CORPUS_CHECK)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Dperfbench.checkCorpus={str(check_corpus).lower()}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main", workload, inputs, work,
              str(seconds), str(trace), str(SETUP_REPS[workload]), out])
    log = os.path.join(BUILD, f"{workload}.log")
    with open(log, "w") as f:
        rc = run_group(cmd, ROOT, f, os.environ.copy(), JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload} run failed (exit {rc}); see {log}\n{open(log).read()[-3000:]}", 4)
    raw = json.load(open(out))
    corpus_checks(workload, raw)
    if trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(traces, f"{workload}.spans.jsonl"))
        with open(os.path.join(traces, f"{workload}.layers.json"), "w") as f:
            json.dump(raw["layers"], f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    return raw


def corpus_checks(workload, raw):
    """The un-sharded corpus check of `curate_batch` runs in the first run
    of a build; later runs of that build report its recorded result."""
    if workload != "curate_batch":
        return
    done = [c for c in raw["checks"] if c["name"] == "pipeline_e2e_rows"]
    if done:
        with open(CORPUS_CHECK, "w") as f:
            json.dump(done[0], f)
    else:
        c = json.load(open(CORPUS_CHECK))
        raw["checks"].append(dict(c, detail=c["detail"] + " (recorded by the first run of this build)"))


def hash_checks(workload, seed, raw):
    """Curate outputs must hash the same for a shard in every run of a
    seed, traced or not."""
    hashes = raw["extra"].get("output_hashes", [])
    if not hashes:
        return []
    path = os.path.join(BUILD, "hashes", f"{workload}-{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    known = json.load(open(path)) if os.path.exists(path) else {}
    bad = [h["shard"] for h in hashes if known.setdefault(h["shard"], h["hash"]) != h["hash"]]
    with open(path, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    return [{"name": "shard_hash_stable", "ok": not bad,
             "detail": f"{len(hashes)} shard outputs, differing from earlier runs: {bad}"}]


def warm_setups(raw):
    """The set-up reps after the cold first one."""
    return raw["setups"][1:]


def reference_s(raw):
    """The run's reference time: the geometric mean of the median Spark-job
    sample and the median CPU-loop sample."""
    return math.sqrt(stats.median(raw["reference_job_samples"])
                     * stats.median(raw["reference_cpu_samples"]))


def end_to_end(raw):
    ops = raw["ops"]
    n = len(ops)
    busy = sum(o["latency_s"] for o in ops)
    ref = reference_s(raw)
    op_p50 = stats.median(stats.op_latencies(ops))
    items_per_s = sum(o["items"] for o in ops if o["ok"]) / busy
    return {
        "setup_s": stats.median([s["total_s"] for s in warm_setups(raw)]),
        "op_p50_s": op_p50,
        "items_per_s": items_per_s,
        "op_p50_rel": op_p50 / ref,
        "items_per_ref": items_per_s * ref,
        "shuffle_mb_per_op": sum(o["shuffle_write_bytes"] for o in ops) / n / MB,
        "live_heap_mb": raw["live_heap_mb"],
    }


def per_layer(raw):
    ops = raw["ops"]
    n = len(ops)
    cpu = sum(o["cpu_s"] for o in ops)
    extra = raw["extra"]
    m = {}
    for layer in LAYERS:
        row = raw["layers"].get(layer, {})
        m[f"{layer}.busy_s"] = row.get("busy_s", 0.0)
        m[f"{layer}.calls"] = row.get("calls", 0)
        m[f"{layer}.jobs"] = row.get("jobs", 0)
        m[f"{layer}.cpu_s"] = row.get("cpu_s", 0.0)
        m[f"{layer}.shuffle_mb"] = row.get("shuffle_write_bytes", 0) / MB
    for name in ["Knn.pairs_per_hit", "SimilaritySearch.candidates_per_hit",
                 "Pq.candidates_per_hit", "ContextAssembly.chars_kept_frac", "Clean.kept_frac",
                 "TextAnalysis.kept_frac", "Dedup.kept_frac", "Curation.selected_frac",
                 "Store.write_amp", "Store.bytes_written_mb", "Store.files_written",
                 "EventStream.batches", "EventStream.wait_s", "EventStream.drain_s"]:
        m[name] = extra.get(name, 0)
    recall = extra.get("recall_by_path", {})
    m["SimilaritySearch.recall_at_k"] = recall.get("ivf", 0.0)
    m["Pq.recall_at_k"] = recall.get("pq", 0.0)
    setups = warm_setups(raw)
    for b in ["corpus_embed", "ivf_train", "pq_train", "store_init"]:
        m[f"Build.{b}_s"] = stats.median([s.get(f"{b}_s", 0.0) for s in setups])
    m.update({
        "Spark.session_start_s": raw["session_start_s"],
        "Spark.planning_s": sum(o["planning_s"] for o in ops) / n,
        "Spark.exec_s": sum(o["job_s"] for o in ops) / n,
        "Spark.cpu_s_per_op": cpu / n,
        "Spark.jobs_per_op": sum(o["jobs"] for o in ops) / n,
        "Spark.tasks_per_op": sum(o["tasks"] for o in ops) / n,
        "Spark.sched_delay_s": sum(o["sched_delay_s"] for o in ops) / n,
        "Spark.gc_ms": sum(o["gc_ms"] for o in ops) / n,
        "Spark.spill_mb": sum(o["spill_bytes"] for o in ops) / n / MB,
        "Spark.input_mb": sum(o["input_bytes"] for o in ops) / n / MB,
        "Trace.op_p50_s": stats.median(stats.op_latencies(ops)),
    })
    return m


def report(workload, seed, trace, raw, spec):
    checks = raw["checks"] + hash_checks(workload, seed, raw)
    failed, attempted = stats.fail_frac(raw["ops"], checks)
    section = "per_layer" if trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}
    values = per_layer(raw) if trace else end_to_end(raw)
    ops = raw["ops"]
    lat = stats.op_latencies(ops)
    p90 = stats.tail_percentile(lat, 90)
    busy = sum(o["latency_s"] for o in ops)
    setup_times = ", ".join(f"{s['total_s']:.3f}" for s in raw["setups"])
    print(f"[{workload} seed={seed} trace={trace}] {len(ops)} ops in {raw['loop_s']:.2f} s, "
          f"session start {raw['session_start_s']:.2f} s, set-up reps {setup_times} s (first cold)")
    for name, value in values.items():
        print(f"  {name} = {value:.6g} {units.get(name) or UNGATED_UNITS[name]}")
    print(f"  fail_frac = {failed / attempted:.6g} ratio ({failed} of {attempted})")
    print("  op_p90_s = " + (f"{p90:.6g} s" if p90 is not None else
                             f"n/a ({len(ops)} ops; the tail rule needs {stats.MIN_BEYOND} beyond it)"))
    for kind in sorted({o["kind"] for o in ops}):
        ks = [o["latency_s"] for o in ops if o["kind"] == kind]
        print(f"  {kind}: {len(ks)} ops, median {stats.median(ks):.4g} s")
    print(f"  reference = {reference_s(raw):.4g} s (Spark job "
          f"{stats.median(raw['reference_job_samples']):.4g} s, CPU loop "
          f"{stats.median(raw['reference_cpu_samples']):.4g} s, "
          f"medians of {len(raw['reference_job_samples'])})")
    print(f"  listener overhead = {raw['listener_s']:.4g} s ({raw['listener_s'] / busy:.3%} of op time)")
    if "ann_recall" in raw["extra"]:
        print(f"  ann_recall = {raw['extra']['ann_recall']:.4g} ratio")
    for c in checks:
        print(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    for o in ops:
        if not o["ok"]:
            print(f"  op failed: {o['kind']} {o['path']}: {o['error']}")
    correct = failed == 0
    return stats.result_line(correct, attempted, failed, values, units)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # on SIGTERM unwind through run_group, which kills and waits for the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala)", 2)
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH", 2)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classpath = build()
    inputs = inputs_for(args.seed)
    lines = []
    for w in (WORKLOADS if args.workload == "all" else [args.workload]):
        raw = run_jvm(classpath, w, inputs, args.seconds, args.trace)
        lines.append(report(w, args.seed, args.trace, raw, spec))
    if args.workload == "all":
        for line in lines[:-1]:
            print(line)
    print(lines[-1])


if __name__ == "__main__":
    main()
