#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark driver
from source (sbt, offline) on first use, generates the workload's inputs
from the seed, runs the JVM driver, checks every op's output, and prints
one JSON object as the last line of stdout: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. Lines before it, prefixed
"# ", stamp the run (cpus, scale, seed, commit, heap, Spark version) and
report the tail percentile used, failing ops, trace overhead and any
counter that did not repeat across traced passes.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

# Inputs: airline flights come from --seed. The star-schema and document
# tables are one fixed generated set (so every op output has a digest
# pinned after a DuckDB check, see pin.py); there --seed fixes op order.
AIRLINE_ROWS = 4_000
STAR_SF = 0.01
TABLE_SEED = 42
SETUPS = 3
HEAP = "2g"
JVM_TIMEOUT_S = 170

# A run is set-up, two warm-up passes and two measured passes in a fresh JVM,
# and the benchmark's 22 runs per workload must fit its time budget. At
# this scale Spark's fixed per-job cost dominates every op (0.1-0.3 s
# even for a group-by), so op lists are short: one op per family, with
# the LLM-pipeline ops riding in star_mix rather than a workload of their
# own.
STAR_MIX = [
    # short relational reads
    "q1_filter_project", "q20_sessionize",
    # plans: range and as-of joins
    "q37_range_join", "q42_asof_native",
    # graph mining
    "q63_triangles",
    # writes: CDC upsert and z-order layout
    "q60_cdc_upsert", "q83_zorder",
    # LLM data pipeline: curation, dedup, ANN search, text, media
    "c1_curate", "d2_minhash_lsh", "s6_knn_lsh", "t17_lm_bigrams",
    "m5_media_phash",
]
WORKLOADS = ("airline_batch", "star_mix")

LLM_LAYERS = {"c": "llm.curation", "d": "llm.dedup", "s": "llm.similarity",
              "t": "llm.text", "m": "llm.multimodal"}
PLANS_OPS = {"q37_range_join", "q42_asof_native"}
OPS_OPS = {"q60_cdc_upsert", "q83_zorder"}

# Per-layer counters: the full set G for the layers that do most work,
# a short set for the rest (see BENCHMARK.json for the names).
G = ["busy_s", "jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
     "exec_cpu_s", "driver_gap_s", "sched_wait_s", "failed_tasks",
     "persisted_left"]
G_LAYERS = ["stats", "ml", "queries", "ops", "llm.dedup", "llm.similarity",
            "llm.text", "llm.curation"]
SHORT = ["busy_s", "jobs", "tasks"]
SHORT_LAYERS = ["io", "etl", "viz", "plans", "llm.multimodal"]
SKIP_SHARE_LAYERS = ["ml", "queries", "llm.dedup"]
UNITS = {"busy_s": "s", "exec_cpu_s": "s", "driver_gap_s": "s",
         "sched_wait_s": "s", "shuffle_write_bytes": "bytes",
         "spill_bytes": "bytes"}


def layer_of(op):
    if op in PLANS_OPS:
        return "plans"
    if op in OPS_OPS:
        return "ops"
    if op[0] == "q":
        return "queries"
    return LLM_LAYERS[op[0]]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    h = hashlib.sha256()
    for base in ("src/main/scala", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        p = os.path.join(root, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def commit_of(root, digest):
    """The git commit when run from a clone, else the source digest."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "src-" + digest[:16]


def build(root, digest):
    """Package engine + driver once per source digest; returns the jar."""
    bench = os.path.join(root, "perfbench")
    target = os.path.join(bench, "target")
    os.makedirs(target, exist_ok=True)
    jar = os.path.join(target, "scala-2.13", "graft-perfbench_2.13-0.1.0-SNAPSHOT.jar")
    stamp = os.path.join(target, "source.digest")
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return jar
        for stale in (stamp, class_archive(jar)):
            if os.path.exists(stale):
                os.remove(stale)
        log = os.path.join(target, "build.log")
        with open(log, "w") as fh:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.server.autostart=false", "package"],
                cwd=bench, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=600).returncode
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            die(f"build failed (exit {rc}); log in {log}")
        with open(stamp, "w") as fh:
            fh.write(digest)
    return jar


def class_archive(jar):
    return os.path.join(os.path.dirname(jar), "classes.jsa")


def java_cmd(jar, spark_home, work, cfg_file):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # Class-data sharing: the first run after a build archives the classes
    # it loaded, and later runs map them instead of loading and verifying
    # thousands of Spark classes again.
    jsa = class_archive(jar)
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}")
    cp = f"{jar}:{os.path.join(spark_home, 'jars')}/*"
    return (["java"] + opens + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
        f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", cfg_file])


def run_jvm(jar, work, cfg):
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cfg_file = os.path.join(work, "run.properties")
    with open(cfg_file, "w") as fh:
        for k, v in cfg.items():
            fh.write(f"{k}={v}\n")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            java_cmd(jar, os.environ["SPARK_HOME"], work, cfg_file),
            cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"driver JVM failed ({rc})")
    with open(cfg["out"]) as fh:
        return json.load(fh)


def e2e_metrics(res, tail_p, n_failed, n_attempted):
    untraced = [p for p in res["passes"] if not p["traced"]]
    samples = [o["s"] for p in untraced for o in p["ops"]]
    return {
        "setup_s": (M.median([s["setup_s"] for s in res["setups"]]), "s"),
        "pass_s": (M.median([sum(o["s"] for o in p["ops"]) for p in untraced]), "s"),
        "op_p50_s": (M.percentile(samples, 50), "s"),
        "op_tail_s": (M.percentile(samples, tail_p), "s"),
        "cpu_s": (M.median([p["cpu_s"] for p in untraced]), "s"),
        "heap_peak_mb": (M.median([p["heap_peak_mb"] for p in untraced]), "MB"),
        "ok_share": (1 - n_failed / n_attempted, "share"),
    }


def layer_metrics(res, recall):
    """Per-layer counters: per traced pass, summed over the layer's spans;
    the reported value is the median over traced passes."""
    spans = res["spans"]
    self_s = M.self_times(spans)
    per_pass = {}
    for s in spans:
        if s["layer"] == "pass":
            continue
        acc = per_pass.setdefault(s["parent"], {}).setdefault(s["layer"], {})
        row = {"busy_s": self_s[s["id"]], "driver_gap_s": M.driver_gap_s(s)}
        for k in ("jobs", "stages", "stages_skipped", "tasks", "failed_tasks",
                  "shuffle_write_bytes", "spill_bytes", "exec_cpu_s",
                  "sched_wait_s", "persisted_left"):
            row[k] = float(s[k])
        for k, v in row.items():
            acc[k] = acc.get(k, 0.0) + v
    passes = list(per_pass.values())

    def med(layer, k):
        return M.median([p.get(layer, {}).get(k, 0.0) for p in passes])

    out = {"core.session_s": (M.median([s["session_s"] for s in res["setups"]]), "s")}
    for layer in G_LAYERS:
        for k in G:
            out[f"{layer}.{k}"] = (med(layer, k), UNITS.get(k, "count"))
    for layer in SHORT_LAYERS:
        for k in SHORT:
            out[f"{layer}.{k}"] = (med(layer, k), UNITS.get(k, "count"))
    traced = [p for p in res["passes"] if p["traced"]]
    out["io.bytes_written"] = (M.median([int(p["bytes_written"]) for p in traced]), "bytes")
    for layer in SKIP_SHARE_LAYERS:
        run = sum(p.get(layer, {}).get("stages", 0) for p in passes)
        skipped = sum(p.get(layer, {}).get("stages_skipped", 0) for p in passes)
        out[f"{layer}.stages_skipped_share"] = (
            skipped / (run + skipped) if run + skipped else 0.0, "share")
    hits, attempts = recall
    out["llm.similarity.recall"] = (hits / attempts if attempts else 0.0, "share")
    out["ops.scratch_left"] = (M.median([int(p["scratch_new"]) for p in res["passes"]]), "count")
    return out, per_pass


def count_mismatches(per_pass):
    """Layer counts that differ between traced passes (they should not)."""
    bad = []
    passes = sorted(per_pass.items())
    for (pa, a), (pb, b) in zip(passes, passes[1:]):
        for layer in sorted(set(a) | set(b)):
            for k in ("jobs", "stages", "tasks"):
                x, y = a.get(layer, {}).get(k, 0), b.get(layer, {}).get(k, 0)
                if x != y:
                    bad.append(f"{layer}.{k} {pa}={x:g} {pb}={y:g}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        die("run from the root of a graft checkout (engine sources not found)")
    if "SPARK_HOME" not in os.environ:
        die("SPARK_HOME must name a Spark 4 install")
    digest = source_digest(root)
    jar = build(root, digest)

    work = os.path.join(root, "perfbench", ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report(args, root, jar, work, digest)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def cpu_count():
    return len(os.sched_getaffinity(0))


def execute(args, jar, work, dump=False):
    """Generate the inputs and run the JVM driver; returns its result, the
    input locations and the generation time."""
    data = os.path.join(work, "data")
    t0 = time.monotonic()
    if args.workload == "airline_batch":
        rows_file = os.path.join(work, "flights.parquet")
        os.makedirs(data)
        gen.airline_rows(rows_file, args.seed, AIRLINE_ROWS)
        names = []
    else:
        rows_file = ""
        gen.star_tables(data, TABLE_SEED, STAR_SF)
        names = STAR_MIX
    gen_s = time.monotonic() - t0
    orders = M.op_orders(args.seed, len(names), 64) if names else []
    cfg = {
        "workload": args.workload, "data": data, "rows_file": rows_file,
        "work": work, "seconds": args.seconds, "trace": args.trace,
        "cores": cpu_count(), "setups": SETUPS, "dump": int(dump),
        "run_id": os.path.basename(work),
        "ops": ",".join(f"{n}:{layer_of(n)}" for n in names),
        "orders": ";".join(",".join(map(str, o)) for o in orders),
        "out": os.path.join(work, "result.json"),
    }
    return run_jvm(jar, work, cfg), data, rows_file, gen_s


def pinned_digests(workload):
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh).get(workload, {})


def report(args, root, jar, work, digest):
    cpus = cpu_count()
    res, data, rows_file, gen_s = execute(args, jar, work)
    if args.workload == "airline_batch":
        scale = f"rows={AIRLINE_ROWS}"
        verdict, recall = checks.check_airline(rows_file, res["check"]), (0, 0)
    else:
        scale = f"sf={STAR_SF} table_seed={TABLE_SEED}"
        verdict, recall = checks.check_queries(
            data, res["check"], pinned_digests(args.workload))
    wrong = {op for op, why in verdict.items() if why}
    runs = [o for p in res["passes"] for o in p["ops"]]
    failed = [o for o in runs if not o["ok"] or o["op"] in wrong]
    # the tail percentile depends only on the workload's op count and the
    # guaranteed two untraced passes, so it is the same on every run
    tail_p = M.tail_percentile(2 * len(res["layers"]))

    stamp = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
             "scale": scale, "commit": commit_of(root, digest),
             "heap_max_mb": round(res["heap_max_mb"]),
             "spark_version": res["spark_version"], "seconds": args.seconds,
             "trace": args.trace, "passes": len(res["passes"]),
             "op_samples": len(runs), "tail_percentile": tail_p,
             "gen_s": round(gen_s, 3), "warm_s": round(res["warm_s"], 3),
             "setups_s": [round(s["setup_s"], 3) for s in res["setups"]],
             "passes_s": [round(sum(o["s"] for o in p["ops"]), 3) for p in res["passes"]],
             "client": "1 closed-loop client"}
    print("# stamp " + json.dumps(stamp))
    for op, why in sorted(verdict.items()):
        if why:
            print(f"# FAIL {op}: {why}")
    for o in failed:
        if o["op"] not in wrong:
            print(f"# FAIL {o['op']}: {o['error']}")
    for op, layer in res["layers"].items():
        s = [o["s"] for o in runs if o["op"] == op]
        detail = " ".join(f"{k}={v}" for k, v in
                          res["check"][op].get("detail", {}).items())
        print(f"# op {op} [{layer}] median {M.median(s):.4f} s over {len(s)} {detail}".rstrip())

    if args.trace:
        metrics, per_pass = layer_metrics(res, recall)
        passes = res["passes"]
        t = [sum(o["s"] for o in p["ops"]) for p in passes if p["traced"]]
        u = [sum(o["s"] for o in p["ops"]) for p in passes if not p["traced"]]
        print(f"# trace overhead: traced minus untraced pass_s = "
              f"{statistics.median(t) - statistics.median(u):+.4f} s "
              f"({len(t)} traced, {len(u)} untraced passes)")
        bad = count_mismatches(per_pass)
        print("# traced counts repeat exactly" if not bad else
              "# traced counts differ: " + "; ".join(bad))
        print(f"# unattributed jobs: {res['unattributed_jobs']}; "
              f"graft_* scratch dirs left at exit: {res['scratch_left']}")
        spans_file = os.path.join(root, "perfbench", "out",
                                  f"spans-{args.workload}-{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans_file), exist_ok=True)
        with open(spans_file, "w") as fh:
            self_s = M.self_times(res["spans"])
            for s in res["spans"]:
                fh.write(json.dumps({
                    "id": s["id"], "name": s["name"], "parent": s["parent"],
                    "run": s["run"], "start_ms": s["start_ms"],
                    "end_ms": s["start_ms"] + round(s["dur_s"] * 1000),
                    "self_s": self_s[s["id"]]}) + "\n")
        print(f"# spans: {os.path.relpath(spans_file, root)}")
    else:
        metrics = e2e_metrics(res, tail_p, len(failed), len(runs))

    print(json.dumps({
        "correct": not failed, "attempted": len(runs), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
