#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one JVM.

    python3 cdpbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness from
that checkout (once; later runs reuse the build while the sources are
unchanged), generates the workload's inputs from the seed, runs the
workload in one JVM on `local[nproc]`, checks every output, and prints as
its last line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1` (which also leaves the spans in `.cdpbench/spans/`).

    python3 cdpbench/run.py --rebuild-oracle

recomputes the cached DuckDB answers of the query workloads.

Everything it writes stays under `.cdpbench/` at the checkout root; each
run's temp, spill, warehouse and state directories live in a fresh
directory there that is deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".cdpbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 150
# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[cdpbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def _source_digest():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")]:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for p in [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt; returns the classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit(f"no engine sources under {ROOT}: run from the root of a checkout")
    digest = _source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and the harness with sbt")
    t0 = time.time()
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, timeout=840)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("build failed")
    log(f"build took {time.time() - t0:.0f} s")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip()


# ---- the JVM ---------------------------------------------------------------

def cores():
    return len(os.sched_getaffinity(0))


def heap_mb():
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 4))


def java(classpath, run_dir, args, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.level=error"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "cdpbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"the JVM did not finish within {timeout} s")
    finally:
        if proc.poll() is None:   # timed out, or this process is being stopped
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        sys.stderr.write(out.decode(errors="replace")[-6000:])
        raise SystemExit(f"the JVM exited with {proc.returncode}")
    return out.decode(errors="replace")


# ---- inputs ----------------------------------------------------------------

def _cached(path, make):
    """Build `path` with `make(tmp)` unless a complete copy exists."""
    if os.path.exists(os.path.join(path, ".done")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def inputs(w, seed, seconds=0):
    """The workload's input directory, generated on first use. cdp_board
    reads fixed inputs (its DuckDB answers are cached per input); the
    stream is generated from the run's seed, one cold batch and as many
    warm ones as `seconds` asks for."""
    data = os.path.join(WORK, "data", f"gen{gen.VERSION}")
    if w.kind == "queries":
        return _cached(os.path.join(data, f"tables-sf{w.sf}-s{w.data_seed}"),
                       lambda d: gen.tables(d, w.sf, w.data_seed))
    n = 1 + workloads.warm_batches(seconds)
    return _cached(os.path.join(data, f"stream-b{n}-n{w.batch_size}-s{seed}"),
                   lambda d: gen.stream(os.path.join(d, "stream"), seed, n, w.batch_size))


def prepare_queries(cp, w):
    """Inputs and DuckDB answers of a query workload. The first run in a
    checkout computes them; later runs find them cached."""
    data = inputs(w, w.data_seed)
    return data, checks.oracle_answers(data, oracle_sql(cp, w), os.path.join(WORK, "oracle"))


def oracle_sql(classpath, w):
    """SparkEntry.oracleSql for the workload's queries, cached per build."""
    path = os.path.join(WORK, f"oracle_sql-{w.name}.json")
    key = hashlib.sha256((open(os.path.join(WORK, "build.stamp")).read()
                          + ",".join(sorted(w.queries))).encode()).hexdigest()
    if os.path.exists(path):
        cached = json.load(open(path))
        if cached.get("key") == key:
            return cached["sql"]
    run_dir = os.path.join(WORK, "runs", f"oracle-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        out = os.path.join(run_dir, "oracle.json")
        java(classpath, run_dir, ["oracle", out] + sorted(w.queries), 120)
        sql = json.load(open(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump({"key": key, "sql": sql}, fh)
    return sql


# ---- metrics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = min(len(xs) - 1, max(0, int(round(q * (len(xs) - 1)))))
    return xs[i]


def metrics(w, raw, seed_rows):
    """End-to-end and per-layer metrics from the JVM's raw timings.
    `seed_rows` is the events table's row count (cdp_board) or the rows of
    each batch (ingest_stream)."""
    ops = raw["ops"]
    passes = raw["passes"]
    warm_passes = passes[1:]
    m = {"setup_s": raw["setup_s"], "heap_live_mb": raw["heap_live_mb"],
         "first_pass_s": passes[0], "pass_s": median(warm_passes)}
    layer = {"gc_s": raw["gc_s"], "scratch_mb": raw["scratch_mb"],
             "codegen_classes": raw["codegen_classes"],
             "codegen_compile_s": raw["codegen_compile_s"]}
    groups = raw.get("groups", {})

    def counts(pred):
        tot = {}
        for g, c in groups.items():
            if pred(g):
                for k, v in c.items():
                    tot[k] = tot.get(k, 0) + v
        return tot

    def phases(rs):
        return {p: sum(r[p] for r in rs) for p in ("construct", "plan", "exec")}

    if w.kind == "queries":
        warm = [o for o in ops if o["pass"] > 0 and "construct" in o]
        cold = [o for o in ops if o["pass"] == 0 and "construct" in o]
        n_warm = max(1, len(warm_passes))
        total = lambda o: o["construct"] + o["plan"] + o["exec"]  # noqa: E731
        times = [total(o) for o in warm]
        m["query_p50_s"] = median(times)
        m["query_p90_s"] = pct(times, 0.9)
        m["read_p50_s"] = median([o["exec"] for o in warm])
        m["batch_p50_s"] = median([total(o) for o in warm if o["name"] == workloads.SINK_QUERY])
        per_pass = {}   # pass -> time of the queries that fold the events table
        for o in warm:
            if o["name"] in workloads.EVENT_FOLDS:
                per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + total(o)
        fold = median(list(per_pass.values()))
        m["events_per_s"] = seed_rows / fold if fold else 0.0
        ph = phases(warm)
        layer.update({"construct_s": ph["construct"] / n_warm, "plan_s": ph["plan"] / n_warm,
                      "exec_s": ph["exec"] / n_warm,
                      "first_construct_s": phases(cold)["construct"],
                      "plan_kb": sum(o["plan_bytes"] for o in warm) / n_warm / 1e3,
                      "tracks_fold_s": 0.0, "schema_fold_s": 0.0, "identity_fold_s": 0.0,
                      "compact_s": 0.0, "batch_jobs": 0.0, "write_amp": 0.0,
                      "state_files": 0, "state_mb": 0.0})
        is_warm = lambda g: not g.startswith("0:") and g not in ("check", "-")  # noqa: E731
        exec_counts = counts(lambda g: is_warm(g) and g.endswith("/exec"))
    else:
        batches = [o for o in ops if o["kind"] == "batch"]
        warm = [o for o in batches if o["batch"] > 0]
        folds = [o["tracks_fold"] + o["schema_fold"] + o["identity_fold"] for o in warm]
        reads = [r for o in warm for r in o["reads"].values()]
        total = lambda r: r["construct"] + r["plan"] + r["exec"]  # noqa: E731
        read_times = [total(r) for r in reads]
        m["batch_p50_s"] = median(folds)
        m["query_p50_s"] = median([sum(total(r) for r in o["reads"].values()) for o in warm])
        m["query_p90_s"] = pct(read_times, 0.9)
        m["read_p50_s"] = median(read_times)
        m["events_per_s"] = sum(seed_rows[o["batch"]] for o in warm) / sum(folds)
        n_warm = max(1, len(warm))
        ph = phases(reads)
        cold_reads = list(batches[0]["reads"].values())
        layer.update({"construct_s": ph["construct"] / n_warm, "plan_s": ph["plan"] / n_warm,
                      "exec_s": ph["exec"] / n_warm,
                      "first_construct_s": phases(cold_reads)["construct"],
                      "plan_kb": sum(r["plan_bytes"] for r in reads) / n_warm / 1e3,
                      "tracks_fold_s": median([o["tracks_fold"] for o in warm]),
                      "schema_fold_s": median([o["schema_fold"] for o in warm]),
                      "identity_fold_s": median([o["identity_fold"] for o in warm]),
                      "compact_s": sum(o["compact"] for o in warm) / n_warm,
                      "state_files": raw["state_files"], "state_mb": raw["state_mb"]})
        warm_ids = {f"batch:{o['batch']}" for o in warm}
        is_warm = lambda g: g.split("/")[0] in warm_ids  # noqa: E731
        exec_counts = counts(lambda g: is_warm(g) and not g.endswith(("/construct", "/plan")))
        fold_counts = counts(lambda g: is_warm(g) and g.endswith("_fold"))
        layer["batch_jobs"] = fold_counts.get("jobs", 0) / n_warm
        in_bytes = sum(w.batch_bytes[o["batch"]] for o in warm)
        layer["write_amp"] = fold_counts.get("output_bytes", 0) / max(1, in_bytes)
        layer["exec_s"] = (sum(folds) + sum(o["compact"] for o in warm) + ph["exec"]) / n_warm
    warm_counts = counts(is_warm)
    layer.update({
        "construct_jobs": counts(lambda g: is_warm(g) and g.endswith("/construct")).get("jobs", 0) / n_warm,
        "jobs": warm_counts.get("jobs", 0) / n_warm,
        "stages": warm_counts.get("stages", 0) / n_warm,
        "tasks": warm_counts.get("tasks", 0) / n_warm,
        "task_cpu_s": warm_counts.get("task_cpu_ns", 0) / 1e9 / n_warm,
        "input_mb": warm_counts.get("input_bytes", 0) / 1e6 / n_warm,
        "shuffle_mb": warm_counts.get("shuffle_bytes", 0) / 1e6 / n_warm,
        "spill_mb": warm_counts.get("spill_bytes", 0) / 1e6 / n_warm,
    })
    busy_s = exec_counts.get("task_run_ms", 0) / 1e3 / n_warm
    layer["core_busy"] = busy_s / (layer["exec_s"] * raw["cores"]) if layer["exec_s"] else 0.0
    return m, layer


# ---- main ------------------------------------------------------------------

def main():
    # a stop request unwinds like an error, so the JVM is killed and the
    # run directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("stopped"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rebuild-oracle", action="store_true")
    a = ap.parse_args()
    if a.rebuild_oracle:
        shutil.rmtree(os.path.join(WORK, "oracle"), ignore_errors=True)
        cp = build()
        for w in workloads.ALL.values():
            if w.kind == "queries":
                prepare_queries(cp, w)
        return
    if a.workload not in workloads.ALL:
        raise SystemExit(f"unknown workload {a.workload!r}; choose from {sorted(workloads.ALL)}")
    w = workloads.ALL[a.workload]
    cp = build()
    run_dir = os.path.join(WORK, "runs", f"{w.name}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if w.kind == "queries":
            data, answers = prepare_queries(cp, w)
            seed_rows = checks.input_rows(data, ["events"])
        else:
            data = inputs(w, a.seed, a.seconds)
            seed_rows, w.batch_bytes = checks.stream_sizes(os.path.join(data, "stream"))
        t0 = time.time()
        java(cp, run_dir, ["run", w.name, data, run_dir, str(a.seed), str(a.seconds),
                           str(a.trace), str(cores())] + list(w.queries), JVM_TIMEOUT_S)
        t1 = time.time()
        raw = json.load(open(os.path.join(run_dir, "raw.json")))
        results = os.path.join(run_dir, "results")
        for o in raw["ops"]:
            if "error" in o:
                log(f"FAILED {o['name']} (pass {o['pass']}): {o['error']}")
        errors = [f"{o['name']}: {o['mismatch']}" for o in raw["ops"] if "mismatch" in o]
        if w.kind == "queries":
            failed_cold = {o["name"] for o in raw["ops"] if o["pass"] == 0 and "error" in o}
            errors += checks.compare_queries(
                results, answers, [q for q in w.queries if q not in failed_cold])
        else:
            n = max(o["batch"] for o in raw["ops"]) + 1
            errors += checks.check_stream(os.path.join(data, "stream"), n, results)
        for e in errors:
            log(f"CHECK FAILED {e}")
        log(f"JVM {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s")
        e2e, layer = metrics(w, raw, seed_rows)
        if a.trace:
            spans = os.path.join(WORK, "spans")
            os.makedirs(spans, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(spans, f"{w.name}-{a.seed}.json"))
        chosen = workloads.PER_LAYER if a.trace else workloads.END_TO_END
        source = layer if a.trace else e2e
        out = {"correct": not errors, "attempted": len(raw["ops"]), "failed": raw["failed"],
               "metrics": {k: {"value": source[k], "unit": u} for k, u in chosen}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
