#!/usr/bin/env python3
"""End-to-end benchmark of graft (see perfbench/README.md).

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py record [--verify VERIFY_OUT_DIR]

`run` builds the harness and the repository from source on first use
(sbt, offline), writes the seeded inputs for one run, starts one JVM that
sets the workload up and measures it, checks every output, and prints
one JSON line as the last line of standard output:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json;
with `--trace 1` they are the per-layer ones, measured by listeners and
spans registered from this directory. `record` rewrites the expected
fingerprints in expected.tsv.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.tsv")
SESSION_CONF = os.path.join(HERE, "session.conf")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
WORK = os.path.join(HERE, ".work")

SETUP_REPS = 3
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# The closed loop runs a fixed, seed-independent query set sized by
# --seconds, PASSES times over; each pass takes its own seeded order.
QUERIES_PER_SECOND = 0.5
PASSES = 4
CORE_PAIRS = ["mask_arith", "groupby_agg", "merge", "sort_head", "drop_dups"]

# Open-loop ingest: one untimed warm-up batch, then one batch file due
# every INGEST_INTERVAL_S seconds.
INGEST_INTERVAL_S = 4.0
INGEST_DOCS = {"fresh": 14, "copy": 2, "neardup": 2, "leak": 2}
INGEST_MIN_HITS = 20
INGEST_EVAL_DOCS = 6
INGEST_DRAIN_TIMEOUT_S = 60


def load_benchmark_units():
    """Metric name -> unit, from BENCHMARK.json at the repository root."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


# ---------------------------------------------------------------- arithmetic

def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    if pos == lo:
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo) if xs[hi] != math.inf else math.inf


def ratio(num, den):
    return num / den if den else float("nan")


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- inputs

def read_expected(path=EXPECTED):
    """name -> (module, rows, hash sum)."""
    out = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                module, name, n, s = line.rstrip("\n").split("\t")
                out[name] = (module, int(n), s)
    return out


def query_set(seconds, expected):
    """The fixed query set of the closed loop: round-robin over the
    analytics modules, in name order within a module, as many as
    --seconds buys at QUERIES_PER_SECOND."""
    modules = MODULES["analytics"]
    by_module = {m: sorted(n for n, (mod, _, _) in expected.items() if mod == m) for m in modules}
    spread = []
    for i in range(max(len(v) for v in by_module.values())):
        spread += [by_module[m][i] for m in modules if i < len(by_module[m])]
    return spread[:min(len(spread), math.ceil(seconds * QUERIES_PER_SECOND))]


# Query modules by family; `record` fingerprints both, the analytics
# workload runs the first.
MODULES = {
    "analytics": ["Relational", "Aggregations", "GroupBys", "Joins", "Positional", "Strings",
                  "MissingData", "UnaryMath", "Windows", "SetOps", "Sampling", "TpchDeep",
                  "PandasExt", "Spectral", "Lakehouse", "IoQ"],
    "curation": ["Dedup", "TextAnalysis", "Similarity", "Fingerprints", "CorpusQuality",
                 "CorpusStats", "MultimodalQ", "Pipelines"],
}


def fresh_text(rng):
    """A document of made-up words: no shingle shared with the corpus."""
    return " ".join("zx" + "".join(rng.choice("bcdfghjklmnpqrstvw") for _ in range(5))
                    for _ in range(rng.randint(25, 70)))


def ingest_batches(seed, seconds):
    """Seeded batches: (batch, due_ms, [(doc_id, kind, src rank, text)]).
    Batch 0 is the warm-up, processed before the schedule starts (due -1)."""
    rng = random.Random(seed)
    n = 1 + max(1, math.ceil(seconds / INGEST_INTERVAL_S))
    batches, next_id = [], 10_000_000
    for b in range(n):
        kinds = [k for k, c in INGEST_DOCS.items() for _ in range(c)]
        rng.shuffle(kinds)
        docs = []
        for kind in kinds:
            src = rng.randrange(1_000_000)
            text = {"fresh": lambda: fresh_text(rng),
                    "neardup": lambda: "zq" + str(rng.randrange(10**6)),
                    "leak": lambda: " ".join("zl" + str(rng.randrange(10**4)) for _ in range(3)),
                    "copy": lambda: ""}[kind]()
            docs.append((next_id, kind, src, text))
            next_id += 1
        batches.append((b, int((b - 1) * INGEST_INTERVAL_S * 1000) if b else -1, docs))
    return batches


def make_plan(workload, seed, seconds, trace, work, expected):
    rows = [("set", k, str(v)) for k, v in [
        ("workload", workload), ("data", DATA), ("work", work), ("trace", trace),
        ("cpus", nproc()), ("session_conf", SESSION_CONF), ("setup_reps", SETUP_REPS),
        ("min_hits", INGEST_MIN_HITS), ("drain_timeout_s", INGEST_DRAIN_TIMEOUT_S)]]
    rng = random.Random(seed)
    if workload == "analytics":
        names = query_set(seconds, expected)
        for p in range(PASSES):
            order = list(names)
            rng.shuffle(order)
            rows += [("query", str(p), q) for q in order]
        if trace:
            rows += [("core", c) for c in CORE_PAIRS]
    else:
        rows += [("eval", str(rng.randrange(1_000_000))) for _ in range(INGEST_EVAL_DOCS)]
        for b, due, docs in ingest_batches(seed, seconds):
            rows.append(("batch", str(b), str(due)))
            rows += [("doc", str(b), str(i), kind, str(src), text) for i, kind, src, text in docs]
    return rows


# ---------------------------------------------------------------- build

def sources_mtime():
    newest = 0.0
    for root in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(root):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build_env():
    """sbt offline, resolving from the local caches as the repo's tests do;
    its temp files stay in the checkout."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -XX:-UsePerfData -Djava.io.tmpdir=" + tmp
    return env


def classpath():
    """Compile the repository and the harness (once per source change);
    return the runtime classpath."""
    for need in (os.path.join(REPO, "build.sbt"), os.path.join(REPO, "src", "main", "scala")):
        if not os.path.exists(need):
            raise SystemExit("perfbench: the repository sources are missing (%s)" % need)
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= sources_mtime():
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime / fullClasspath"],
        cwd=HERE, env=build_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1])
    return lines[-1]


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, work, log_name):
    """Run the harness JVM inside `work`; every file it writes stays there."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + tmp, "-cp", cp, "graft.perfbench.Main"] + args
    with open(os.path.join(work, log_name), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: stopped by signal %d" % signum)

        signal.signal(signal.SIGTERM, stop)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(work, log_name)) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: harness JVM failed (%s)" % code)


# ---------------------------------------------------------------- checks

def mark_wrong(op, reason):
    """A completed operation with a wrong result: failed, but timed."""
    op["ok"] = False
    op["wrong"] = True
    op["err"] = reason


def check_queries(ops, expected):
    """Mark each query/core op failed unless its fingerprint matches."""
    for op in ops:
        if op["kind"] not in ("query", "core") or not op["ok"]:
            continue
        key = op["name"] if op["kind"] == "query" else op["name"].rsplit(".", 1)[0]
        want = expected.get(key)
        got = (op["n"], op["sum"])
        if want is None or (want[1], want[2]) != got:
            mark_wrong(op, "fingerprint %s, expected %s" % (got, want and (want[1], want[2])))


def check_ingest(ops, plan_rows, ingest):
    """Check the stream's decisions against the planted truth; a batch
    with any violation fails. Returns the number of staged documents."""
    docs = [(int(r[1]), int(r[2]), r[3]) for r in plan_rows if r[0] == "doc"]
    kept = {d for d, _ in ingest["kept"]}
    hit = {d for d, _ in ingest["hits"]}
    admitted = kept - hit
    sink = set(ingest["sink_ids"])
    bad = {}
    for b, d, kind in docs:
        why = None
        if kind in ("copy", "neardup") and d not in hit and d in kept:
            why = "planted %s %d found no collision" % (kind, d)
        elif kind == "leak" and d in kept:
            why = "planted leak %d was not dropped" % d
        elif kind == "fresh" and d not in admitted:
            why = "fresh doc %d was dropped" % d
        elif (d in admitted) != (d in sink):
            why = "doc %d admitted=%s but in sink=%s" % (d, d in admitted, d in sink)
        if why:
            bad.setdefault(b, []).append(why)
    staged = {d for _, d, _ in docs}
    dropped = (staged - kept) | hit
    if admitted | dropped != staged or admitted & dropped or sink - staged:
        bad.setdefault(-1, []).append("admitted + dropped != staged")
    for op in ops:
        b = int(op["name"][len("batch"):])
        reasons = bad.get(b, []) + bad.get(-1, [])
        if op["ok"] and reasons:
            mark_wrong(op, "; ".join(reasons))
    return len(docs)


# ---------------------------------------------------------------- metrics

def latency(op):
    """An operation that threw or never finished misses every latency
    limit; one that finished with a wrong result keeps its time (it
    still counts in `failed`)."""
    done = op["ok"] or op.get("wrong")
    return op["lat"] if done and op["lat"] is not None else math.inf


def end_to_end(workload, raw, ops, staged_docs):
    if workload == "ingest":
        # Each timed batch once; latency runs from the batch's due time.
        lats = [latency(op) for op in ops if op["kind"] == "batch"]
        wall = raw["wall_s"]
        items = staged_docs * len(lats) / sum(1 for o in ops if o["kind"] in ("batch", "warmup"))
    else:
        # Each query's median over the passes; the median pass's wall.
        per_query = {}
        for op in ops:
            if op["kind"] == "query":
                per_query.setdefault(op["name"], []).append(latency(op))
        lats = [statistics.median(v) for v in per_query.values()]
        wall = statistics.median(raw["pass_s"])
        items = len(per_query)
    cache = raw["cache"]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "wall_s": wall,
        "latency_p50_s": percentile(lats, 0.5),
        "latency_p90_s": percentile(lats, 0.9),
        "items_per_s": ratio(items, wall),
        "cache_mb": (cache["mem_bytes"] + cache["disk_bytes"]) / 1e6,
    }


def per_layer(raw, units):
    """The JVM's counters, plus what is computed here; a prewarm or span
    metric of BENCHMARK.json that this workload never produced is 0."""
    m = dict(raw["layers"])
    for name in units:
        if name.startswith(("caches.prewarm_s.", "span.")):
            m.setdefault(name, 0.0)
    for sp in raw.get("spans", []):
        key = "span.%s.self_s" % sp["name"]
        m[key] = m.get(key, 0.0) + sp["self_s"]
    m["queries.construct_s"] = sum(sp["dur_s"] for sp in raw.get("spans", [])
                                   if sp["name"] == "construct")
    core = raw.get("core", {})
    m["core.overhead_ratio"] = ratio(core["baloo_s"], core["hand_s"]) if core else 0.0
    m["core.plan_same"] = core.get("plan_same", 0)
    cache = raw["cache"]
    m["caches.artifacts"] = cache["artifacts"]
    m["caches.mem_bytes"] = cache["mem_bytes"]
    m["caches.disk_bytes"] = cache["disk_bytes"]
    ingest = raw.get("ingest", {})
    m["caches.replace_s"] = ingest.get("replace_s", 0.0)
    m["caches.replace_n"] = ingest.get("replace_n", 0)
    m["sources.write_s"] = ingest.get("sink_s", 0.0)
    m["streaming.rows_per_s"] = ratio(m["streaming.rows"], m["streaming.batch_s"]) \
        if m["streaming.batch_s"] else 0.0
    lags = [op["lag"] for op in raw["ops"] if op.get("lag") is not None]
    m["ingest.lag_s"] = max(lags) if lags else 0.0
    m["trace.listener_s"] = raw["listener_s"]
    return m


def report(values, units):
    missing = sorted(set(units) - set(values))
    if missing:
        raise SystemExit("perfbench: metrics missing from the run: %s" % ", ".join(missing))
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def evaluate(workload, raw, plan_rows, expected, trace, units):
    """Turn the JVM's raw record into the result object."""
    ops = raw["ops"]
    check_queries(ops, expected)
    staged = check_ingest([o for o in ops if o["kind"] in ("batch", "warmup")], plan_rows,
                          raw["ingest"]) if workload == "ingest" else 0
    failed = sum(1 for op in ops if not op["ok"])
    e2e_units, layer_units = units
    metrics = end_to_end(workload, raw, ops, staged)
    if trace:
        # wall_s of the traced run; minus the untraced wall_s, the tracing overhead
        metrics = dict(per_layer(raw, layer_units), **{"trace.wall_s": metrics["wall_s"]})
    return {
        "correct": failed == 0 and not raw["errors"],
        "attempted": len(ops),
        "failed": failed,
        "metrics": report(metrics, layer_units if trace else e2e_units),
    }


# ---------------------------------------------------------------- main

def run(args):
    if args.workload not in ("analytics", "ingest"):
        raise SystemExit("perfbench: unknown workload %r" % args.workload)
    units = load_benchmark_units()
    expected = read_expected()
    cp = classpath()
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan_rows = make_plan(args.workload, args.seed, args.seconds, args.trace, work, expected)
    plan_path = os.path.join(work, "plan.tsv")
    with open(plan_path, "w") as f:
        f.writelines("\t".join(r) + "\n" for r in plan_rows)
    result_path = os.path.join(work, "result.json")
    run_jvm(cp, ["run", plan_path, result_path], work, "jvm.log")
    with open(result_path) as f:
        raw = json.load(f)
    if args.trace:
        with open(raw["spans_file"]) as f:
            raw["spans"] = json.load(f)
    result = evaluate(args.workload, raw, plan_rows, expected, args.trace, units)
    print("settings: " + json.dumps(raw["settings"], sort_keys=True))
    for op in raw["ops"]:
        if not op["ok"]:
            print("FAILED %s: %s" % (op["name"], op.get("err", "")))
    for e in raw["errors"]:
        print("ERROR " + e)
    if args.trace:
        print("spans: %s (%d spans, self time per span)" % (raw["spans_file"], len(raw["spans"])))
    print(json.dumps(result))


def record(args):
    cp = classpath()
    work = os.path.join(WORK, "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "expected.tsv")
    jvm_args = ["record", DATA, str(nproc()), SESSION_CONF, out] + ([args.verify] if args.verify else [])
    global JVM_TIMEOUT_S
    JVM_TIMEOUT_S = 1800
    try:
        run_jvm(cp, jvm_args, work, "record.log")
    finally:
        with open(os.path.join(work, "record.log")) as f:
            print("".join(l for l in f if l.startswith(("MISMATCH", "FAILED", "RECORDED"))), end="")
    shutil.copy(out, EXPECTED)


def main(argv):
    if argv and argv[0] == "record":
        p = argparse.ArgumentParser(prog="run.py record")
        p.add_argument("--verify", help="graft.Verify output directory to cross-check")
        record(p.parse_args(argv[1:]))
        return
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run(p.parse_args(argv))


if __name__ == "__main__":
    main(sys.argv[1:])
