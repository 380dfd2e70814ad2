#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into .bench_build/perfbench and records
a JVM class-data archive; later runs reuse both while the sources are
unchanged. Measured runs require the archive (-Xshare:on), so a run never
silently loads its classes from the jars instead. The last stdout line is
one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see README.md).
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
BUILD = os.path.join(WORK, "build")
JAR = os.path.join(BUILD, "graft-perfbench.jar")
JSA = os.path.join(BUILD, "classes.jsa")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
CORES = min(4, os.cpu_count() or 1)
SETUPS = 3
LATE_LIMIT_MS = 1000.0   # an ingest run whose generator ran later than this is not scored

# Workload parameters (fixed: a later change may not retune them).
INGEST = {"rate": 60, "burst": 800}
BATCH_QUERIES = ["ext_kn3_score", "ext_hits", "ext_auc_ci", "q1_agg"]
BATCH_SCALE = 0.01
WORKLOADS = ("ingest", "batch_ops")

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")


def build():
    """Compile engine + harness, jar them, and record the class-data
    archive, unless the stamp of the sources says it is current."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) "
                         "not found; run from the root of a graft checkout")
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_path = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp \
            and os.path.exists(JAR) and os.path.exists(JSA):
        return
    log("building engine and harness (sbt, offline)")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ, COURSIER_MODE="offline")
    subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.override.build.repos=true",
         f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
         "compile"],
        cwd=BENCH, env=env, check=True, stdout=sys.stderr, timeout=780)
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in fs:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.rename(JAR + ".tmp", JAR)
    record_class_archive()
    with open(stamp_path, "w") as f:
        f.write(stamp)


def record_class_archive():
    """One JVM over every workload's code on tiny inputs, dumping the
    classes it loaded; measured runs map the archive instead of loading
    and verifying those classes from ~300 jars. On a 4-core VM this cut
    ingest setup_s by about 7 s and a run's wall time by 13-17 s, which
    keeps a full pass of runs in budget. A build that cannot record it
    fails."""
    d = os.path.join(BUILD, "classlist")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    gen(["prep", "--seed", "0", "--out", os.path.join(d, "prep")])
    gen(["tables", "--seed", "0", "--out", os.path.join(d, "tables"),
         "--scale", "0.001"])
    cmd = java_cmd([
        "--workload", "classlist", "--dir", d, "--prep", os.path.join(d, "prep"),
        "--tables", os.path.join(d, "tables"), "--cores", str(CORES),
        "--setups", "1", "--seconds", "0", "--phases", "1",
        "--queries", ",".join(BATCH_QUERIES)], record=True)
    r = subprocess.run(cmd, stdout=sys.stderr, timeout=600)
    if r.returncode != 0 or not os.path.exists(JSA):
        raise SystemExit("perfbench: the class-data archive was not recorded")
    shutil.rmtree(d, ignore_errors=True)


def java_cmd(args, record=False):
    """The harness JVM: recording the class-data archive, or mapping it.
    Its temporary files (and Spark's local dirs, which default to them)
    stay inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = JDK_OPENS + ["-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
                         "-Djava.io.tmpdir=" + tmp,
                         "-Dlog4j2.configurationFile=" +
                         os.path.join(BENCH, "log4j2.properties")]
    flags += (["-XX:ArchiveClassesAtExit=" + JSA, "-Xlog:cds=off"] if record
              else ["-Xshare:on", "-XX:SharedArchiveFile=" + JSA])
    return (["java"] + flags +
            ["-cp", JAR + os.pathsep + os.path.join(SPARK_JARS, "*"),
             "graftbench.Harness"] + args)


def gen(args, **kw):
    return subprocess.run([sys.executable, os.path.join(BENCH, "gen.py")] + args,
                          check=True, stdout=sys.stderr, timeout=300, **kw)


# ---------------------------------------------------------------- stats

def percentiles(values):
    """Median and the highest percentile (capped at p99) that still has at
    least ten samples beyond it, with the sample count (nearest rank).
    Below 20 samples no percentile above the median qualifies: the tail
    is then reported as the median, with tail_q None."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"n": 0, "p50": float("nan"), "tail_q": None, "tail": float("nan")}

    def rank(p):
        return xs[max(0, math.ceil(p * n) - 1)]
    q = min(990, (n - 10) * 1000 // n) / 1000 if n >= 20 else None
    return {"n": n, "p50": rank(0.5), "tail_q": q,
            "tail": rank(q) if q is not None else rank(0.5)}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------- processes

class Procs:
    """Every process this run starts; all are stopped and waited for."""

    def __init__(self):
        self.procs = []

    def start(self, cmd, **kw):
        p = subprocess.Popen(cmd, stdout=sys.stderr, **kw)
        self.procs.append(p)
        return p

    def wait(self, p, timeout):
        """Wait for `p`; give up early if another process of the run failed."""
        end = time.time() + timeout
        while p.poll() is None:
            if any(q.poll() not in (None, 0) for q in self.procs):
                self.stop_all()
                raise SystemExit(f"perfbench: a process of the run failed: "
                                 f"{[q.args[-1] for q in self.procs if q.returncode]}")
            if time.time() > end:
                self.stop_all()
                raise SystemExit(f"perfbench: {p.args[0]} timed out")
            time.sleep(0.05)
        return p.returncode

    def stop_all(self):
        for p in self.procs:
            if p.poll() is None:
                p.terminate()
        for p in self.procs:
            try:
                p.wait(timeout=15)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


def harness(procs, run_dir, workload, seconds, phases, setups, inputs):
    """Start the engine-side JVM for one workload run; `inputs` are the
    workload's own arguments (--prep, or --tables and --queries)."""
    os.makedirs(run_dir, exist_ok=True)
    return procs.start(java_cmd([
        "--workload", workload, "--dir", run_dir,
        "--cores", str(CORES), "--setups", str(setups),
        "--seconds", str(seconds), "--phases", str(phases)] + inputs))


def read_json(path):
    with open(path) as f:
        return json.load(f)


def harness_result(run_dir):
    h = read_json(os.path.join(run_dir, "harness.json"))
    if not h.get("ok"):
        raise SystemExit(f"perfbench: engine side failed: {h.get('error')}")
    return h


def setup_s(h):
    """JVM + session start, the median of the engine-side set-ups the
    harness repeated, and the warm-up."""
    return h["session_s"] + median(h["setups_s"]) + h["warm_s"]


# ---------------------------------------------------------------- ingest

def freshness(chain, g, phase):
    """Freshness per output row of one generator phase: creation of the
    last event the row needs → return of the store write that first holds
    it. Returns (steady freshness ms, burst drain s, rows missing)."""
    vis = {(q, b): ms for q, b, ms in chain["batches"]}
    fresh, burst, missing = [], [], 0
    for table, q, seqs in (("dau", "dwd_dau", chain["dau_seq"]),
                           ("ow", "dwd_order", chain["ow_seq"])):
        for key, (kind, created) in g["created"][phase][table].items():
            seq = seqs.get(key)
            if seq is None or (q, seq) not in vis:
                missing += 1
                continue
            (fresh if kind == "steady" else burst).append(vis[(q, seq)] - created)
    drain_s = max(burst) / 1000.0 if burst else float("nan")
    return fresh, drain_s, missing


def ingest_checks(ans, exp):
    """Final serving answers vs the generator's arithmetic: (checks, failed)."""
    checks = failed = 0

    def nz(d):
        return {k: v for k, v in d.items() if v}
    want_td = nz(exp["dau"].get("2024-03-10", {}))
    want_yd = nz(exp["dau"].get("2024-03-09", {}))
    for got, want in ((nz(ans["dau"]["dauTd"]), want_td),
                      (nz(ans["dau"]["dauYd"]), want_yd),
                      (ans["dau"]["dauTotal"], sum(want_td.values()))):
        checks += 1
        if got != want:
            failed += 1
            log(f"ingest check: dau {got} != {want}")
    if set(exp["dau"]) - {"2024-03-09", "2024-03-10"}:
        checks += 1
        failed += 1
        log(f"ingest check: DAU days outside the checked two: {sorted(exp['dau'])}")
    for key, got in ans["items"].items():
        want = exp["items"].get(key, {"ct": 0, "cents": 0, "F": 0, "M": 0})
        amt = {"F": got["by_gender"].get("女", 0.0), "M": got["by_gender"].get("男", 0.0)}
        ok = got["ct"] == want["ct"] and got["detail_total"] == want["ct"] and all(
            abs(amt[s] - want[s] / 100.0) <= 1e-6 * max(1.0, want[s] / 100.0)
            for s in ("F", "M"))
        checks += 1
        if not ok:
            failed += 1
            log(f"ingest check: {key} {got} != {want}")
    return checks, failed


def run_ingest(a, run_dir, procs):
    prep = os.path.join(run_dir, "prep")
    gen(["prep", "--seed", str(a.seed), "--out", prep])
    phases = 2 if a.trace else 1
    h = harness(procs, run_dir, "ingest", a.seconds, phases,
                1 if a.trace else SETUPS, ["--prep", prep])
    g = procs.start([
        sys.executable, os.path.join(BENCH, "gen.py"), "ingest",
        "--seed", str(a.seed), "--dir", run_dir, "--rate", str(INGEST["rate"]),
        "--steady", str(a.seconds),
        "--burst", str(INGEST["burst"] if a.trace else 0), "--phases", str(phases),
        "--scaling", str(a.trace)])
    procs.wait(g, 175)
    procs.wait(h, 175)
    h = harness_result(run_dir)
    g = read_json(os.path.join(run_dir, "gen.json"))
    fresh, _, missing = freshness(h["chain"], g, "p0")
    missing += sum(freshness(h["chain"], g, f"p{i}")[2] for i in range(1, phases))
    checks, bad = ingest_checks(h["answers"], g["expected"])
    gp = g["phases"][0]
    late = percentiles(gp["late_ms"])
    if late["tail"] > LATE_LIMIT_MS:
        raise SystemExit(f"perfbench: generator fell {late['tail']:.0f} ms behind "
                         "its schedule; run flagged, not scored")
    pc = percentiles(fresh)
    attempted = sum(len(t) for ph in g["created"].values() for t in ph.values()) + checks
    failed = missing + bad
    summary = {"fresh_p50_ms": pc["p50"], f"fresh_p{pc['tail_q']}_ms": pc["tail"],
               "fresh_n": pc["n"], "steady_eps": gp["steady_events"] / a.seconds,
               "gen_late_p99_ms": late["tail"],
               "error_frac": f"{failed}/{attempted}"}
    e2e = {"latency_ms": (pc["p50"], "ms"), "tail_ms": (pc["tail"], "ms"),
           "setup_s": (setup_s(h), "s")}
    layers = {}
    if a.trace:
        fresh1, drain1, _ = freshness(h["chain"], g, "p1")
        layers = ingest_layers(g, h)
        layers["streaming.drain_eps"] = g["phases"][1]["burst_events"] / drain1
        layers["trace.overhead_frac"] = percentiles(fresh1)["p50"] / pc["p50"] - 1
        _, drain_one, _ = freshness(h["one_core"], g, f"p{phases}")
        layers["spark.scaling"] = drain_one / drain1
        layers["gen.late_p99_ms"] = percentiles(g["phases"][1]["late_ms"])["tail"]
    return e2e, layers, attempted, failed, summary


def ingest_layers(g, h):
    """Layer figures of the traced phase (p1) that need the generator's
    side or the whole batch timeline."""
    m = dict(h["layers"])
    ph = h["phases"][1]
    prog = {}
    for q, bid, start, trig, rows in h["progress"]:
        prog.setdefault(q, []).append((start, trig, rows))
    for q in prog:
        prog[q].sort()

    def next_start(q, t):
        return next((s for s, _, rows in prog.get(q, []) if s >= t and rows > 0), None)
    drops = sorted({ms for t in g["created"]["p1"].values() for _, ms in t.values()})
    waits = [n - t for t in drops for n in [next_start("ods_log", t)] if n is not None]
    m["streaming.queue_ms"] = statistics.fmean(waits) if waits else 0.0
    hops = []
    for src, dst in (("ods_log", "dwd_dau"), ("ods_cdc", "dwd_order")):
        for s, trig, rows in prog.get(src, []):
            n = next_start(dst, s + trig) if rows > 0 else None
            if n is not None:
                hops.append(n - (s + trig))
    m["streaming.hop_ms"] = statistics.fmean(hops) if hops else 0.0
    chain = h["chain"]
    st = chain["store"]
    m["streaming.sink.files_per_batch"] = st["files"] / max(1, len(chain["batches"]))
    m["streaming.sink.bytes_per_row"] = st["bytes"] / max(1, st["rows"])
    m["streaming.dedup_ratio"] = len(chain["dau_seq"]) / max(1, g["session_starts"])
    m["streaming.join_ratio"] = len(chain["ow_seq"]) / max(1, g["details_in"])
    m["serve.versions_per_key"] = st["rows"] / max(1, st["live_rows"])
    m.update(engine_layers(h["phases"][1]["gc_ms"], m.get("spark.task_ms_total", 0.0),
                           (ph["t1_ms"] - ph["t0_ms"]) / 1000.0, h["cores"]))
    return m


def engine_layers(gc_ms, task_ms, wall_s, cores):
    """Engine-wide figures of a traced phase: GC, task time, and the
    parallelism reached (task time over wall time × cores)."""
    task_s = task_ms / 1000.0
    return {"spark.gc_ms": float(gc_ms), "spark.task_s": task_s,
            "spark.parallelism": task_s / (wall_s * cores) if wall_s > 0 else 0.0}


# ---------------------------------------------------------------- batch_ops

def oracle_failures(tables, out_dir):
    """Compare each warm-up output with its DuckDB oracle on the same
    tables, the way tools/oracle_check.py does. Returns failed names."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import oracle_check
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in oracle_check.TABLES:
        p = os.path.join(tables, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = read_json(os.path.join(out_dir, "..", "oracle_sql.json"))
    bad = []
    for name, sql in sorted(oracles.items()):
        files = sorted(f for f in os.listdir(os.path.join(out_dir, name))
                       if f.endswith(".parquet"))
        s = oracle_check.norm(pq.read_table(
            [os.path.join(out_dir, name, f) for f in files]).to_pandas())
        d = oracle_check.norm(con.execute(sql).fetchdf())
        ok = list(s.columns) == list(d.columns) and len(s) == len(d) and all(
            oracle_check.cells_equal(x, y)
            for c in s.columns for x, y in zip(s[c], d[c]))
        if not ok:
            bad.append(name)
    return bad


def run_batch(a, run_dir, procs):
    tables = os.path.join(run_dir, "tables")
    gen(["tables", "--seed", str(a.seed), "--out", tables, "--scale", str(BATCH_SCALE)])
    order = list(BATCH_QUERIES)
    random.Random(a.seed).shuffle(order)
    phases = 2 if a.trace else 1
    h = harness(procs, run_dir, "batch_ops", a.seconds, phases,
                1 if a.trace else SETUPS,
                ["--tables", tables, "--queries", ",".join(order)])
    procs.wait(h, 175)
    h = harness_result(run_dir)
    bad = oracle_failures(tables, os.path.join(run_dir, "out"))
    for name in bad:
        log(f"batch_ops check: {name} differs from its DuckDB oracle")
    passes = h["p0"]["passes"]
    per_q = {}
    for ps in passes:
        for q, s, _ in ps:
            per_q.setdefault(q, []).append(s * 1000)
    pass_s = median([sum(s for _, s, _ in ps) for ps in passes])
    all_ms = [ms for v in per_q.values() for ms in v]
    attempted = len(all_ms) + len(order)
    failed = len(bad)
    summary = {"batch_s": pass_s, "passes": len(passes), "query_n": len(all_ms),
               "slowest": max(per_q, key=lambda q: median(per_q[q])),
               "error_frac": f"{failed}/{attempted}"}
    # each query's fastest timed pass: interference from other load on
    # the machine only ever adds time, so the minimum is the steadiest
    best = [min(v) for v in per_q.values()]
    e2e = {"latency_ms": (median(best), "ms"), "tail_ms": (max(best), "ms"),
           "setup_s": (setup_s(h), "s")}
    layers = {}
    if a.trace:
        p1 = h["p1"]
        layers = dict(p1["layers"])
        q1 = {}
        for ps in p1["passes"]:
            for q, s, cg in ps:
                q1.setdefault(q, []).append((s, cg))
        for q, v in q1.items():
            layers[f"operators.{q}.s"] = median([s for s, _ in v])
            layers[f"operators.{q}.codegen_ms"] = median([cg for _, cg in v])
        # busy time only: the traced passes wait for the listener bus
        # between queries, which is not the engine's wall time
        busy = sum(s for ps in p1["passes"] for _, s, _ in ps)
        layers.update(engine_layers(p1["gc_ms"], layers.get("spark.task_ms_total", 0.0),
                                    busy, h["cores"]))
        layers["operators.parallelism"] = layers["spark.parallelism"]
        pass1 = median([sum(s for _, s, _ in ps) for ps in p1["passes"]])
        layers["operators.queries_per_s"] = len(order) / pass1
        layers["trace.overhead_frac"] = pass1 / pass_s - 1
    return e2e, layers, attempted, failed, summary


# ---------------------------------------------------------------- main

def layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer"], spec["end_to_end"]


def main(argv=None):
    p = argparse.ArgumentParser(description="graft benchmark: one workload run")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = p.parse_args(argv)
    per_layer, end_to_end = layer_names()
    build()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    procs = Procs()
    try:
        fn = {"ingest": run_ingest, "batch_ops": run_batch}[a.workload]
        e2e, layers, attempted, failed, summary = fn(a, run_dir, procs)
        h = read_json(os.path.join(run_dir, "harness.json"))
        heap_mb = h["heap_mb"]
        summary.update(session_s=h["session_s"], setup_med_s=median(h["setups_s"]),
                       warm_s=h["warm_s"])
    finally:
        procs.stop_all()
        trace = os.path.join(run_dir, "trace.jsonl")
        if os.path.exists(trace):
            os.replace(trace, os.path.join(WORK, f"trace-{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)
    layers["spark.heap_mb"] = heap_mb
    if a.trace:
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in per_layer}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": e2e[m["name"]][1]}
                   for m in end_to_end}
    print("# " + a.workload + " seed=" + str(a.seed) + " " +
          " ".join(f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}"
                   for k, v in summary.items()))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
