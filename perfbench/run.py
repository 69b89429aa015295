#!/usr/bin/env python3
"""graft benchmark: seeded workloads through the engine's public API.

    python3 perfbench/run.py --workload sync_index --seed 1 --seconds 20 --trace 0

Builds the engine from the checkout's sources (cached by a source
digest), generates the workload's inputs from ``--seed``, runs one
closed-loop client in a JVM on ``Graft.session(nproc)``, checks every
iteration's output, and prints the metrics as the last line of standard
output. ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run. The exit code is 0 only when every
check passed. See README.md for the workloads and metrics.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("sync_index", "curate")
# the JVM's time beyond --seconds: session start, warm-up, the minimum
# timed iterations (the last may overrun --seconds), a traced run's
# sequential gates, and headroom for a contended host
JVM_ALLOWANCE_S = 145
BUILD_TIMEOUT_S = 840
HEAP = "4g"
# curate's JVM compiles with C1 only. Under the default tiered JIT, C2
# keeps compiling the planner for the whole of a curate run, its threads
# take cores from the box, and iterations get ~7% faster each time, so
# a run's median sat on that slope. With C1 alone the timed iterations
# are flat, runs are shorter and run-to-run spread about halves (see
# README.md). sync_index was no steadier with C1, so it keeps the default.
JIT = {"curate": ["-XX:TieredStopAtLevel=1"]}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

Q = ["wall_s", "jobs", "stages", "single_task_stages", "cpu_util", "shuffle_write_mb"]
F = ["construct_s", "plan_s", "exec_s"]
GATES = ["text.TextOps.qualityScore", "curate.Curate.repetitionStats",
         "text.Relevance.rarityScore", "text.Relevance.lmScore",
         "dedup.Dedup.dedupCluster", "curate.Curate.decontaminate"]
LAYERS = {
    "sync.Sync.syncDiff": ["construct_s"],
    "index.Indexing.searchDoc": ["construct_s"],
    "sinks.Sinks.chunkedWrite": Q + ["written_mb"],
    **{g: Q for g in GATES},
    "Pipeline.curateGates": ["wall_s", "jobs", "single_task_stages", "cpu_util"],
    "Pipeline.curateCorpusFrom": F + ["jobs"],
    "Pipeline.curationReportFrom": F + ["jobs"],
}
EXTRA_LAYER_METRICS = {"Pipeline.curateGates.gate_overlap": "ratio",
                       "bench.iteration.self_s": "s",
                       "bench.trace.overhead": "ratio"}

END_TO_END = {"setup_s": "s", "iter_p50_s": "s", "rows_per_s": "rows/s",
              "heap_retained_mb": "MB"}


def log(msg):
    print(msg, flush=True)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def build():
    """Compile engine and harness with sbt; returns the JVM classpath.

    The build is cached under ``.build/<digest>`` keyed by a digest of
    every source file, so only the first run of a source state pays for
    sbt. sbt compiles into shared ``target`` directories that the next
    build of another source state overwrites, so the cache keeps its own
    copy of every class directory on the classpath; jars come from
    read-only caches and are referenced in place.
    """
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    bdir = os.path.join(HERE, ".build", h.hexdigest()[:16])
    cp_file = os.path.join(bdir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # resolve only from the local caches, like the repo's own test runs
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = p.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or ".jar" not in cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\nbuild failed\n")
        raise SystemExit(2)
    shutil.rmtree(bdir, ignore_errors=True)
    entries = []
    for n, e in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(e):
            dst = os.path.join(bdir, f"classes-{n}")
            shutil.copytree(e, dst)
            e = dst
        entries.append(e)
    # the classpath file is written last: it marks a complete cache entry
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(os.pathsep.join(entries))
    os.replace(cp_file + ".tmp", cp_file)
    log(f"build: {time.time() - t0:.1f} s")
    return os.pathsep.join(entries)


def cpu_times():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def run_jvm(cp, workload, run_dir, seconds, trace):
    result = os.path.join(run_dir, "result.json")
    for d in ("tmp", "warehouse", "work"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
                   "-XX:-UsePerfData"] + JIT.get(workload, [])
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graftbench.Main", workload, f"{run_dir}/inputs",
              f"{run_dir}/work", str(seconds), str(trace), result])
    # shuffle scratch stays where Graft.session puts it (spark.local.dir
    # on tmpfs), so the benchmark times the engine's own I/O set-up
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_ALLOWANCE_S + 2 * seconds)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(f"{tail}\nengine run failed ({code})\n")
        return None
    with open(result) as fh:
        return json.load(fh)


def check_sync(it):
    """The written search documents are exactly the snapshot's new and
    changed keys that have line items, a customer and a nation, as an
    independent DuckDB query over the snapshot computes them."""
    import duckdb
    snap, out = it["snapshot"], it["out"]
    con = duckdb.connect()
    want = [r[0] for r in con.sql(f"""
        SELECT o.o_orderkey FROM '{snap}/orders.parquet' o
        JOIN '{snap}/customer.parquet' c ON o.o_custkey = c.c_custkey
        JOIN '{snap}/nation.parquet' n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderkey % 11 <> 0
          AND (o.o_orderkey % 7 = 0 OR o.o_orderkey % 5 = 0)
          AND o.o_orderkey IN (SELECT l_orderkey FROM '{snap}/lineitem.parquet')
        ORDER BY 1""").fetchall()]
    got = [r[0] for r in con.sql(f"""
        SELECT key FROM read_parquet('{out}/**/*.parquet', hive_partitioning = true)
        ORDER BY 1""").fetchall()]
    con.close()
    if got != want:
        return f"written keys {len(got)} != expected {len(want)}"
    return None


def summarize(name, values, unit):
    """One human-readable line: median, tail percentile, sample count."""
    med = statistics.median(values)
    tail = stats.tail_percentile(values)
    t = f"p{tail[0]} {tail[1]:.4f}" if tail else "no percentile with 10 samples beyond"
    log(f"  {name:<22} {med:.4f} {unit:<7} (median of n={len(values)}; {t})")


def end_to_end(res, setup_s):
    timed = [it for it in res["iterations"] if it["phase"] == "timed"]
    walls = [it["wall_s"] for it in timed]
    rows = sum(it["rows"] for it in timed)
    m = {"setup_s": setup_s,
         "iter_p50_s": statistics.median(walls),
         "rows_per_s": rows / sum(walls),
         "heap_retained_mb": res["heap_retained_mb"]}
    log(f"  {'setup_s':<22} {setup_s:.4f} s       (one set-up)")
    summarize("iter_p50_s", walls, "s")
    log(f"  {'rows_per_s':<22} {m['rows_per_s']:.4f} rows/s  "
        f"({rows} rows over n={len(walls)} iterations)")
    log(f"  {'heap_retained_mb':<22} {m['heap_retained_mb']:.4f} MB")
    return m


def per_layer(res):
    cores = res["cores"]
    spans = res["spans"]
    m = stats.layer_metrics(spans, LAYERS, cores)
    tree = stats.SpanTree(spans)
    pooled = [stats.duration(s) for s in tree.named("Pipeline.curateGates")]
    gates = sum(stats.duration(s) for g in GATES for s in tree.named(g))
    m["Pipeline.curateGates.gate_overlap"] = (
        gates / statistics.median(pooled) if pooled else 0.0)
    iters = tree.named("iteration")
    m["bench.iteration.self_s"] = statistics.median(
        [tree.self_s(s) for s in iters]) if iters else 0.0
    timed = [it for it in res["iterations"] if it["phase"] == "timed"]
    plain = [it["wall_s"] for it in timed if not it["traced"]]
    traced = [it["wall_s"] for it in timed if it["traced"]]
    m["bench.trace.overhead"] = stats.trace_overhead([it["wall_s"] for it in timed])
    log("self time per span (median s):")
    names = {s["id"]: s["name"] for s in tree.spans}
    by_name = {}
    for s in tree.spans:
        name = s["name"]
        if name in ("construct", "plan", "exec"):
            name = f"{names[s['parent']]}/{name}"
        by_name.setdefault(name, []).append(tree.self_s(s))
    for name, v in by_name.items():
        log(f"  {name:<36} {statistics.median(v):.4f}  (n={len(v)})")
    unatt = [s for s in spans if s["id"] < 0]
    if unatt:
        log(f"  jobs outside spans: {unatt[0]['jobs']}")
    log(f"tracing overhead {m['bench.trace.overhead']:+.3f} against plain neighbours "
        f"(traced iter p50 {statistics.median(traced):.4f} s, n={len(traced)}; "
        f"plain {statistics.median(plain):.4f} s, n={len(plain)})")
    units = {f"{n}.{q}": stats.UNITS[q] for n, qs in LAYERS.items() for q in qs}
    units.update(EXTRA_LAYER_METRICS)
    return {k: {"value": m[k], "unit": units[k]} for k in units}


def main():
    # a terminated runner still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.stderr.write("engine sources not found next to the benchmark\n")
        return 2
    cp = build()

    t_setup = time.time()
    tot0, steal0 = cpu_times()
    load0 = os.getloadavg()
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        gen.generate(a.workload, a.seed, f"{run_dir}/inputs")
        rows, size = gen.input_sizes(f"{run_dir}/inputs")
        log(f"inputs: {a.workload} seed {a.seed}: {rows} rows, {size} bytes")
        t_jvm = time.time()
        res = run_jvm(cp, a.workload, run_dir, a.seconds, a.trace)
        if res is None:
            return 1
        setup_s = res["timed_start_ms"] / 1000.0 - t_setup
        log("iterations: " + " ".join(
            f"{it['phase'][0]}{'t' if it['traced'] else ''}:{it['wall_s']:.2f}+{it['check_s']:.2f}"
            for it in res["iterations"]))
        last = res["iterations"][-1]
        if "manifest_rows" in last:
            log(f"outputs: manifest {last['manifest_rows']} rows, "
                f"report {last['report_rows']} rows")
        log(f"phases: generate {t_jvm - t_setup:.1f} s, "
            f"session {res['session_ready_ms'] / 1000.0 - t_jvm:.1f} s, "
            f"timed start {res['timed_start_ms'] / 1000.0 - t_jvm:.1f} s, "
            f"end {res['end_ms'] / 1000.0 - t_jvm:.1f} s, exit {time.time() - t_jvm:.1f} s")
        for it in res["iterations"]:
            if it["ok"] and a.workload == "sync_index":
                err = check_sync(it)
                if err:
                    it["ok"], it["error"] = False, err
        failed = [it for it in res["iterations"] if not it["ok"]]
        for it in failed:
            log(f"FAILED iteration {it['i']}: {it['error']}")
        tot1, steal1 = cpu_times()
        log("box: " + json.dumps({
            "cores": os.cpu_count(), "load_start": load0, "load_end": os.getloadavg(),
            "steal_share": (steal1 - steal0) / max(1, tot1 - tot0)}))
        attempted = len(res["iterations"])
        log(f"error_rate: {len(failed)}/{attempted}")
        if a.trace:
            trace_dir = os.path.join(HERE, ".traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as fh:
                json.dump(res["spans"], fh)
            metrics = per_layer(res)
        else:
            m = end_to_end(res, setup_s)
            metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"correct": not failed, "attempted": attempted,
                          "failed": len(failed), "metrics": metrics}), flush=True)
        return 0 if not failed else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
