#!/usr/bin/env python3
"""Benchmark runner for the CDC engine.

    python3 perfbench/run.py --workload <cdc_stream|validate> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (`perfbench/build.sbt`); later runs reuse the
build. Each run generates its inputs from the seed, starts one harness JVM
at local[nproc], checks every output, and prints one JSON line as the last
line of stdout: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. A readable report goes to stderr and a full report (raw
samples, spans, provenance) to `.bench_out/`.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")

# Graded check/CDC queries of the validation sweep: duplicate profile,
# footer-answered PK range, latest per key. (`runAll` in the same sweep runs
# the row-count smoke check per table.)
VALIDATE_KEYS = ["a3_dup_profile", "a7_pk_range", "w1_latest_per_key"]

# The curation keys of the sweep: a dedup kernel, an ANN index, a text kernel.
CURATE_KEYS = ["dd_minhash_lsh", "sim_ann_ivf", "tx_tfidf"]

# Workload sizes. `scale` 0.01 is 60k lineitem rows; corpus sizes are rows.
# A run measures a fixed number of passes, sized from `--seconds` with the
# nominal wall-clock time of one pass (`pass_s`) on a 4-vCPU host: at least
# `min_passes`, and after the open-loop phase (`phase1_s`) for cdc_stream.
SIZES = {
    "validate": {"scale": 0.01, "warm_scale": 0.01, "docs": 100, "vecs": 100,
                 "stores": [("orders", 16), ("events", 16)], "lookups": 2,
                 "corpus_seed": 20240601, "corpus_docs": 500, "corpus_vecs": 500,
                 "warm_corpus_docs": 500, "warm_corpus_vecs": 500, "warm_sweeps": 2,
                 "pass_s": 6.0, "min_passes": 2},
    "cdc_stream": {"keys": 20000, "zipf": 1.1, "tie_share": 0.3, "delete_share": 0.1,
                   "buckets": 16, "trigger_ms": 0, "rate": 2000.0, "phase1_s": 4.0,
                   "add_every_ms": 5.0, "batch_events": 10000,
                   "warm_batches": 5, "pass_s": 1.6, "min_passes": 5},
}
# `--tiny`: the same workloads at smoke-test size (the benchmark's own tests).
TINY = {
    "validate": {"scale": 0.001, "warm_scale": 0.001, "docs": 30, "vecs": 30, "lookups": 1,
                 "corpus_docs": 60, "corpus_vecs": 60, "warm_corpus_docs": 30,
                 "warm_corpus_vecs": 30, "warm_sweeps": 1, "min_passes": 1},
    "cdc_stream": {"keys": 500, "rate": 300.0, "phase1_s": 1.0, "batch_events": 500,
                   "warm_batches": 1, "min_passes": 1},
}


def pass_count(size, seconds, trace):
    """Passes a run measures: traced runs need two, a traced and an untraced one."""
    n = round(max(0.0, seconds - size.get("phase1_s", 0.0)) / size["pass_s"])
    return max(n, size["min_passes"], 2 if trace else 1)

EXPECTED = os.path.join(HERE, "expected_curate.json")


T_START = time.time()


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def mark(what):
    log(f"[perfbench] {time.time() - T_START:7.1f} s  {what}")


def source_stamp():
    """Hash of every input of the build, to rebuild only when one changed."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and harness with sbt once per source state; return
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("no engine sources at src/main: run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("[perfbench] building engine + harness with sbt")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM sbt starts keeps its temp files in the checkout and writes no perf data
    env = {**os.environ, "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData"}
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
         f"-Djna.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        log(p.stdout[-4000:])
        raise SystemExit(f"sbt build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# JDK 17 module opens Spark needs outside spark-submit.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# A run must end within 180 s; the harness JVM gets what is left of that.
RUN_LIMIT_S = 175


def run_jvm(cp, conf, work, timeout):
    conf_path = os.path.join(work, "conf.json")
    with open(conf_path, "w") as f:
        json.dump(conf, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           # a fixed set of JIT and GC threads, so none ends and takes its
           # CPU time out of the JVM-threads figure the harness subtracts
           "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UseDynamicNumberOfGCThreads",
           "--add-exports", "java.management/sun.management=ALL-UNNAMED",
           f"-Djava.io.tmpdir={tmp}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", conf_path]
    # subprocess.run kills the JVM on a timeout or any exception (SIGTERM included)
    p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=timeout)
    if p.returncode != 0 or not os.path.exists(conf["out"]):
        log(p.stderr[-6000:])
        raise SystemExit(f"harness JVM failed (exit {p.returncode})")
    with open(conf["out"]) as f:
        return json.load(f)


def prepare(workload, seed, work, size, passes):
    """Generate the run's inputs; returns (config fields, expected values)."""
    if workload == "cdc_stream":
        return {"cdc": size, "passes": passes}, {}
    v = size
    data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
    warm_seed = seed + 1_000_003
    tables = {**gen.star_tables(seed, v["scale"]), **gen.corpus_tables(seed, v["docs"], v["vecs"])}
    gen.write(tables, data)
    wtables = {**gen.star_tables(warm_seed, v["warm_scale"]),
               **gen.corpus_tables(warm_seed, v["docs"], v["vecs"])}
    gen.write(wtables, warm)
    # the curation corpus: fixed content, one copy per pass with its own
    # seed-chosen row order and file split
    content = gen.corpus_tables(v["corpus_seed"], v["corpus_docs"], v["corpus_vecs"])
    corpus_dirs = []
    for i in range(passes):
        corpus_dirs.append(os.path.join(work, f"corpus{i}"))
        gen.write(content, corpus_dirs[-1], order_seed=seed * 1000 + i)
    # one warm-up corpus copy per warm-up sweep, so every warm-up sweep is cold too
    warm_content = gen.corpus_tables(warm_seed, v["warm_corpus_docs"], v["warm_corpus_vecs"])
    warm_corpus = []
    for i in range(v["warm_sweeps"]):
        warm_corpus.append(os.path.join(work, f"warm_corpus{i}"))
        gen.write(warm_content, warm_corpus[-1], order_seed=warm_seed * 1000 + i)
    n_orders = tables["orders"].num_rows
    lookups = sorted({(seed * 2654435761 + i * 40503) % n_orders for i in range(v["lookups"])})
    conf = {"data_dirs": [data], "warm_dir": warm, "corpus_dirs": corpus_dirs,
            "warm_corpus_dirs": warm_corpus,
            "keys": VALIDATE_KEYS, "curate_keys": CURATE_KEYS,
            "lookup_table": "orders", "lookup_col": "o_orderkey", "lookups": lookups,
            "stores": [{"table": t, "buckets": b, "rows": tables[t].num_rows,
                        "warm_rows": wtables[t].num_rows} for t, b in v["stores"]]}
    return conf, {"data_dir": data, "corpus_dir": corpus_dirs[0],
                  "content": gen.content_digest(content)}


def expected_digests(result, expected, write_expected, problems):
    """{key: digest} the run's query results must match: DuckDB on the run's
    own files for the check queries; for the curation keys, digests computed
    once per corpus content (they take DuckDB much longer at larger sizes)."""
    sqls = result["oracle_sql"]
    checks = {k: q for k, q in sqls.items() if k not in CURATE_KEYS}
    curation = {k: q for k, q in sqls.items() if k in CURATE_KEYS}
    want = oracle.duckdb_digests(expected["data_dir"], checks)
    if write_expected:
        saved = oracle.duckdb_digests(expected["corpus_dir"], curation)
        oracle.save_expected(EXPECTED, expected["content"], saved)
    else:
        saved = oracle.load_expected(EXPECTED, expected["content"], problems)
    return {**want, **saved}


def check(workload, result, want):
    """Return (attempted, failed, problems): every failed or wrong-output
    operation counts once in `failed`."""
    if workload == "cdc_stream":
        bad = 1 if result["check"] else 0
        return len(result["batches"]) + 1, bad, [f"final table: {result['check']}"] * bad
    attempted, problems = 0, []
    for p in result["passes"]:
        for op in p["ops"]:
            attempted += 1
            msg = op["error"] or op["check"]
            if not msg and op["kind"] not in ("run_all", "lookup"):
                w = want.get(op["key"])
                if w is None:
                    msg = "no expected digest"
                elif w != op["digest"]:
                    msg = f"digest {op['digest']} != expected {w}"
            if msg:
                problems.append(f"pass {p['index']} {op['key']}: {msg}")
    return attempted, len(problems), problems


def cpu_times():
    """(busy, steal) jiffies of the host CPUs, or None where /proc/stat is
    missing: the steal share of a run says how much a noisy host slowed it."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(v), v[7] if len(v) > 7 else 0


def provenance(seed):
    head = "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        if out.returncode == 0:
            head = out.stdout.strip()
            st = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                                cwd=ROOT, capture_output=True, text=True)
            if st.stdout.strip():
                head += "-dirty"
    except OSError:
        pass
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                          text=True).stderr.splitlines()
    return {"git_head": head, "nproc": os.cpu_count(), "jvm": java[0] if java else "unknown",
            "seed": seed}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    ap.add_argument("--write-expected", action="store_true",
                    help="recompute the curation keys' DuckDB digests into expected_curate.json")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    mark("build checked")
    cpu0 = cpu_times()
    t0 = time.time()
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        size = {**SIZES[args.workload], **(TINY[args.workload] if args.tiny else {})}
        passes = pass_count(size, args.seconds, args.trace)
        conf, expected = prepare(args.workload, args.seed, work, size, passes)
        gen_ms = (time.time() - t0) * 1000
        mark("inputs generated")
        conf.update({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                     "trace": bool(args.trace), "cores": os.cpu_count(), "work_dir": work,
                     "out": os.path.join(work, "result.json")})
        result = run_jvm(cp, conf, work, RUN_LIMIT_S - (time.time() - t0))
        mark("harness JVM ended")
        if "fatal" in result:
            raise SystemExit(f"harness failed: {result['fatal']}")
        problems = []
        want = {} if args.workload == "cdc_stream" else expected_digests(
            result, expected, args.write_expected, problems)
        attempted, failed, failures = check(args.workload, result, want)
        problems += failures
        mark("outputs checked")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["gen_ms"] = gen_ms
    cpu1 = cpu_times()
    steal = (cpu1[1] - cpu0[1]) * 100.0 / max(1, cpu1[0] - cpu0[0]) if cpu0 and cpu1 else None
    e2e = metrics.end_to_end(args.workload, result)
    layers = metrics.per_layer(args.workload, result, conf) if args.trace else {}
    report = {"provenance": {**provenance(args.seed), "host_steal_pct": steal},
              "workload": args.workload,
              "attempted": attempted, "failed": failed, "problems": problems[:50],
              "end_to_end": e2e, "wall_clock": metrics.wall_clock(args.workload, result),
              "per_layer": layers,
              "op_ms_p50": metrics.op_medians(result.get("passes", [])),
              "op_cpu_ms_p50": metrics.op_cpu_medians(result.get("passes", [])),
              "warmup_errors": result.get("warmup_errors", []),
              "self_time_ms": metrics.self_times(result.get("spans", []))}
    os.makedirs(OUT, exist_ok=True)
    name = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(name + ".json", "w") as f:
        json.dump(report, f, indent=1)
    with open(name + ".raw.json", "w") as f:
        json.dump(result, f)
    metrics.print_report(report, log)
    chosen = layers if args.trace else e2e
    line = {"correct": failed == 0 and not problems, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in chosen.items()}}
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
