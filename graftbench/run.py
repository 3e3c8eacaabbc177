#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload ledger_ops|corpus|ingest \
        --seed <n> --seconds <n> --trace 0|1

Run from the root of a checkout of the repository. The first run builds
graft together with the benchmark's own Scala mains (sbt, offline) into
`.bench_build/`; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, starts one JVM
at local[<cores>], measures whole passes for about `--seconds`, checks
the outputs outside the timed region and prints one JSON object as the
last line of stdout. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer metrics. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main")
sys.path.insert(0, HERE)

WORKLOADS = ("ledger_ops", "corpus", "ingest")
SETUPS = 3
# The d04 LSH path must return at least this share of the injected
# near-duplicate pairs (4 bands of 4 MinHashes returned 0.94-0.99 of
# them over seeds 1-10).
RECALL_FLOOR = 0.85
CORPUS = dict(n_docs=2000, n_files=16, n_vecs=2000)
INGEST = dict(n_files=4, rows_per_file=4000)
LEDGER_TABLES = ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events")

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
}
# name -> (unit, workloads that measure it; None = all). A workload
# that does not exercise a layer reports 0 for it.
MODULES = ("Backup", "Relational", "Dedup", "Similarity", "TextAnalysis", "Curation")
KERNELS = ("graft_grams", "graft_minhash16", "graft_simhash32", "graft_pair_combos",
           "graft_tile_md5", "graft_lut_sum_long", "graft_argmin_top2_long",
           "graft_cosine", "graft_sorted_hit_count", "graft_char_counts")
PER_LAYER = dict(
    [("GraftSession.session_s", ("s", None)),
     ("sources.scan_s", ("s", None)),
     ("sources.scan_tasks", ("count", None)),
     ("sources.write_s", ("s", ("ingest",))),
     ("sources.bytes_written_per_input_byte", ("ratio", ("ingest",))),
     ("model.ledger_s", ("s", ("ledger_ops",))),
     ("model.manifest_s", ("s", ("ledger_ops",))),
     ("model.grams_s", ("s", ("corpus",))),
     ("model.grams_rows", ("count", ("corpus",)))]
    + [(f"functions.{k}.ns_per_row", ("ns", None)) for k in KERNELS]
    + [(f"operators.{m}.{p}", ("s", ("ledger_ops",) if m in ("Backup", "Relational")
                                else ("corpus",)))
       for m in MODULES for p in ("construct_s", "execute_s")]
    + [(f"plans.{k}_ms", ("ms", ("ledger_ops", "corpus")))
       for k in ("analysis", "optimization", "planning")]
    + [(f"spark.{k}", ("count", None)) for k in ("jobs", "stages", "tasks", "tasks_per_stage")]
    + [(f"spark.{k}_ms", ("ms", None)) for k in ("executor_run", "executor_cpu", "gc",
                                                 "scheduler_wait")]
    + [(f"spark.{k}_bytes", ("bytes", None)) for k in ("shuffle_read", "shuffle_write",
                                                       "spill")]
    + [("spark.cached_bytes_peak", ("bytes", None)),
       ("spark.failed_tasks", ("count", None)),
       ("streaming.batch_ms", ("ms", ("ingest",))),
       ("streaming.add_batch_ms", ("ms", ("ingest",))),
       ("streaming.query_planning_ms", ("ms", ("ingest",))),
       ("streaming.wal_commit_ms", ("ms", ("ingest",))),
       ("streaming.state_rows", ("count", ("ingest",))),
       ("streaming.state_memory_bytes", ("bytes", ("ingest",))),
       ("operators.Dedup.kept_pairs_per_candidate", ("ratio", ("corpus",))),
       ("trace.overhead_s", ("s", None))])


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[graftbench {time.monotonic() - T_START:6.1f}s] {msg}", file=sys.stderr)


# ---------------------------------------------------------------- build

def _stamp():
    h = hashlib.sha256()
    for top in (GRAFT_SRC, HERE):
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt")):
                    p = os.path.join(dirpath, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(HERE, "project", "build.properties"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft's sources with the benchmark (once per source
    state) and return the runtime classpath."""
    if not os.path.isfile(os.path.join(GRAFT_SRC, "scala", "graft", "SparkEntry.scala")):
        die("graft sources (src/main/scala) not found next to the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    stamp = _stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read()
    log("building graft and the benchmark with sbt")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        die("SPARK_HOME must name a Spark installation; the build compiles against its jars")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = [l for l in p.stdout.splitlines() if ".bench_build" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die(f"build failed (sbt exit {p.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


# --------------------------------------------------------------- inputs

def generate(workload, out, seed):
    import gen
    if workload == "ledger_ops":
        # fixed content; the seed only permutes the op order
        gen.ledger(out)
    elif workload == "corpus":
        gen.corpus(out, seed, **CORPUS)
    else:
        gen.events(os.path.join(out, "events"), seed, **INGEST)


def generator_selfcheck(tmp, seed):
    """Same seed -> same digest; another seed -> another digest."""
    import gen
    small = dict(n_docs=300, n_files=2, n_vecs=300)
    d = [os.path.join(tmp, x) for x in ("a", "b", "c")]
    gen.corpus(d[0], seed, **small)
    gen.corpus(d[1], seed, **small)
    gen.corpus(d[2], seed + 1, **small)
    gen.events(os.path.join(d[0], "ev"), seed, n_files=2, rows_per_file=50)
    gen.events(os.path.join(d[1], "ev"), seed, n_files=2, rows_per_file=50)
    gen.events(os.path.join(d[2], "ev"), seed + 1, n_files=2, rows_per_file=50)
    a, b, c = (gen.digest(x) for x in d)
    shutil.rmtree(tmp, ignore_errors=True)
    return a == b and a != c


# --------------------------------------------------------------- checks

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def ledger_failures(results_dir, oracle_file, data):
    """Op ids whose Spark result differs from their DuckDB oracle SQL on
    the same fixture (sorted rows, floats to 10 significant digits)."""
    import duckdb
    import pyarrow.parquet as pq
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in LEDGER_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for op in sorted(os.listdir(results_dir)):
        files = [f for f in os.listdir(os.path.join(results_dir, op)) if f.endswith(".parquet")]
        if op not in oracle:
            bad[op] = "no oracle SQL"
            continue
        if not files:
            bad[op] = "no output"
            continue
        got = pq.read_table(os.path.join(results_dir, op, files[0]))
        try:
            exp = con.execute(oracle[op]).fetch_arrow_table()
        except Exception as e:
            bad[op] = f"duckdb: {e}"
            continue
        gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
        if gcols != ecols:
            bad[op] = f"columns {gcols} != {ecols}"
            continue
        grows = sorted(tuple(_norm(r[c]) for c in gcols) for r in got.to_pylist())
        erows = sorted(tuple(_norm(r[c]) for c in ecols) for r in exp.to_pylist())
        if grows != erows:
            bad[op] = f"{len(grows)} rows vs oracle {len(erows)}"
    return bad, oracle


def table_rows(data):
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
            for t in LEDGER_TABLES}


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, res, gen_s, data, oracle):
    setup = [g + s["session_s"] + s["warmup_s"] for g, s in zip(gen_s, res["setups"])]
    passes = res["passes"]
    lat = [o["construct_s"] + o["execute_s"] for p in passes for o in p["ops"]]
    walls = [p["wall_s"] for p in passes]
    if workload == "ledger_ops":
        # an op consumes the rows of every table its oracle SQL reads
        rows = table_rows(data)
        per_op = {op: sum(n for t, n in rows.items() if re.search(rf"\b{t}\b", sql))
                  for op, sql in oracle.items()}
        consumed = sum(per_op.get(o["id"], 0) for p in passes for o in p["ops"])
    elif workload == "corpus":
        consumed = res["checks"]["documents"] * len(passes)
    else:
        consumed = sum(p["input_rows"] for p in passes)
    return {
        "setup_s": median(setup),
        "wall_s": median(walls),
        "op_p50_s": median(lat),
        "rows_per_s": consumed / sum(walls),
    }, len(lat)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    t_build = time.monotonic()
    cp = build()
    # a run that builds may take longer; the rest of a run keeps its 180 s
    build_s = time.monotonic() - t_build

    run = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    selfcheck = generator_selfcheck(os.path.join(run, "selfcheck"), a.seed)
    gen_s, digests = [], []
    import gen
    for i in range(SETUPS):
        t0 = time.perf_counter()
        generate(a.workload, os.path.join(run, "data", str(i)), a.seed)
        gen_s.append(time.perf_counter() - t0)
        digests.append(gen.digest(os.path.join(run, "data", str(i))))
    selfcheck = selfcheck and len(set(digests)) == 1
    data = os.path.join(run, "data", str(SETUPS - 1))

    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = [java, "-Xmx4g", f"-Djava.io.tmpdir={run}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *opens, "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--data", os.path.join(run, "data"), "--out", run,
           "--seconds", str(a.seconds), "--seed", str(a.seed), "--trace", str(a.trace),
           "--setups", str(SETUPS), "--cores", str(cores)]
    log(f"running {a.workload} seed={a.seed} trace={a.trace} cores={cores}")
    budget = 170 - (time.monotonic() - T_START - build_s)
    jvm_log = os.path.join(run, "jvm.log")
    with open(jvm_log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run, stdin=subprocess.DEVNULL, stdout=fh,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(budget, 10))
        except subprocess.TimeoutExpired:
            die(f"the benchmark JVM overran its time budget (log: {jvm_log})")
        finally:
            # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    res_file = os.path.join(run, "result.json")
    if rc != 0 or not os.path.isfile(res_file):
        with open(jvm_log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"the benchmark JVM failed (exit {rc})")
    with open(res_file) as fh:
        res = json.load(fh)

    # --- output checks: every wrong result counts against its op
    ops = [o for p in res["passes"] for o in p["ops"]]
    wrong, detail = set(), {}
    oracle = {}
    if a.workload == "ledger_ops":
        bad, oracle = ledger_failures(res["checks"]["results_dir"], res["checks"]["oracle"], data)
        wrong = set(bad)
        detail["oracle_mismatches"] = bad
    elif a.workload == "corpus":
        c = res["checks"]
        if c["neardup_recall"] < RECALL_FLOOR:
            wrong.add("d04_minhash_lsh")
        detail.update(neardup_recall=c["neardup_recall"], lsh_pairs=c["lsh_pairs"])
    else:
        bad = [t for t, ok in res["checks"]["transforms"].items() if not ok]
        wrong = set(bad)
        detail["sink_mismatches"] = bad
    failed = sum(1 for o in ops if not o["ok"] or o["id"].split("#")[0] in wrong)
    attempted = len(ops)
    correct = failed == 0 and selfcheck and attempted > 0

    e2e, samples = end_to_end(a.workload, res, gen_s, data, oracle)
    if a.trace:
        layers = res["layers"]
        metrics = {}
        for name, (unit, where) in PER_LAYER.items():
            applies = where is None or a.workload in where
            if applies and name not in layers:
                die(f"traced run did not report {name}")
            metrics[name] = {"value": layers[name] if applies else 0.0, "unit": unit}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    summary = dict(workload=a.workload, seed=a.seed, trace=a.trace, passes=len(res["passes"]),
                   op_samples=samples, failed_ratio=failed / max(attempted, 1),
                   generator_selfcheck=selfcheck, run_dir=os.path.relpath(run, ROOT), **detail)
    if samples >= 100:
        summary["op_p90_s"] = statistics.quantiles(
            [o["construct_s"] + o["execute_s"] for o in ops], n=10)[-1]
    with open(os.path.join(run, "summary.json"), "w") as fh:
        json.dump(dict(summary, metrics=metrics, end_to_end=e2e), fh, indent=1)
    for d in ("data", "ingest", "results", "spark-local", "graft-scratch", "tmp"):
        shutil.rmtree(os.path.join(run, d), ignore_errors=True)
    print(json.dumps(summary))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
