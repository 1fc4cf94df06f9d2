#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds graft plus the benchmark's JVM code
from source (perfbench/build.sbt, cached by source hash), makes the
seeded inputs (cached per seed), launches the benchmark JVM from the
built classpath, checks every op's output, and prints a report line
and then, as the last line, the result JSON. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Workloads: dash_olap, corpus_stream (see BENCHMARK.md).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
INPUTS = os.path.join(HERE, ".inputs")
WORK = os.path.join(HERE, ".work", str(os.getpid()))  # this run's scratch, removed at its end
RUNS = os.path.join(HERE, ".runs")
WORKLOADS = ("dash_olap", "corpus_stream")
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + the benchmark's JVM code with sbt once per source state; return the classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            got = json.load(f)
        if got["stamp"] == stamp:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get("SBT_OPTS", (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")))
    log("building graft and the benchmark JVM code (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def jvm_env():
    """The tier-1 environment: all cores, half the RAM (2..8 GiB) for the JVM."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    if "SPARK_DRIVER_MEM" not in env:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        env["SPARK_DRIVER_MEM"] = f"{min(8, max(2, kb // 2097152))}g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    return env


def java(cp, args, env, cwd, timeout):
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{env['SPARK_DRIVER_MEM']}", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graftbench.Main"] + args)
    with open(os.path.join(cwd, "jvm.log"), "a") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


PARTS = {"dash_olap": ["sf"], "corpus_stream": ["feed"]}


def inputs_for(workload, seed, trace):
    """Generate (or reuse) the seed's input parts this run reads."""
    # traced runs also probe layers on the feed and the sf tables
    parts = sorted(set(PARTS[workload] + (["feed", "sf"] if trace else [])))
    _, inputs = gen.generate(INPUTS, seed, parts)
    return os.path.join(INPUTS, f"seed_{seed}"), inputs


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


# ---------------------------------------------------------------- checks

def _oracle_compare(con, parquet_dir, sql):
    """tools/check_oracle.py's rules: columns sorted by name, equal types, exact values."""
    got_rel = con.sql(f"SELECT * FROM read_parquet('{parquet_dir}/*.parquet')")
    exp_rel = con.sql(sql)
    gc, ec = sorted(got_rel.columns), sorted(exp_rel.columns)
    if gc != ec:
        return f"columns {gc} != {ec}"
    gt = dict(zip(got_rel.columns, map(str, got_rel.types)))
    et = dict(zip(exp_rel.columns, map(str, exp_rel.types)))
    skew = [c for c in gc if gt[c] != et[c]]
    if skew:
        return "type skew " + ", ".join(f"{c}: spark={gt[c]} oracle={et[c]}" for c in skew)
    sel = ", ".join(f'"{c}"' for c in gc)
    norm = lambda rows: [tuple("NaN" if isinstance(v, float) and v != v else v for v in r) for r in rows]
    g, e = norm(got_rel.select(sel).fetchall()), norm(exp_rel.select(sel).fetchall())
    if g != e:
        return f"{len(g)} rows vs oracle {len(e)}; first differing row differs"
    return None


def oracle_checks(out, table_dir):
    """Each query result the benchmark JVM wrote under check/ against its DuckDB oracle."""
    import duckdb
    with open(os.path.join(out, "check", "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in glob.glob(os.path.join(table_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(t)[:-8]} AS SELECT * FROM '{t}'")
    bad = {}
    for name, sql in oracle.items():
        try:
            why = _oracle_compare(con, os.path.join(out, "check", name), sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {e}"
        if why:
            bad[name] = why
    return bad, oracle


def corpus_checks(out, inputs, ops, lanes):
    """No stream may accept a text twice, so every planted exact copy of
    an accepted document is rejected; and a batch's accepted ids must be
    the same in every run of this seed.
    """
    import duckdb
    con = duckdb.connect()
    feed = os.path.join(inputs, "feed", "feed.parquet")
    fails, digests, accepted = {}, {}, {}
    for s in sorted(glob.glob(os.path.join(out, "stream_*"))):
        lane = int(s.rsplit("_c", 1)[1])  # micro-batch k of lane c is feed batch k * lanes + c
        rows = con.execute(f"""
            SELECT a.batch_id * {lanes} + {lane}, a.doc_id, f.text
            FROM read_parquet('{s}/out/*/*.parquet', hive_partitioning=1) a
            JOIN '{feed}' f USING (doc_id)""").fetchall()
        first, by_batch = {}, {}
        for b, d, text in sorted(rows):
            first.setdefault(text, (b, d))
            by_batch.setdefault(b, []).append((d, text))
        for b, docs in by_batch.items():
            digests[b] = hashlib.md5(",".join(str(d) for d, _ in sorted(docs)).encode()).hexdigest()
            repeats = [d for d, text in docs if first[text] != (b, d)]
            if repeats:
                fails[b] = f"{len(repeats)} accepted docs repeat an accepted text (e.g. id {repeats[0]})"
        accepted.update(by_batch)
    ledger_path = os.path.join(inputs, "feed", "accepted_digests.json")
    ledger = {}
    if os.path.exists(ledger_path):
        with open(ledger_path) as f:
            ledger = json.load(f)
    for b, d in digests.items():
        known = ledger.setdefault(str(b), d)
        if known != d:
            fails[b] = f"accepted ids of batch {b} differ between runs of one seed"
    with open(ledger_path, "w") as f:
        json.dump(ledger, f)
    by_op, n_acc, n_in = {}, 0, 0
    measured = {o["batch"] for o in ops}
    for o in ops:
        if o["status"] != "ok":
            continue
        n_acc += len(accepted.get(o["batch"], []))
        n_in += o["rows_in"]
        if o["batch"] in fails:
            by_op[o["id"]] = fails[o["batch"]]
        elif o["batch"] not in accepted:
            by_op[o["id"]] = "batch accepted nothing"
    warm = sorted(b for b in fails if b not in measured)
    if warm:  # a warm-up batch failed its check: fail the run
        by_op.update({o["id"]: f"warm-up batch {warm[0]}: {fails[warm[0]]}" for o in ops})
    return by_op, (n_acc / n_in if n_in else 0.0)


# ---------------------------------------------------------------- metrics

def table_rows(manifest, sql):
    """Generator-defined input rows of the sf tables a query's SQL names."""
    rows = 0
    for key, v in manifest.items():
        if key.startswith("sf/") and re.search(rf"\b{key[3:]}\b", sql):
            rows += v["rows"]
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft sources not found: run from a checkout of the repository root")

    t_start = time.time()
    nproc = os.cpu_count()
    load_start = loadavg()
    cp = build()
    env = jvm_env()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    inputs, manifest = inputs_for(a.workload, a.seed, a.trace)
    t_jvm = time.time()

    out = os.path.join(WORK, "out")
    rc = java(cp, ["--workload", a.workload, "--inputs", inputs, "--out", out,
                   "--seconds", str(a.seconds), "--trace", str(a.trace)], env, WORK, JVM_TIMEOUT_S)
    t_check = time.time()
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(os.path.join(WORK, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    with open(res_path) as f:
        res = json.load(f)
    ops = res["ops"]

    # output checks (outside every timed op); a failed check fails its op
    accept_ratio = 0.0
    oracle = {}
    if a.workload == "dash_olap":
        bad, oracle = oracle_checks(out, os.path.join(inputs, "sf", "sf"))
        for o in ops:
            q = o["name"]
            if o["status"] == "ok" and q in bad:
                o["status"], o["error"] = "check_failed", f"{q} vs DuckDB oracle: {bad[q]}"
    else:
        fails, accept_ratio = corpus_checks(out, inputs, ops, res["clients"])
        for o in ops:
            if o["id"] in fails and o["status"] == "ok":
                o["status"], o["error"] = "check_failed", fails[o["id"]]
    load_end = loadavg()

    ok = [o for o in ops if o["status"] == "ok"]
    failed = len(ops) - len(ok)
    wall = res["loop_wall_s"]
    if a.workload == "dash_olap":
        rows_in = sum(table_rows(manifest, oracle.get(o["name"], "")) for o in ok)
        bytes_in = 0
    else:
        rows_in = sum(o["rows_in"] for o in ok)
        bytes_in = sum(o["bytes_in"] for o in ok)

    if not ok:
        raise SystemExit(f"no op of {len(ops)} completed: {sorted({o['error'] for o in ops})[:3]}")
    lat = [o["lat_s"] for o in ok]
    tail_v, tail_pct, tail_beyond = stats.tail(lat)
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "ops_per_s": (len(ok) / wall, "1/s"),
        "rows_per_s": (rows_in / wall, "rows/s"),
    }
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": nproc, "cores": res["cores"], "clients": res["clients"],
        "loadavg_start": load_start, "loadavg_end": load_end,
        "setup_parts_s": res["setup_parts"], "ops": len(ops), "failed": failed,
        "failed_ratio": stats.failed_ratio(ops) if ops else 1.0,
        "op_tail_percentile": tail_pct, "op_tail_samples_beyond": tail_beyond,
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        "loop_wall_s": wall,
        "phase_s": {"build_and_inputs": t_jvm - t_start, "jvm": t_check - t_jvm,
                    "checks": time.time() - t_check},
        "failures": sorted({o["error"] for o in ops if o["status"] != "ok"})[:5],
    }
    if a.trace:
        metrics = per_layer(res, ok, wall, bytes_in, accept_ratio)
        prior = os.path.join(RUNS, f"{a.workload}_seed{a.seed}_trace0.json")
        if os.path.exists(prior):
            with open(prior) as f:
                base = json.load(f)["metrics"]["op_p50_s"]["value"]
            report["tracing_overhead_op_p50"] = statistics.median(lat) / base - 1.0
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    os.makedirs(RUNS, exist_ok=True)
    summary = {"report": report, "metrics": metrics}
    with open(os.path.join(RUNS, f"{a.workload}_seed{a.seed}_trace{a.trace}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    shutil.copy(res_path, os.path.join(RUNS, f"{a.workload}_seed{a.seed}_trace{a.trace}_jvm.json"))
    shutil.rmtree(WORK, ignore_errors=True)
    for k, m in metrics.items():
        log(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


def per_layer(res, ok, wall, bytes_in, accept_ratio):
    """Per-layer metrics of the traced run; each is per completed op
    unless its name says otherwise. A layer the workload never enters
    reads 0.
    """
    c, p, n = res["counters"], res["probes"], max(1, len(ok))
    spans = stats.self_times([s for s in res["spans"] if s["op"] >= 0])
    batches = c["stream_batches"]
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
    trig = [b["trigger_ms"] / 1e3 for b in batches]
    add = [b["add_batch_ms"] / 1e3 for b in batches]
    m = {
        "engine.jobs_per_op": (c["jobs"] / n, "count"),
        "engine.stages_per_op": (c["stages"] / n, "count"),
        "engine.tasks_per_op": (c["tasks"] / n, "count"),
        "engine.task_sched_delay_s": (c["sched_delay_ms"] / 1e3 / n, "s"),
        "engine.slot_util": (c["task_run_ms"] / 1e3 / (wall * res["cores"]), "ratio"),
        "engine.shuffle_write_bytes": (c["shuffle_write_bytes"] / n, "bytes"),
        "engine.shuffle_read_bytes": (c["shuffle_read_bytes"] / n, "bytes"),
        "engine.spill_bytes": (c["spill_bytes"] / n, "bytes"),
        "engine.gc_s": (c["gc_ms"] / 1e3 / n, "s"),
        "queries.build_s": (spans.get("queries.build", 0.0) / n, "s"),
        "plans.analysis_s": (c["analysis_ms"] / 1e3 / n, "s"),
        "plans.optimization_s": (c["optimization_ms"] / 1e3 / n, "s"),
        "plans.planning_s": (c["planning_ms"] / 1e3 / n, "s"),
        "plans.exchanges_per_op": (c["exchanges"] / n, "count"),
        "functions.minhash_signature_rows_per_s": (p["kernel_rows"] / p["minhash_signature_s"], "rows/s"),
        "functions.theta_sketch_rows_per_s": (p["kernel_rows"] / p["theta_sketch_s"], "rows/s"),
        "operators.dedup_pairs": (p.get("dedup_pairs_per_batch", 0.0), "count"),
        "operators.accept_ratio": (accept_ratio, "ratio"),
        "operators.reshape_s": (p.get("reshape_s", 0.0), "s"),
        "pipeline.epe_s": (p.get("epe_s", 0.0), "s"),
        "streaming.batch_s": (mean(trig), "s"),
        "streaming.add_batch_s": (mean(add), "s"),
        "streaming.batch_overhead_s": (mean(trig) - mean(add), "s"),
        "streaming.index_bytes": (max([o.get("index_bytes", 0) for o in ok] or [0]), "bytes"),
        "sources.write_s": (c["write_ns"] / 1e9 / n, "s"),
        "sources.bytes_written": (c["bytes_written"] / n, "bytes"),
        "sources.files_written": (c["files_written"] / n, "count"),
        "sources.scan_bytes": (c["scan_bytes"] / n, "bytes"),
        "sources.scan_rows": (c["scan_rows"] / n, "count"),
        "sources.bytes_written_per_input_byte": (c["bytes_written"] / bytes_in if bytes_in else 0.0, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    main()
