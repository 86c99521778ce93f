#!/usr/bin/env python3
"""graft-bench: one closed-loop client against graft, one workload per run.

    python3 perfbench/run.py --workload tpch|pipeline|dialect_dml \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (cached by a fingerprint of the sources under
.bench_build/). Each run generates its inputs from the seed, starts one JVM
that sets a session up twice, checks outputs, warms up, and measures for
at least S seconds, ending on a whole block of operations. The last line
of stdout is one JSON object: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The exit code is 0 only when every
output checked was correct. See README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "graft-bench")
SETUPS = 2  # set-ups per run; setup_s is their median
SCALE = 0.1  # 600,000 lineitem rows
JVM_BUDGET_S = 160  # a run must end within 180 s once built
# The host's CPU speed drifts by up to a quarter over tens of seconds, and
# a whole run drifts with it. Before each timed operation the harness
# times a fixed integer kernel on every core; ops_per_s and the latencies
# are reported at the speed where that kernel takes HOST_REF_MS (the raw
# values are printed too). The reference is a constant, so parent and
# child commits are scaled alike.
HOST_REF_MS = 50.0

sys.path.insert(0, HERE)
import gen  # noqa: E402

# (untimed warm-up operations, operations per timed block): one sweep of
# the queries each; one, then two 25-statement blocks of the dialect mix
BLOCK = {"pipeline": (11, 11), "tpch": (22, 22),
         "dialect_dml": (len(gen.DML_BLOCK), 2 * len(gen.DML_BLOCK))}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("latency_p50_ms", "ms"),
              ("latency_p90_ms", "ms"), ("success_rate", "ratio"),
              ("heap_after_gc_mb", "MB")]

SHARES = ["harness", "queries.build", "queries.eager_jobs", "sql.call", "sql.jobs",
          "catalyst", "exec.driver", "exec.jobs"]
PER_LAYER = (
    [(m, "ms") for m in ["GraftSession.build_ms", "GraftSession.init_ms", "Tables.load_ms",
                          "fulltext.index_build_ms", "plans.ivf_build_ms",
                          "queries.build_ms"]]
    + [("queries.eager_jobs", "count"), ("queries.eager_job_ms", "ms"),
       ("sql.read_ms", "ms"), ("sql.write_ms", "ms"), ("sql.jobs_per_stmt", "count"),
       ("sql.bytes_written_per_changed_row", "bytes"),
       ("sql.rows_rewritten_per_changed_row", "ratio"),
       ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
       ("catalyst.planning_ms", "ms"), ("exec.ms", "ms"), ("exec.jobs", "count"),
       ("exec.stages", "count"), ("exec.tasks", "count"), ("exec.task_run_ms", "ms"),
       ("exec.task_cpu_ms", "ms"), ("exec.task_wait_ms", "ms"), ("exec.gc_ms", "ms"),
       ("exec.task_failures", "count"), ("exec.scan_bytes", "bytes"),
       ("exec.scan_rows", "count"), ("exec.shuffle_read_bytes", "bytes"),
       ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
       ("functions.money_sum_ms", "ms"), ("functions.vector_distance_ms", "ms"),
       ("functions.minhash_ms", "ms"), ("trace.overhead_ratio", "ratio")]
    + [(f"share.{s}", "ratio") for s in SHARES])


def fail(msg):
    print(f"graft-bench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build engine + harness once per source fingerprint; the JVM classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources (build.sbt, src/main/scala/graft) not found; "
             "run from the root of a graft checkout")
    fp = fingerprint()
    cache = os.path.join(STATE, "classpath.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(STATE, exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(fp + "\n" + cp)
    return cp


# ------------------------------------------------------------------ inputs

def inputs(workload, seed, scale, work, corrupt):
    """Generate the seed's inputs; returns them and the JVM arguments that name them."""
    if workload == "dialect_dml":
        ops = gen.dml_ops(seed, 4000)
        if corrupt:  # self-test: a deliberately wrong expected result
            first = next(o for o in ops if o["kind"] == "read_point")
            first["expect"] = [first["expect"][0] + "x"]
        _, load = gen.dml_initial(seed)
        with open(os.path.join(work, "setup.sql"), "w") as fh:
            fh.write("\n".join([gen.DML_DDL] + load) + "\n")
        with open(os.path.join(work, "ops.tsv"), "w") as fh:
            for op in ops:
                fh.write("\t".join([op["kind"], op["sql"]] + (op["expect"] or [])) + "\n")
        data = [os.path.join(work, f"data{i}") for i in range(SETUPS)]
        for d in data:
            os.makedirs(d)
        return ops, ["--data", ",".join(data), "--setup_sql", os.path.join(work, "setup.sql"),
                     "--ops", os.path.join(work, "ops.tsv"), "--pk", f"{gen.DML_TABLE}.id"]
    base = os.path.join(STATE, "data", f"{scale}-{seed}")
    if not os.path.exists(os.path.join(base, ".done")):
        shutil.rmtree(base, ignore_errors=True)
        gen.tables(base, seed, scale)
        open(os.path.join(base, ".done"), "w").close()
    # one hard-linked copy per set-up: the engine caches indexes and scans
    # by directory, so each set-up builds its own
    data = []
    for i in range(SETUPS):
        d = os.path.join(work, f"data{i}")
        os.makedirs(d)
        for f in os.listdir(base):
            if f.endswith(".parquet"):
                try:
                    os.link(os.path.join(base, f), os.path.join(d, f))
                except OSError:
                    shutil.copy(os.path.join(base, f), os.path.join(d, f))
        data.append(d)
    return base, ["--data", ",".join(data)]


def run_jvm(cp, args, work, deadline):
    cmd = ["java", "-Xmx3g", "-Xss64m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Djdk.lang.Process.launchMechanism=vfork"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log_path) as fh:
            log = fh.readlines()
        causes = [ln for ln in log if "Exception" in ln or "Error" in ln]
        sys.stderr.write("".join(causes[:20] + log[-10:]))
        fail("benchmark JVM timed out" if rc is None else f"benchmark JVM exited {rc}")


# ------------------------------------------------------------------ checks

def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


# Floats match within one unit of the 6th decimal, the finest rounding the
# queries apply: Spark and DuckDB can round a decimal tie differently
# (w1's round(percent_rank, 6) of 3/640 = 0.0046875, seen when a nation
# has 641 customers).
FLOAT_TOL = 1e-6 + 1e-12


def duck(base):
    """DuckDB connection with a view per input table."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(base)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(base, f)}')")
    return con


def oracle_gate(base, gate_dir, errors, corrupt=None):
    """Compare each gated query's result with its DuckDB oracle.

    Returns {query: problem} for every query that did not match.
    """
    import pandas as pd
    con = duck(base)
    with open(os.path.join(gate_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = dict(errors)
    for name in sorted(oracles):
        if name in bad:
            continue
        try:
            got = _normalize(pd.read_parquet(os.path.join(gate_dir, name)))
            want = con.sql(oracles[name]).fetchdf()
            if name == corrupt:  # self-test: a deliberately wrong expected result
                want = want.iloc[1:] if len(want) > 1 else want.iloc[0:0]
            want = _normalize(want)
        except Exception as e:  # noqa: BLE001 — any failure fails the gate
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        if list(got.columns) != list(want.columns):
            bad[name] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"rows {len(got)} vs {len(want)}"
        else:
            for c in got.columns:
                a, b = got[c], want[c]
                if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                    ok = ((a.isna() & b.isna())
                          | ((a.astype(float) - b.astype(float)).abs() <= FLOAT_TOL)).all()
                else:
                    ok = (a.astype(str) == b.astype(str)).all()
                if not ok:
                    bad[name] = f"value mismatch in column {c}"
                    break
    print(f"gate: {len(oracles) - len(bad)}/{len(oracles)} queries match their oracle")
    return bad


# ------------------------------------------------------------------ metrics

def pct(values, q):
    """Nearest-rank percentile (failed ops enter as +inf)."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def end_to_end(raw, ops):
    """End-to-end metrics; the timed ones at the reference host speed."""
    setups = [s["setup_s"] for s in raw["setups"]]
    lat = [o["ms"] if o["ok"] else math.inf for o in ops]
    good = sum(1 for o in ops if o["ok"] and not o["wrong"])
    speed = HOST_REF_MS / statistics.median(raw["host_probe_ms"])
    m = {"setup_s": statistics.median(setups),
         "ops_per_s": good / raw["elapsed_s"],
         "latency_p50_ms": pct(lat, 0.5),
         "latency_p90_ms": pct(lat, 0.9),
         "success_rate": good / len(ops),
         "heap_after_gc_mb": raw["heap_after_gc_mb"]}
    raw_m = {f"raw_{k}": m[k] for k in ("ops_per_s", "latency_p50_ms", "latency_p90_ms")}
    m["ops_per_s"] /= speed
    m["latency_p50_ms"] *= speed
    m["latency_p90_ms"] *= speed
    return m, raw_m, speed


def self_times(spans):
    """Self time per share category: span duration minus its children's cover."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def harness_phase(s):
        while s["name"].startswith(("spark.", "catalyst.")):
            s = by_id[s["parent"]]
        return s["name"]

    cat_of_phase = {"queries.build": ("queries.build", "queries.eager_jobs"),
                    "sql.call": ("sql.call", "sql.jobs"), "exec": ("exec.driver", "exec.jobs"),
                    "op": ("harness", "harness")}
    out = dict.fromkeys(SHARES, 0.0)
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        cover, end = 0, lo
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_us"]):
            a, b = max(lo, c["start_us"], end), min(hi, c["end_us"])
            if b > a:
                cover += b - a
            end = max(end, min(hi, c["end_us"]))
        own = max(0, hi - lo - cover)
        if s["name"].startswith("catalyst."):
            out["catalyst"] += own
        else:
            own_cat, job_cat = cat_of_phase[harness_phase(s)]
            out[job_cat if s["name"].startswith("spark.") else own_cat] += own
    total = sum(out.values()) or 1
    return {k: v / total for k, v in out.items()}


def per_layer(raw, spans):
    ops = raw["traced_ops"]
    n = max(1, len(ops))
    kind = {o["op"]: o["kind"] for o in ops}
    groups = {}
    for c in raw.get("counters", []):
        op, _, ph = c["group"].partition(":")
        if op.isdigit():
            groups.setdefault(ph, []).append((int(op), c))

    def csum(phase, key, pred=lambda op: True):
        return sum(c[key] for op, c in groups.get(phase, []) if pred(op))

    def dur(name, pred=lambda op: True):
        return [(s["end_us"] - s["start_us"]) / 1000 for s in spans
                if s["name"] == name and pred(s["op"])]

    setups = raw["setups"]
    m = {k: statistics.median(s.get(k, 0.0) for s in setups)
         for k in ["GraftSession.build_ms", "GraftSession.init_ms", "Tables.load_ms",
                   "fulltext.index_build_ms", "plans.ivf_build_ms"]}
    queries = [o for o in ops if o["kind"] == "query"]
    nq = max(1, len(queries))
    m["queries.build_ms"] = sum(dur("queries.build")) / nq
    m["queries.eager_jobs"] = csum("build", "jobs") / nq
    build_ids = {s["id"] for s in spans if s["name"] == "queries.build"}
    m["queries.eager_job_ms"] = sum((s["end_us"] - s["start_us"]) / 1000 for s in spans
                                    if s["name"] == "spark.job" and s["parent"] in build_ids) / nq
    is_read = lambda op: kind.get(op, "").startswith("read")  # noqa: E731
    is_write = lambda op: kind.get(op, "query") not in ("query",) and not is_read(op)  # noqa: E731
    reads, writes = dur("sql.call", is_read), dur("sql.call", is_write)
    m["sql.read_ms"] = statistics.fmean(reads) if reads else 0.0
    m["sql.write_ms"] = statistics.fmean(writes) if writes else 0.0
    stmts = {o["op"] for o in ops if o["kind"] != "query"}
    m["sql.jobs_per_stmt"] = (sum(csum(ph, "jobs", lambda op: op in stmts)
                                  for ph in ("sql", "exec")) / len(stmts)) if stmts else 0.0
    # copy-on-write waste: every successful write statement changes one row
    changed = sum(1 for o in ops if o["ok"] and is_write(o["op"]))
    ok_write = {o["op"] for o in ops if o["ok"] and is_write(o["op"])}
    m["sql.bytes_written_per_changed_row"] = (
        csum("sql", "output_bytes", lambda op: op in ok_write) / changed if changed else 0.0)
    m["sql.rows_rewritten_per_changed_row"] = (
        csum("sql", "output_rows", lambda op: op in ok_write) / changed if changed else 0.0)
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = sum(dur(f"catalyst.{ph}")) / n
    m["exec.ms"] = sum(dur("exec")) / n
    for key in ["jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "task_wait_ms",
                "gc_ms", "task_failures", "scan_bytes", "scan_rows", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"]:
        m[f"exec.{key}"] = csum("exec", key) / n
    probes = raw.get("probes", {})
    for k in ["functions.money_sum_ms", "functions.vector_distance_ms", "functions.minhash_ms"]:
        m[k] = probes.get(k, 0.0)
    untraced = sum(1 for o in raw["ops"] if o["ok"]) / raw["elapsed_s"]
    traced = sum(1 for o in ops if o["ok"]) / raw["traced_elapsed_s"]
    m["trace.overhead_ratio"] = untraced / traced if traced else 0.0
    for k, v in self_times(spans).items():
        m[f"share.{k}"] = v
    return m


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["tpch", "pipeline", "dialect_dml"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test only: a smaller input, and one expected result made wrong
    ap.add_argument("--scale", type=float, default=SCALE, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", help=argparse.SUPPRESS)
    a = ap.parse_args()
    # a TERM (e.g. a timeout) still stops the JVM and removes the run's files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    cp = classpath()
    deadline = time.time() + JVM_BUDGET_S
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        source, args = inputs(a.workload, a.seed, a.scale, work, a.corrupt)
        record = os.path.join(STATE, "records", f"{a.workload}-seed{a.seed}")
        spans_path = record + ".spans.jsonl"
        os.makedirs(os.path.dirname(record), exist_ok=True)
        out = os.path.join(work, "raw.json")
        run_jvm(cp, args + ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--warmup", str(BLOCK[a.workload][0]),
                            "--block", str(BLOCK[a.workload][1]),
                            "--cores", str(os.cpu_count() or 1), "--work", work,
                            "--out", out, "--spans", spans_path],
                work, deadline)
        with open(out) as fh:
            raw = json.load(fh)
        # the raw per-operation record of the run stays beside the spans
        shutil.copy(out, record + ".raw.json")
        problems = {}
        if a.workload == "dialect_dml":
            for o in raw.get("warmup_ops", []) + raw["ops"] + raw.get("traced_ops", []):
                if o["wrong"]:
                    problems[f"op {o['op']} {o['kind']}"] = "result differs from the model"
            with open(os.path.join(work, "final_table.txt")) as fh:
                final = fh.read().splitlines()
            if final != gen.dml_model_after(a.seed, source, raw["ops_executed"]):
                problems["final table"] = "differs from the model"
        else:
            problems = oracle_gate(source, os.path.join(work, "gate"), raw.get("gate", {}),
                                   a.corrupt)
            for o in raw.get("warmup_ops", []) + raw["ops"] + raw.get("traced_ops", []):
                if o["name"] in problems:
                    o["wrong"] = True
    finally:
        shutil.rmtree(work, ignore_errors=True)

    all_ops = raw["ops"] + raw.get("traced_ops", [])
    failed = sum(1 for o in all_ops if not o["ok"] or o["wrong"])
    for name, why in sorted(problems.items()):
        print(f"WRONG {name}: {why}")
    errors = {}
    for o in all_ops:
        if not o["ok"]:
            errors.setdefault((o["kind"], o["error"]), 0)
            errors[(o["kind"], o["error"])] += 1
    for (kind, err), count in sorted(errors.items()):
        print(f"FAILED x{count} {kind}: {err}")
    e2e, e2e_raw, speed = end_to_end(raw, raw["ops"])
    by_name = {}
    for o in raw["ops"]:
        by_name.setdefault(o["name"], []).append(o["ms"] if o["ok"] else math.inf)
    print("median ms by operation: " + ", ".join(
        f"{n} {statistics.median(v):.0f}" for n, v in sorted(
            by_name.items(), key=lambda kv: -statistics.median(kv[1]))))
    print(f"workload {a.workload}  seed {a.seed}  cores {os.cpu_count()}  "
          f"ops {len(raw['ops'])} in {raw['elapsed_s']:.2f} s")
    if a.trace:
        spans = []
        with open(spans_path) as fh:
            spans = [json.loads(ln) for ln in fh if ln.strip()]
        values, units = per_layer(raw, spans), dict(PER_LAYER)
        print(f"spans: {len(spans)} written to {os.path.relpath(spans_path, ROOT)}")
    else:
        values, units = e2e, dict(END_TO_END)
        print(f"error_rate {1 - e2e['success_rate']:.6f} ratio")
        print(f"host_speed {speed:.4f} ratio (reference probe {HOST_REF_MS} ms / "
              f"median probe {statistics.median(raw['host_probe_ms']):.2f} ms)")
        for k, v in e2e_raw.items():
            print(f"{k} {v:.6g} {dict(END_TO_END)[k[4:]]}")
    for k in units:
        print(f"{k} {values[k]:.6g} {units[k]}")
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": len(all_ops), "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
