#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all      # every workload, traced and not

It builds the engine and the benchmark from source with sbt (cached under
.bench_build/ by a hash of the sources), generates the input tables,
runs one workload in a fresh JVM on a 4-core local session, checks the
answers against DuckDB, and prints each metric by name with its unit. The
last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""
import argparse
import datetime as dt
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

sys.path.insert(0, HERE)
import datagen  # noqa: E402

WORKLOADS = ["oec_calls", "curation_etl"]
SCALE = 0.01
DATA_SEED = 42
# seconds a JVM may run, leaving time for the oracle within a 180 s run
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 800

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("heap_retained_mb", "MiB"), ("nonheap_peak_mb", "MiB")]

KERNELS = ["langId", "fingerprint", "qualityScore", "scrub", "minhashSig",
           "simhashSigns", "cosineNative", "lshKey"]
PER_LAYER = (
    [("session.create_s", "s"), ("cube.build_ms", "ms"), ("cube.plan_ms", "ms"),
     ("cube.exec_ms", "ms"), ("plan.exchanges", "count"), ("plan.smj", "count"),
     ("plan.bhj", "count"), ("plan.scans", "count"), ("entry.build_s", "s"),
     ("entry.build_jobs", "count"), ("entry.exec_s", "s"),
     ("scratch.released_blocks", "count"), ("scratch.release_ms", "ms"),
     ("sink.output_mb", "MiB"), ("sink.output_records", "count"),
     ("stream.batches", "count"), ("stream.input_rows", "count"),
     ("stream.trigger_ms", "ms"), ("spark.jobs", "count"), ("spark.stages", "count"),
     ("spark.tasks", "count"), ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
     ("spark.gc_s", "s"), ("spark.shuffle_read_mb", "MiB"),
     ("spark.shuffle_write_mb", "MiB"), ("spark.spill_mb", "MiB"),
     ("spark.input_mb", "MiB"), ("spark.slot_busy_ratio", "ratio"),
     ("spark.stage_skew", "ratio"), ("driver.nonjob_s", "s")]
    + [(f"self.{l}_s", "s") for l in
       ["harness", "cube", "entry", "operators", "scratch", "spark"]]
    + [(f"functions.{k}_rows_per_s", "1/s") for k in KERNELS]
    + [("trace.overhead_s", "s"), ("trace.spans", "count")])

class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads; a missing engine source is an error."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise BenchError(f"no engine sources (build.sbt, src/main) under {ROOT}")
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*.*"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles engine and benchmark; returns (classpath, the engine's JVM
    options, source hash)."""
    digest = source_hash()
    launch = os.path.join(WORK, f"launch-{digest}.txt")
    if not os.path.isfile(launch):
        compile_sources(launch)
    with open(launch) as fh:
        cp, *opts = fh.read().splitlines()
    return cp, opts, digest


def compile_sources(launch):
    if shutil.which("sbt") is None:
        raise BenchError("sbt is not on PATH")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    logf = os.path.join(WORK, "build.log")
    log(f"building from source (log: {logf})")
    with open(logf, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "launchFile"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=BUILD_LIMIT_S)
        fh.write(p.stdout)
    written = os.path.join(HERE, "target", "launch.txt")
    if p.returncode != 0 or not os.path.isfile(written):
        raise BenchError(f"build failed (exit {p.returncode}); see {logf}")
    shutil.copyfile(written, launch)


def data_dir():
    d = os.path.join(WORK, "data", f"sf{SCALE}-seed{DATA_SEED}")
    done = os.path.join(d, "_DONE")
    if not os.path.isfile(done):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, SCALE, DATA_SEED)
        with open(done, "w") as fh:
            fh.write("ok\n")
    return d


def run_jvm(cp, opts, workload, seed, seconds, trace, data, out, deadline):
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    # the engine's own options, then a smaller heap (the last -Xmx wins),
    # fixed and pre-touched so that the resident memory beyond it is the
    # JVM's memory outside the heap
    cmd = (["java"] + opts
           + ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:CompileThresholdScaling=0.2",
              f"-Djava.io.tmpdir={tmp}",
              "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--data", data, "--out", out])
    with open(os.path.join(out, "jvm.log"), "w") as fh:
        p = subprocess.Popen(cmd, cwd=out, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"{workload} did not finish in time; see {out}/jvm.log")
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(res):
        raise BenchError(f"{workload} JVM exited {rc}; see {out}/jvm.log")
    with open(res) as fh:
        return json.load(fh)


# ---- oracle ---------------------------------------------------------------

def duck(data):
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


SPARK_TO_DUCK = {"int": "INTEGER", "bigint": "BIGINT", "double": "DOUBLE",
                 "string": "VARCHAR", "timestamp_ntz": "TIMESTAMP", "float": "FLOAT",
                 "smallint": "SMALLINT", "boolean": "BOOLEAN"}


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "%.6f" % v
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, str) and len(v) >= 16 and v[4] == "-" and v[10] == "T":
        return dt.datetime.fromisoformat(v).isoformat()
    return str(v)


def check_cube(con, rec):
    """Compares one collected cube answer with its generated oracle SQL.
    Rows are matched on their exact columns; a rounded measure may differ
    by one unit in its last decimal (the column's tolerance)."""
    rel = con.sql(rec["sql"])
    want_cols, want_types = list(rel.columns), [str(t) for t in rel.types]
    got_cols = [c[0] for c in rec["columns"]]
    got_types = [SPARK_TO_DUCK.get(c[1], c[1]) for c in rec["columns"]]
    tol = [c[2] or 0.0 for c in rec["columns"]]
    if want_cols != got_cols:
        return f"columns {got_cols} vs {want_cols}"
    if want_types != got_types:
        return f"types {got_types} vs {want_types}"
    exact = [i for i, t in enumerate(tol) if t == 0.0]

    def rows(rs):
        return sorted(rs, key=lambda r: tuple(cell(r[i]) for i in exact))

    want, got = rows(rel.fetchall()), rows([tuple(r) for r in rec["rows"]])
    if len(want) != len(got):
        return f"rows {len(got)} vs {len(want)}"
    for g, w in zip(got, want):
        for i, t in enumerate(tol):
            same = (cell(g[i]) == cell(w[i]) if t == 0.0 or g[i] is None or w[i] is None
                    else abs(g[i] - w[i]) <= 1.5 * t)
            if not same:
                return f"row {tuple(map(cell, g))} vs {tuple(map(cell, w))}"
    return None


def oracle_answer(con, sql):
    """A parquet file with DuckDB's answer to `sql`. The tables come from a
    fixed seed, so answers are cached by SQL text: some oracle queries take
    seconds, and a run checks several passes of each query."""
    cache = os.path.join(WORK, "oracle-cache", f"sf{SCALE}-seed{DATA_SEED}")
    path = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".parquet")
    if not os.path.isfile(path):
        os.makedirs(cache, exist_ok=True)
        con.execute(f"COPY ({sql.strip().rstrip(';')}) TO '{path}.tmp' (FORMAT parquet)")
        os.replace(path + ".tmp", path)
    return path


def check_queries(data, out, recs, deadline):
    """Checks every dumped query answer with the engine's own checker,
    tools/check.py: columns sorted by name, rows sorted, dtypes equal,
    values equal after %.6f formatting. The checker reads DuckDB's answers
    from the cache. Returns {call id: mismatch}."""
    checker = os.path.join(ROOT, "tools", "check.py")
    if not os.path.isfile(checker):
        raise BenchError(f"no {checker}")
    bad = {r["id"]: "no oracle SQL registered" for r in recs if not r["sql"]}
    con = duck(data)
    sql = {}
    for r in recs:
        if r["sql"]:
            try:
                sql[r["key"]] = f"SELECT * FROM read_parquet('{oracle_answer(con, r['sql'])}')"
            except Exception as e:  # an oracle that cannot run is a failed check
                bad.setdefault(r["id"], f"oracle error: {type(e).__name__}: {e}")
    if not sql:
        return bad
    root = os.path.join(out, "oracle")
    with open(os.path.join(root, "oracle_sql.json"), "w") as fh:
        json.dump(sql, fh)
    p = subprocess.run([sys.executable, checker, data, root], capture_output=True, text=True,
                       timeout=max(5, deadline - time.time()))
    verdicts = parse_check(p.stdout)
    for r in recs:
        if r["key"] in sql and verdicts.get(r["key"]) != "ok":
            why = verdicts.get(r["key"]) or f"not checked (exit {p.returncode}): " + \
                p.stderr.strip()[-300:]
            bad.setdefault(r["id"], f"{r['pass']}: {why}")
    return bad


def parse_check(stdout):
    """tools/check.py's report as {name: "ok" or the reason it failed}."""
    out = {}
    for line in stdout.splitlines():
        if line.startswith("ok   "):
            out[line[5:].split(" ")[0]] = "ok"
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            out[name] = why
    return out


def oracle(data, out, res, deadline):
    """Returns {call id: mismatch} over every answer the run dumped."""
    if res["workload"] == "oec_calls":
        con = duck(data)
        bad = {}
        for rec in res["oracle"]:
            try:
                why = check_cube(con, rec)
            except Exception as e:  # an oracle that cannot run is a failed check
                why = f"oracle error: {type(e).__name__}: {e}"
            if why:
                bad[rec["id"]] = why
    else:
        bad = check_queries(data, out, res["oracle"], deadline)
    checked = {rec["id"] for rec in res["oracle"]}
    for cid in res["executions"]:
        if cid not in checked and cid not in bad:
            bad[cid] = "answer not dumped for the oracle"
    return bad


# ---- one run ----------------------------------------------------------------

def commit_id(digest):
    try:
        p = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"src-{digest}"


def run_one(workload, seed, seconds, trace, build_out, deadline):
    cp, opts, digest = build_out
    data = data_dir()
    out = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{int(trace)}")
    res = run_jvm(cp, opts, workload, seed, seconds, trace, data, out, deadline)
    bad = oracle(data, out, res, deadline)
    for cid, why in sorted(res["errors"].items()):
        bad.setdefault(cid, why)
    attempted = int(res["attempted"])
    failed = sum(int(n) for cid, n in res["executions"].items() if cid in bad)
    spec = PER_LAYER if trace else END_TO_END
    values = res["per_layer"] if trace else res["end_to_end"]
    if set(values) != {n for n, _ in spec}:
        missing = sorted({n for n, _ in spec} - set(values))
        extra = sorted(set(values) - {n for n, _ in spec})
        raise BenchError(f"metric set mismatch: missing {missing}, extra {extra}")
    metrics = {}
    for name, unit in spec:
        v = values[name]
        if v is None or (isinstance(v, float) and math.isnan(v)):
            raise BenchError(f"metric {name} was not measured")
        metrics[name] = {"value": v, "unit": unit}
    info = {
        "workload": workload, "seed": seed, "trace": int(trace), "commit": commit_id(digest),
        "nproc": int(res["nproc"]), "scale": SCALE,
        "pass_load_1m": [p["load_1m"] for p in res["passes"]],
        "warmup_pass_s": res["warmup_pass_s"],
        "warmup_leveled": res["warmup_leveled"],
        "measured_pass_s": [p["wall_s"] for p in res["passes"]],
        "latency_ms": res["latency_ms"],
        "attempted": attempted, "failed": failed,
        "ops_failed_ratio": failed / attempted if attempted else None,
        "mismatches": bad,
    }
    if trace:
        info["tracing_overhead_s"] = res["per_layer"]["trace.overhead_s"]
    with open(os.path.join(out, "summary.json"), "w") as fh:
        json.dump({"info": info, "metrics": metrics}, fh, indent=1)
    return info, {"correct": failed == 0 and attempted > 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}


def report(info, line):
    print(f"# {info['workload']} seed={info['seed']} trace={info['trace']} "
          f"commit={info['commit']} nproc={info['nproc']} scale=sf{info['scale']}")
    print(f"#   load_1m per pass: {info['pass_load_1m']}")
    print(f"#   warm-up passes (s): {info['warmup_pass_s']} leveled={info['warmup_leveled']}")
    print(f"#   measured passes (s): {info['measured_pass_s']}")
    lat = info["latency_ms"]
    print(f"#   call latency over {lat['n']} calls: p50={lat['p50']:.1f} ms "
          f"p{lat['tail_pct']}={lat['tail']:.1f} ms")
    print(f"#   calls attempted={info['attempted']} failed={info['failed']} "
          f"ops_failed_ratio={info['ops_failed_ratio']}")
    for cid, why in sorted(info["mismatches"].items()):
        print(f"#   FAILED {cid}: {why[:300]}")
    if "tracing_overhead_s" in info:
        print(f"#   tracing overhead: {info['tracing_overhead_s']:.4f} s per pass")
    for name, m in line["metrics"].items():
        print(f"{info['workload']:>13} {name:<32} {m['value']:>16.6g} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        built = build()
        if a.workload != "all":
            info, line = run_one(a.workload, a.seed, a.seconds, bool(a.trace), built,
                                 time.time() + RUN_LIMIT_S)
            report(info, line)
            print(json.dumps(line), flush=True)
            return 0
        for w in WORKLOADS:
            for trace in (False, True):
                info, line = run_one(w, a.seed, a.seconds, trace, built,
                                     time.time() + RUN_LIMIT_S)
                report(info, line)
        return 0
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
