#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload curation_session --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine with its harness (sbt, into
the build directory) and prepares the per-checkout inputs: the DuckDB
oracle's result fingerprints, the curation stage store, and one checked
pass over every query (the sweep). Later runs reuse them. Every query
result is checked with tools/check_oracle.py's canonical hash.

A run launches one JVM on local[nproc] with one client thread, measures
the workload, and prints detail lines followed by one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import fcntl
import glob
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

WORKLOADS = ("curation_session", "index_build")
CORPUS = "perfbench/data/sf0.001"
ORACLE_CACHE = "perfbench/data/oracle_fingerprints.json"
MODULES = ("Analytics", "MrQueries", "TextAnalysis", "Dedup", "Similarity",
           "KvQueries", "MultimodalQueries", "Retrieval", "GraphRank",
           "Positional", "RebuildPolicy")
STAGE_MODULES = ("dedup", "positional", "similarity", "text", "media_table",
                 "multimodal", "retrieval", "serving_index")
PRIMARY_KINDS = ("query", "stage")
END_TO_END = (("setup_s", "s"), ("first_total_s", "s"), ("first_p50_s", "s"),
              ("repeat_total_s", "s"))
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# ------------------------------------------------------------ statistics

def percentile(values, p):
    """Nearest-rank percentile, p in (0, 100]."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def tail(values, ladder=(99.9, 99, 95, 90, 75, 50)):
    """(p, value) for the highest percentile in `ladder` that has at least
    ten samples beyond it, or None when there are too few samples."""
    n = len(values)
    for p in ladder:
        if n * (100.0 - p) / 100.0 >= 10:
            return p, percentile(values, p)
    return None


def end_to_end(result):
    """The end-to-end metrics of one untraced run. The totals cover the
    first and repeat passes; index_build's serving ops are a pass of their
    own, `serve`, and are reported on the detail line and per layer."""
    ops = result["ops"]

    def primary(pass_):
        return [o["s"] for o in ops if o["pass"] == pass_ and o["kind"] in PRIMARY_KINDS]

    def total(pass_):
        return sum(o["s"] for o in ops if o["pass"] == pass_)

    return {
        "setup_s": result["setup_s"],
        "first_total_s": total("first"),
        "first_p50_s": statistics.median(primary("first")),
        "repeat_total_s": total("repeat"),
    }


def op_stats(result):
    """Per pass and kind of operation: count, total, median and tail."""
    out = {}
    for o in result["ops"]:
        out.setdefault(f"{o['pass']}.{o['kind']}", []).append(o["s"])
    for k, xs in out.items():
        t = tail(xs)
        out[k] = {"n": len(xs), "total_s": sum(xs), "p50_s": statistics.median(xs),
                  "tail_p": t[0] if t else None, "tail_s": t[1] if t else None}
    return out


def verdicts(result, sweep):
    """(attempted, failed, named failures): timed operations, untimed
    checks, and the per-checkout sweep of every query. A thrown operation
    and a wrong result both count as failed."""
    failures = []
    attempted = 0
    for o in result["ops"]:
        attempted += 1
        if not o["ok"]:
            failures.append(f"{o['pass']} {o['name']}: {o['error']}")
    for c in result["checks"]:
        attempted += 1
        if not c["ok"]:
            failures.append(f"check {c['name']}: {c['error']}")
    for name, v in sorted(sweep.items()):
        attempted += 1
        if not v["ok"]:
            failures.append(f"sweep {name}: {v['error']}")
    return attempted, len(failures), failures


def per_layer(result, overhead):
    """The per-layer metrics of one traced run; 0 where the workload does
    not use the layer."""
    ops, f = result["ops"], result["facts"]

    def ops_s(**kw):
        return float(sum(o["s"] for o in ops if all(o[k] == v for k, v in kw.items())))

    def fact(k):
        return float(f.get(k, 0.0))

    m = {"tables.warm_s": fact("tables.warm_s")}
    for mod in STAGE_MODULES:
        m[f"staging.build_s.{mod}"] = ops_s(
            kind="stage", name=mod, **{"pass": "serve" if mod == "serving_index" else "first"})
    for k in ("artifacts", "files", "bytes"):
        m[f"staging.{k}"] = fact(f"staging.{k}")
    m["staging.bytes_per_input_byte"] = (
        fact("staging.bytes") / fact("staging.input_bytes")
        if fact("staging.input_bytes") else 0.0)
    m["staging.warm_check_s"] = ops_s(kind="stage", **{"pass": "repeat"})
    for mod in MODULES:
        for pass_ in ("first", "repeat"):
            m[f"query.{mod}.{pass_}_s"] = ops_s(kind="query", module=mod, **{"pass": pass_})
    for pass_ in ("first", "repeat"):
        m[f"memo.cached_rdds.{pass_}"] = fact(f"memo.{pass_}.cached_rdds")
        m[f"memo.cached_bytes.{pass_}"] = fact(f"memo.{pass_}.cached_bytes")
    m["memo.clear_s"] = fact("memo.clear_s")
    for k in ("analysis_s", "optimization_s", "planning_s", "executions",
              "exchanges", "file_scans", "inmemory_scans"):
        m[f"plan.{k}"] = fact(f"plan.{k}")
    for k in ("jobs", "stages", "tasks", "failed_tasks", "task_run_s",
              "task_cpu_s", "task_gc_s", "scheduler_delay_s", "input_bytes",
              "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes"):
        m[f"spark.{k}"] = fact(f"spark.{k}")
    window = fact("window_s")
    m["spark.core_busy_frac"] = (fact("spark.task_run_s") / (window * result["posture"]["nproc"])
                                 if window else 0.0)
    m["driver.self_s"] = fact("driver.self_s")
    triggers = fact("stream.triggers")
    for k in ("trigger_ms", "add_batch_ms", "planning_ms", "wal_commit_ms", "commit_ms"):
        m[f"stream.{k}"] = fact(f"stream.{k}") / triggers if triggers else 0.0
    m["serve.index_files"] = fact("serve.index_files")
    compacts = [o["s"] for o in ops if o["kind"] == "compact"]
    m["serve.compact_s"] = statistics.median(compacts) if compacts else 0.0
    ingests = [o["s"] * 1e3 for o in ops if o["kind"] == "ingest"]
    m["ingest.append_ms"] = statistics.median(ingests) if ingests else 0.0
    m["jvm.gc_s"] = fact("jvm.gc_s")
    m["jvm.gc_count"] = fact("jvm.gc_count")
    m["jvm.rss_peak_mb"] = result["rss_peak_mb"]
    m["trace.overhead_frac"] = overhead
    return m


# ------------------------------------------------------ the oracle check

def checker(root):
    """tools/check_oracle.py, whose canon and table_hash define a correct
    result for this repo."""
    sys.path.insert(0, f"{root}/tools")
    import check_oracle
    return check_oracle


def fingerprint(co, df):
    """Sorted column names, row count and canonical hash, as check_oracle.py
    compares them."""
    c = co.canon(df)
    return {"columns": list(c.columns), "rows": len(c), "hash": co.table_hash(c)}


def result_fingerprint(co, path):
    """The fingerprint of a result directory written like graft.Verify's,
    read the way check_oracle.py reads it."""
    import pandas as pd
    files = glob.glob(f"{path}/*.parquet")
    return fingerprint(co, pd.concat([pd.read_parquet(f) for f in files]) if files
                       else pd.DataFrame())


def compare(got, want):
    """None when `got` matches the oracle's `want`, else why not."""
    if want is None:
        return "no oracle result"
    if "error" in want:
        return want["error"]
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != oracle {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != oracle {want['rows']}"
    if got["hash"] != want["hash"]:
        return "values differ from oracle"
    return None


def check(co, rec, name, expected, base):
    """Sets rec's verdict: what it threw, or its result against the oracle."""
    error = rec.get("error")
    if error is None and rec.get("result") is not None:
        error = compare(result_fingerprint(co, f"{base}/{rec['result']}"), expected.get(name))
    rec["ok"], rec["error"] = error is None, error


# --------------------------------------------------------------- the run

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths, root):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sources(root):
    return (glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True)
            + glob.glob(f"{root}/perfbench/src/**/*.scala", recursive=True)
            + [f"{root}/perfbench/build.sbt", f"{root}/perfbench/project/build.properties"])


def sh(cmd, log, env=None, cwd=None, timeout=None):
    """Run `cmd` in its own process group; the group is killed and reaped
    if it overruns `timeout` or this process is asked to stop."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             cwd=cwd, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def spark_home():
    """The Spark installation the engine compiles and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(f"{home}/jars"):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(root, bdir):
    """Compile engine + harness; returns the runtime classpath."""
    stamp = digest(sources(root), root)
    classes = f"{bdir}/sbt-target/scala-2.13/classes"
    cp = f"{classes}:{spark_home()}/jars/*"
    marker = f"{bdir}/build.stamp"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return cp, stamp
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_TARGET=f"{bdir}/sbt-target",
               SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g -Dsbt.server.autostart=false"
    if os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts
    log = f"{bdir}/build.log"
    rc = sh(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], log, env=env,
            cwd=f"{root}/perfbench", timeout=300)
    if rc != 0:
        fail(f"build failed (rc={rc}); see {log}", 3)
    with open(marker, "w") as fh:
        fh.write(stamp)
    return cp, stamp


def java(cp, bdir, args, log, env_extra, timeout):
    tmp = f"{bdir}/tmp"
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-Dlog4j2.level=error"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{tmp}/spark-local", **env_extra)
    env.pop("SPARK_GRAFT_STAGE", None)
    try:
        rc = sh(cmd, log, env=env, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{args[0]} timed out after {timeout} s; see {log}", 4)
    if rc != 0:
        fail(f"{args[0]} failed (rc={rc}); see {log}", 4)


def sql_digest(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def duckdb_oracle(root, prep, corpus_stamp, co):
    """The oracle fingerprints, written to {prep}/expected.json. They depend
    only on the corpus and the oracle SQL, so ORACLE_CACHE's are reused when
    it was made from this corpus and the query's SQL is unchanged; the rest
    are computed in DuckDB as check_oracle.py computes them."""
    sqls = json.load(open(f"{prep}/oracle_sql.json"))
    cache = json.load(open(f"{root}/{ORACLE_CACHE}"))
    cached = cache["queries"] if cache.get("corpus") == corpus_stamp else {}
    expected = {q: v for q, v in cached.items()
                if q in sqls and v.get("sql_sha256") == sql_digest(sqls[q])}
    todo = sorted(q for q in sqls if q not in expected)
    if todo:
        print(f"perfbench: computing {len(todo)} oracle results in DuckDB", file=sys.stderr)
        con = co.duckdb.connect()
        for t in co.TABLES:
            p = f"{root}/{CORPUS}/{t}.parquet"
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for q in todo:
            try:
                v = fingerprint(co, con.sql(sqls[q]).df())
            except Exception as e:  # the error is the oracle's verdict for this query
                v = {"error": f"oracle SQL error: {e}"}
            expected[q] = dict(v, sql_sha256=sql_digest(sqls[q]))
    with open(f"{prep}/expected.json", "w") as fh:
        json.dump({"corpus": corpus_stamp, "queries": expected}, fh, indent=1, sort_keys=True)
    return expected


def prepare(root, bdir, cp, stamp, cpus):
    """Per-checkout inputs, built once under the build lock."""
    corpus_stamp = digest(glob.glob(f"{root}/{CORPUS}/*.parquet"), root)
    prep = f"{bdir}/prep/{stamp}-{corpus_stamp}"
    if os.path.exists(f"{prep}/done"):
        return prep
    shutil.rmtree(f"{bdir}/prep", ignore_errors=True)
    os.makedirs(prep)
    log = f"{prep}/prep.log"
    co = checker(root)
    java(cp, bdir, ["oracle-sql", "--prep", prep], log, {}, 120)
    expected = duckdb_oracle(root, prep, corpus_stamp, co)
    java(cp, bdir, ["prep", "--prep", prep, "--corpus", f"{root}/{CORPUS}",
                    "--cpus", str(cpus)], log,
         {"SPARK_GRAFT_STAGE_DIR": f"{prep}/stage"}, 400)
    sweep = json.load(open(f"{prep}/sweep.json"))
    for q, rec in sweep.items():
        check(co, rec, q, expected, prep)
    with open(f"{prep}/sweep.json", "w") as fh:
        json.dump(sweep, fh, indent=0, sort_keys=True)
    open(f"{prep}/done", "w").close()
    return prep


def overhead(bdir, key, traced, value):
    """Traced-minus-untraced first_total_s as a share of the untraced
    median recorded under `key` in this checkout (0 until an untraced run
    exists)."""
    path = f"{bdir}/history.json"
    hist = json.load(open(path)) if os.path.exists(path) else {}
    if not traced:
        hist.setdefault(key, []).append(value)
        with open(path, "w") as fh:
            json.dump(hist, fh)
        return None
    base = hist.get(key)
    return (value - statistics.median(base)) / statistics.median(base) if base else 0.0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py",
                 "perfbench/build.sbt", CORPUS):
        if not os.path.exists(f"{root}/{need}"):
            fail(f"not a graft checkout root: {need} is missing")
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(bdir, exist_ok=True)
    cpus = os.cpu_count() or 1

    with open(f"{bdir}/lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp, stamp = build(root, bdir)
        prep = prepare(root, bdir, cp, stamp, cpus)
        work = f"{bdir}/runs/{a.workload}"
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        stage = f"{prep}/stage" if a.workload == "curation_session" else f"{work}/stage"
        out, spans = f"{work}/result.json", f"{work}/spans.json"
        java(cp, bdir, ["run", "--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--cpus", str(cpus), "--corpus", f"{root}/{CORPUS}",
                        "--prep", prep, "--work", work, "--out", out,
                        "--spans", spans],
             f"{work}/jvm.log", {"SPARK_GRAFT_STAGE_DIR": stage}, RUN_TIMEOUT_S)
        result = json.load(open(out))
        expected = json.load(open(f"{prep}/expected.json"))["queries"]
        co = checker(root)
        for o in result["ops"]:
            check(co, o, o["name"], expected, work)
        sweep = json.load(open(f"{prep}/sweep.json"))
        e2e = end_to_end(result)
        ovh = overhead(bdir, f"{stamp}:{a.workload}", a.trace == 1, e2e["first_total_s"])

    attempted, failed, failures = verdicts(result, sweep)
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "source_digest": stamp, "posture": result["posture"],
        "ops": op_stats(result),
        "failures": failures[:20],
    }
    if a.trace:
        metrics = per_layer(result, ovh)
        units = {k: unit_of(k) for k in metrics}
        detail["spans_file"] = os.path.relpath(spans, root)
        detail["query_first_sum_s"] = sum(v for k, v in metrics.items()
                                          if k.startswith("query.") and k.endswith(".first_s"))
        detail["first_total_s"] = e2e["first_total_s"]
    else:
        metrics = e2e
        units = dict(END_TO_END)
    for name in metrics:
        assert NAME_RE.match(name), name
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.startswith("staging.build_s."):
        return "s"
    if name.endswith("bytes") or name.startswith("memo.cached_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.endswith("per_input_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
