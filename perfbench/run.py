#!/usr/bin/env python3
"""graft benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <sap_catalog|lake_queries|cdc_merge>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine sources of
the repository together with the harness under perfbench/src (sbt,
offline) and dumps the class-data-sharing archive the runs map; later
runs reuse both while no source is newer. Each run
starts one JVM (`graft.perfbench.Main`), which sets up, runs the timed
closed loop and writes a result file; this script then finishes the
output checks that need DuckDB, computes the metrics and prints them.
The last line of stdout is one JSON object: with --trace 0 every
end-to-end metric of BENCHMARK.json, with --trace 1 every per-layer one.
Lines before it, prefixed `#`, give the per-workload readings by name.
Everything the run writes stays under .bench_work/ in the checkout.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing lakegen leaves nothing behind

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sap_catalog", "lake_queries", "cdc_merge")
# scale of the generated lake (row counts relative to TPC-H SF 1)
LAKE_SF = 0.01
DEADLINE_S = 170
# A fixed-size heap with a fixed young generation: resident memory follows
# what the run touches, not when the collector grew the heap, and the young
# generation holds several operations' garbage (Main.timedOp collects
# between operations when it fills).
JVM_OPTS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn1280m"]
# Class-data-sharing archive of the classes a run loads, dumped at build
# time: a run maps it instead of loading and verifying Spark's classes
# from the jars, which takes seconds off session start.
ARCHIVE = os.path.join(HERE, "target", "bench.jsa")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_logged(cmd, cwd, log, deadline, env=None):
    """Runs `cmd` in its own process group with output to `log`; kills the
    whole group if it outlives `deadline`. Returns the exit code, or None
    on timeout."""
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        except BaseException:  # interrupted: take the child group along
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def tail_of(log, n=40):
    with open(log) as f:
        return "".join(f.readlines()[-n:])


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        for f in glob.glob(os.path.join(p, "**", "*"), recursive=True):
            if os.path.isfile(f):
                newest = max(newest, os.path.getmtime(f))
    return newest


def build(deadline):
    """Compiles engine + harness once and dumps the class-data-sharing
    archive every run maps at start; returns the runtime classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        die(f"engine sources not found at {engine}; run from a graft checkout")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found at the checkout root")
    cp_file = os.path.join(HERE, "target", "bench.classpath")
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
               os.path.join(HERE, "project")]
    # the archive is written last, so it marks a complete build
    stale = (not os.path.isfile(ARCHIVE) or
             os.path.getmtime(ARCHIVE) < max(
                 newest_mtime(sources),
                 os.path.getmtime(os.path.join(HERE, "build.sbt"))))
    if stale:
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
        log = os.path.join(HERE, "target", "build.log")
        tmp = os.path.join(HERE, "target", "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS=f"-Djava.io.tmpdir={tmp}")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               "-Dsbt.server.autostart=false",
               "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
               "writeClasspath"]
        code = run_logged(cmd, HERE, log, deadline, env)
        if code is None:
            die("build timed out")
        if code != 0 or not os.path.isfile(cp_file):
            sys.stderr.write(tail_of(log))
            die("build failed")
        # a short pass through the Spark paths every workload takes; the
        # JVM dumps the classes it loaded when it exits
        work = os.path.join(tmp, "archive")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        with open(cp_file) as f:
            cp = f.read().strip()
        cmd = java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
            "--archive", work]
        log = os.path.join(HERE, "target", "archive.log")
        code = run_logged(cmd, work, log, deadline)
        shutil.rmtree(work, ignore_errors=True)
        if code != 0 or not os.path.isfile(ARCHIVE):
            if code is not None:
                sys.stderr.write(tail_of(log))
            if os.path.exists(ARCHIVE):
                os.remove(ARCHIVE)
            die("class archive dump failed")
    with open(cp_file) as f:
        return f.read().strip()


def java_cmd(cp, work, extra):
    """The benchmark JVM's command line up to its main class."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + JVM_OPTS + extra +
            [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             "-cp", cp, "graft.perfbench.Main"])


def run_jvm(cp, args, work, gen_s, deadline):
    cmd = java_cmd(cp, work, [f"-XX:SharedArchiveFile={ARCHIVE}"]) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--gen-s", repr(gen_s)]
    log = os.path.join(work, "jvm.log")
    code = run_logged(cmd, work, log, deadline)
    if code is None:
        die("run exceeded its time limit", 3)
    if code != 0:
        sys.stderr.write(tail_of(log))
        die(f"benchmark JVM exited with {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def generate_lake(work, seed):
    """Writes the seeded lake three times; returns (median seconds, rows)."""
    sys.path.insert(0, HERE)
    import lakegen
    lake = os.path.join(work, "lake")
    times = []
    for _ in range(3):
        shutil.rmtree(lake, ignore_errors=True)
        os.makedirs(lake)
        t0 = time.perf_counter()
        rows = lakegen.write(lake, seed, LAKE_SF)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), rows


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v + 0.0:.17g}"
    return str(v)


def _rows(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(_norm(r[i]) for i in order) for r in rel.fetchall()))


def oracle_check(work):
    """Each query's dumped Spark result against its DuckDB twin, as
    multisets of rows (ties under ORDER BY may order differently).
    Returns {query: None if equal else reason}."""
    import duckdb
    con = duckdb.connect()
    lake = os.path.join(work, "lake")
    for p in sorted(glob.glob(os.path.join(lake, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = os.path.join(work, "oracle_out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdict = {}
    for q, sql in oracle.items():
        files = sorted(glob.glob(os.path.join(out, q, "*.parquet")))
        if sql is None:
            verdict[q] = "no oracle twin"
        elif not files:
            verdict[q] = "no Spark result"
        else:
            try:
                got = _rows(con.sql(f"SELECT * FROM read_parquet({files!r})"))
                want = _rows(con.sql(sql))
                verdict[q] = None if got == want else (
                    f"differs: {len(got[1])} rows vs {len(want[1])}, "
                    f"columns {got[0]} vs {want[0]}")
            except Exception as e:  # a failing twin is a failed check
                verdict[q] = f"error: {e}"
    return verdict


def quantile(xs, p):
    s = sorted(xs)
    if not s:
        return 0.0
    pos = p * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    text with its percentile and count; none exists below 20 samples."""
    n = len(xs)
    if n < 20:
        return f"n/a (n={n}, no percentile above p50 has ten samples beyond)"
    p = 1.0 - 10.0 / n
    return f"{quantile(xs, p):.4f} s (p{100 * p:.1f}, n={n})"


def summarize(res, lake_verdict):
    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    if lake_verdict:
        bad = {q for q, v in lake_verdict.items() if v}
        failed += sum(1 for o in ops if o["ok"] and o["name"] in bad)
    failed = min(len(ops), failed + res["check_failures"])
    n = len(ops)
    # throughput of the mix at each operation's median time over rounds
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["s"])
    mix_s = sum(statistics.median(v) for v in by_name.values())
    e2e = {
        "setup_s": sum(res["setup"].values()),
        "peak_rss_mb": float(res["info"]["peak_rss_mb"]),
        "ok_ratio": 1.0 - failed / max(1, n),
        "ops_per_min": 60.0 * len(by_name) / mix_s if mix_s else 0.0,
    }
    report = [f"workload {res['workload']}: {n} operations, {failed} failed",
              "setup: " + ", ".join(f"{k}={v:.3f}" for k, v in
                                    res["setup"].items())]
    report += readings(ops)
    report += [f"oracle {q}: {v or 'ok'}" for q, v in lake_verdict.items()]
    report += [f"{k} = {v}" for k, v in res["info"].items()]
    return e2e, n, failed, report


def readings(ops):
    """The per-kind readings printed on `#` lines: throughput, median and
    tail of each kind of operation the workload ran."""
    def of(kind):
        return [o for o in ops if o["kind"] == kind]

    def p50(xs):
        return f"{quantile(xs, 0.5):.4f} s"

    def mix_p50(kind_ops):
        """Median over the mix of each operation's median time."""
        by_name = {}
        for o in kind_ops:
            by_name.setdefault(o["name"], []).append(o["s"])
        return p50([statistics.median(v) for v in by_name.values()])

    out = []
    extracts = of("extract")
    if extracts:
        secs = [o["s"] for o in extracts]
        rows = sum(o["rows"] for o in extracts)
        out += [f"extract_rows_per_s = {rows / sum(secs):.1f} rows/s",
                f"extract_p50_s = {mix_p50(extracts)}",
                f"extract_tail_s = {tail(secs)}"]
    queries = of("query")
    if queries:
        secs = [o["s"] for o in queries]
        out += [f"queries_per_min = {60 * len(secs) / sum(secs):.2f} 1/min",
                f"query_p50_s = {mix_p50(queries)}",
                f"query_tail_s = {tail(secs)}"]
    cycles = of("cycle")
    if cycles:
        merges = [o["parts"]["merge_s"] for o in cycles]
        reads = [v for o in cycles for k, v in o["parts"].items()
                 if k.startswith("lookup_")]
        rows = sum(o["rows"] for o in cycles)
        out += [f"merge_rows_per_s = {rows / sum(merges):.1f} rows/s",
                f"merge_p50_s = {p50(merges)}",
                f"merge_tail_s = {tail(merges)}",
                f"read_p50_s = {p50(reads)}",
                f"read_tail_s = {tail(reads)}"]
    return out


def main():
    # a terminated run unwinds through run_logged, which stops its children
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    # the first run of a checkout may build; the build has its own budget
    cp = build(start + 840)
    deadline = time.time() + DEADLINE_S
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen_s = 0.0
    if args.workload == "lake_queries":
        gen_s, lake_rows = generate_lake(work, args.seed)
    res = run_jvm(cp, args, work, gen_s, deadline)
    verdict = oracle_check(work) if args.workload == "lake_queries" else {}
    e2e, attempted, failed, report = summarize(res, verdict)
    if args.workload == "lake_queries":
        report.append("lake rows: " + ", ".join(
            f"{k}={v}" for k, v in lake_rows.items()))
    for line in report:
        print("# " + line)
    if args.trace:
        wanted = [m["name"] for m in spec["per_layer"]]
        layer = res["layer"]
        if sorted(layer) != sorted(wanted):
            die(f"per-layer names differ from BENCHMARK.json: "
                f"{sorted(set(layer) ^ set(wanted))}")
        for k in wanted:
            print(f"# layer {k} = {layer[k]}")
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    # bulky inputs go; result, spans and logs stay for inspection
    for d in ("lake", "landing", "vbak", "oracle_out", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
