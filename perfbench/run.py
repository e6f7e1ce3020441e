#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the repository's
Scala sources together with perfbench/src into .bench_build (or
$CARGO_TARGET_DIR) with the Scala compiler that ships in Spark's jars;
later runs reuse the classes while the sources hash the same. Inputs are
generated from the seed (gen.py) before the JVM starts, and cached per
seed. The JVM (perfbench/src/graftbench) sets up, runs the timed phase
with one closed-loop client and writes a run record; this script then
checks the outputs, prints a per-layer self-time table for traced runs
on stderr, and prints the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Registered queries (SparkEntry names) of lakehouse_queries: reference-
# surface queries whose cost is mostly fixed per query, then two corpus
# queries whose cost is executor CPU in functions/ kernels. See README.md.
LAKEHOUSE_QUERIES = [
    "q01_pricing_summary", "q04_region_revenue", "q05_event_type_stats",
    "q12_expectations", "q13_stream_daily", "q26_asof_join",
    "q14_dedup_exact", "q34_corpus_clean"]

PIPELINE_DROPS = 2
OPTIMIZE_EVERY = 2
JVM_HEAP = "3g"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850

WORKLOADS = {
    "lakehouse_queries": {"kind": "queries", "inputs": "tables",
                          "queries": LAKEHOUSE_QUERIES},
    "pipeline_merge": {"kind": "pipeline", "inputs": "drops"},
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("no Spark jars with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def build(root, out):
    """Compile the repository and the benchmark into one classes dir,
    named after the hash of the sources it was built from."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not srcs:
        raise BenchError("no repository sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    cls = os.path.join(out, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(cls, ".built")):
        return cls
    jars = spark_jars()
    tmp = f"{cls}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    log(f"compiled in {time.time() - t0:.1f}s")
    open(os.path.join(tmp, ".built"), "w").close()
    for old in glob.glob(os.path.join(out, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, cls)
    return cls


def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def gmean_of_medians(samples):
    """Geometric mean over distinct ops of each op's median latency."""
    by = {}
    for s in samples:
        by.setdefault((s["kind"], s["name"]), []).append(s["ms"])
    logs = [math.log(statistics.median(v)) for v in by.values()]
    return math.exp(sum(logs) / len(logs))


def pct(xs, q):
    """Percentile with linear interpolation between closest ranks."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def check_queries(root, data, dump, names):
    """Compare each dumped query result with its DuckDB oracle through
    the repository's own checker; returns the names that failed."""
    r = subprocess.run([sys.executable, os.path.join(root, "dev/check_oracle.py"),
                        data, dump], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    status = {}
    for line in r.stdout.splitlines():
        name, _, rest = line.partition(": ")
        if name in names:
            status[name] = rest.startswith("OK") or (
                rest.startswith("rows-only") and "EMPTY" not in rest)
    bad = [n for n in names if not status.get(n, False)]
    for n in bad:
        log("output check failed: " + next(
            (line for line in r.stdout.splitlines() if line.startswith(n + ":")),
            n + ": no output"))
    return bad


FACT_SQL = """
WITH o AS (SELECT store_id, CAST(dt AS DATE) AS dt,
             SUM(CAST(order_value AS DECIMAL(12,2))) AS revenue,
             COUNT(*) AS order_count
           FROM read_csv('{d}/erp_orders.csv', header=true, all_varchar=true)
           GROUP BY ALL),
     l AS (SELECT store_id, CAST(dt AS DATE) AS dt,
             COUNT(CASE WHEN status = 'converted' THEN 1 END) AS converted_leads
           FROM read_csv('{d}/crm_leads.csv', header=true, all_varchar=true)
           GROUP BY ALL),
     w AS (SELECT store_id, CAST(dt AS DATE) AS dt, COUNT(*) AS sessions
           FROM read_json('{d}/web_events.json', format='newline_delimited',
                          columns={{store_id: 'VARCHAR', dt: 'VARCHAR'}})
           GROUP BY ALL)
SELECT store_id, dt, COALESCE(revenue, 0) AS revenue,
       COALESCE(order_count, 0) AS order_count,
       COALESCE(converted_leads, 0) AS converted_leads,
       COALESCE(sessions, 0) AS sessions
FROM o FULL OUTER JOIN l USING (store_id, dt) FULL OUTER JOIN w USING (store_id, dt)
"""


def fact_rows(rows):
    return {(s, str(dt)): (f"{rev:.2f}", int(oc), int(cl), int(se))
            for s, dt, rev, oc, cl, se in rows}


def check_pipeline(drops_dir, checks):
    """Replay every drop through the fact SQL in DuckDB with
    last-writer-wins on (store_id, dt), then check the final fact and
    every read. Returns (per read in run order: check passed, final fact
    ok, rows per drop, live fact rows)."""
    import duckdb
    con = duckdb.connect()
    snaps, per_drop, cur = [], [], {}
    for d in range(PIPELINE_DROPS):
        rows = con.execute(FACT_SQL.format(
            d=os.path.join(drops_dir, f"drop_{d:03d}"))).fetchall()
        upd = fact_rows(rows)
        per_drop.append(len(upd))
        cur = {**cur, **upd}
        snaps.append(cur)
    rows = con.execute(
        "SELECT store_id, dt, revenue, order_count, converted_leads, sessions "
        f"FROM read_parquet('{checks['final_fact']}/*.parquet')").fetchall()
    got = fact_rows(rows)
    final_ok = (len(rows) == len(got) and got == snaps[-1]
                and checks.get("steps_match", True))
    if not final_ok:
        log(f"final fact differs from the replay ({len(rows)} vs "
            f"{len(snaps[-1])} rows, steps_match={checks.get('steps_match')})")
    read_ok = []
    for cy in checks["cycles"]:
        vmap = {int(v): d for v, d in cy["versions"].items()}
        for rd in cy["reads"]:
            snap = snaps[vmap[rd["version"]]] if rd["version"] in vmap else None
            if snap is None:
                ok = False
            elif rd["kind"] == "point":
                ok = rd["rows"] == sum(1 for (s, _) in snap if s == rd["store"])
            elif rd["kind"] == "asof":
                ok = rd["resolved"] == rd["version"] and rd["rows"] == len(snap)
            else:
                ok = rd["rows"] == len(snap)
            if not ok:
                log(f"read check failed: {rd}")
            read_ok.append(ok)
    return read_ok, final_ok, per_drop, len(snaps[-1])


def run(args):
    root = os.getcwd()
    spec = WORKLOADS.get(args.workload)
    if spec is None:
        raise BenchError(f"unknown workload {args.workload}; "
                         f"have {', '.join(WORKLOADS)}")
    if not os.path.exists(os.path.join(root, "dev/check_oracle.py")):
        raise BenchError("run from the repository root (dev/check_oracle.py missing)")
    # BENCHMARK.json names the per-layer metrics a traced run reports;
    # a layer a workload does not exercise reads 0 there.
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec_file = json.load(fh)
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    cls = build(root, out)
    t_start = time.time()

    inputs = os.path.join(out, "inputs")
    n_drops = PIPELINE_DROPS if spec["inputs"] == "drops" else 0
    data = gen.cached(spec["inputs"], args.seed, inputs, n_drops)
    work = os.path.join(out, "runs", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    local = os.path.join(work, "spark-local")

    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    jvm_args = [f"workload={spec['kind']}", f"data={data}", f"work={work}",
                f"seconds={args.seconds}", f"trace={args.trace}",
                f"seed={args.seed}", f"cpus={cpus}",
                f"src={os.path.join(root, 'src/main/scala')}"]
    if spec["kind"] == "queries":
        jvm_args.append("queries=" + ",".join(spec["queries"]))
    else:
        jvm_args += [f"drops={PIPELINE_DROPS}", f"stores={gen.DROP_STORES}",
                     f"optimize_every={OPTIMIZE_EVERY}"]
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={local}",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
              "-cp", cls + os.pathsep + os.path.join(spark_jars(), "*"),
              "graftbench.Main"] + jvm_args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    load_before = load1()
    limit = RUN_LIMIT_S - (time.time() - t_start)
    r = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=limit)
    load_after = load1()
    if r.returncode != 0 or not os.path.exists(os.path.join(work, "record.json")):
        raise BenchError(f"benchmark JVM exited {r.returncode}:\n{r.stderr[-4000:]}")
    for line in r.stderr.splitlines():
        if "[graftbench]" in line:
            print(line, file=sys.stderr)
    with open(os.path.join(work, "record.json")) as fh:
        rec = json.load(fh)

    # Ops of every measured phase count as attempted; latencies come from
    # the untraced phase only.
    every = rec["samples"]
    samples = [s for s in every if s["phase"] == "untraced"]
    attempted = len(every)
    failed_ops = {i for i, s in enumerate(every) if not s["ok"]}
    checks = rec["checks"]
    extra = {}
    if spec["kind"] == "queries":
        bad = set(check_queries(root, data, checks["dump"], spec["queries"]))
        failed_ops |= {i for i, s in enumerate(every) if s["name"] in bad}
    else:
        read_ok, final_ok, per_drop, live_rows = check_pipeline(data, checks)
        if not final_ok:
            failed_ops |= {i for i, s in enumerate(every) if s["kind"] == "drop"}
        reads = [i for i, s in enumerate(every) if s["kind"] == "read"]
        failed_ops |= {i for i, ok in zip(reads, read_ok) if not ok}
        cy = [c for c in checks["cycles"] if not c["traced"]]
        last = cy[-1]
        # bytes of fact rows changed: rows each drop upserts, at the
        # live snapshot's bytes per row
        row_bytes = last["fact_live_bytes"] / max(1, live_rows)
        extra.update({
            "drop_p50_ms": pct([s["ms"] for s in samples if s["kind"] == "drop"], 0.5),
            "read_p50_ms": pct([s["ms"] for s in samples if s["kind"] == "read"], 0.5),
            "read_p90_ms": pct([s["ms"] for s in samples if s["kind"] == "read"], 0.9),
            "write_amp": statistics.median(c["bytes_written"] for c in cy)
            / (sum(per_drop) * row_bytes),
            "space_amp": statistics.median(c["bytes_on_disk"] / c["live_bytes"] for c in cy),
            "lake.versions": checks["fact_versions"],
            "lake.dirs_live": checks["fact_dirs_live"],
            "lake.read_files": checks["read_files"],
            "lake.bytes_written_mb": last["bytes_written"] / 2**20,
            "lake.bytes_on_disk_mb": last["bytes_on_disk"] / 2**20})
    failed = len(failed_ops)

    setup = [b + w for b, w in zip(rec["build_ms"], rec["warmup_ms"])]
    wall = statistics.median(rec["rounds_ms"]["untraced"]) / 1e3
    context = {"nproc": cpus, "load1_before": load_before, "load1_after": load_after,
               "jvm_gc_ms": rec["gc_ms"]["untraced"], "jvm_boot_ms": rec["boot_ms"],
               "setup_reps_ms": setup, "rounds": len(rec["rounds_ms"]["untraced"]),
               "ops": attempted, "inputs": os.path.basename(data)}
    log("context " + json.dumps(context))

    if args.trace == 0:
        metrics = {
            "setup_s": (statistics.median(setup) / 1e3, "s"),
            "wall_s": (wall, "s"),
            "op_gmean_ms": (gmean_of_medians(samples), "ms")}
    else:
        layers = dict(rec["layers"])
        layers.update(extra)
        traced_wall = statistics.median(rec["rounds_ms"]["traced"]) / 1e3
        layers.update({
            "session.build_ms": statistics.median(rec["build_ms"]),
            "session.warmup_ms": statistics.median(rec["warmup_ms"]),
            "op_p90_ms": pct([s["ms"] for s in samples], 0.9),
            "failed_frac": failed / attempted,
            "trace.overhead_s": traced_wall - wall,
            "jvm.gc_ms": rec["gc_ms"]["untraced"],
            "host.load1_before": load_before, "host.load1_after": load_after})
        metrics = {m["name"]: (float(layers.get(m["name"], 0.0)), m["unit"])
                   for m in spec_file["per_layer"]}
        report = [f"self time per layer, traced phase ({args.workload}, "
                  f"{len(rec['rounds_ms']['traced'])} rounds)",
                  f"{'span':<22}{'self ms':>12}{'calls':>8}"]
        report += [f"{s['span']:<22}{s['self_ms']:>12.1f}{s['count']:>8}"
                   for s in rec["self_times"]]
        report.append(f"tracing overhead: traced round {traced_wall:.3f}s - "
                      f"untraced round {wall:.3f}s = {traced_wall - wall:+.3f}s")
        with open(os.path.join(work, "report.txt"), "w") as fh:
            fh.write("\n".join(report) + "\n")
        print("\n".join(report), file=sys.stderr)

    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump({"context": context, "metrics": metrics}, fh)
    for d in ["dump", "final_fact", "tmp", "spark-local", "warehouse"] + [
            os.path.basename(p) for p in glob.glob(os.path.join(work, "*lake*"))]:
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    try:
        result = run(args)
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        log(f"error: {e}")
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
