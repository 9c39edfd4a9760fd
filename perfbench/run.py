#!/usr/bin/env python3
"""graft benchmark: the river, the ES query surface and the pipeline.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload <river_ingest|es_query_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (cached under
$CARGO_TARGET_DIR, default .bench_build, until a source file changes),
runs one workload in a single JVM at local[nproc], checks its outputs and
prints every metric as `name value unit`. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. The full record (every operation, check and metric) is written to
<build>/results/<workload>-seed<n>-trace<t>.json; a traced run also writes
its spans next to it (.spans.jsonl).

The inputs are generated from the seed; nothing is read from outside the
checkout. See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
WORKLOADS = ("river_ingest", "es_query_mix")
RUN_LIMIT_S = 170  # one run (after the build) must end well inside 180 s
# Inputs per workload: (scale factor, events scale factor, tables).
INPUTS = {"river_ingest": (0.01, 0.1, ["events"]),
          "es_query_mix": (0.01, 0.01, None)}

# Spark 4 on JDK 17 outside spark-submit needs these (as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def source_stamp():
    """Hash of every file the build reads: the engine and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(bdir):
    """Compiles with sbt unless the cached classpath matches the sources."""
    stamp_file = os.path.join(bdir, "build.stamp")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"[perfbench] build failed (sbt exit {p.returncode})")
    cp = lines[-1]
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, input_dir, work, record, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap: no resizing during the run
        "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--input", input_dir, "--work", work, "--out", record]
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("[perfbench] the run exceeded its time limit")
    if rc != 0:
        raise SystemExit(f"[perfbench] the harness failed (exit {rc})")


# ---- output checks against the DuckDB oracle -------------------------------

def oracle_checks(rec, input_dir):
    """Each distinct query's Spark output against its DuckDB oracle SQL,
    with the repository's oracle gate (tools/check.py); rows-only queries
    (no oracle SQL) must be non-empty. Returns {query: (ok, detail)}."""
    import duckdb
    import pyarrow.parquet as pq
    from check import TABLES, compare, schema_diff, to_pandas_num
    check_dir = rec["check_dir"]
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t + '.parquet')}')")
    out = {}
    for q in sorted({o["name"] for o in rec["ops"]}):
        qdir = os.path.join(check_dir, q)
        if not os.path.isdir(qdir):
            out[q] = (False, "no Spark output")
            continue
        spark_t = pq.read_table(qdir)
        if q not in oracle:
            out[q] = (spark_t.num_rows > 0, f"rows-only, {spark_t.num_rows} rows")
            continue
        try:
            oracle_t = con.execute(oracle[q]).fetch_arrow_table()
        except Exception as e:  # an oracle error is a failed check
            out[q] = (False, f"oracle error: {e}")
            continue
        diff = schema_diff(spark_t, oracle_t) or \
            compare(q, to_pandas_num(spark_t), to_pandas_num(oracle_t))
        out[q] = (diff is None, diff or f"{spark_t.num_rows} rows")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] the engine sources (src/main/scala/graft) are missing")
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cp = build(bdir)

    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(bdir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = os.path.join(results, tag + ".json")
    if os.path.exists(record):
        os.remove(record)
    try:
        t0 = time.time()
        # the inputs, generated from the seed; harness work, not part of set-up
        input_dir = os.path.join(work, "input")
        sf, events_sf, names = INPUTS[args.workload]
        gen.write(input_dir, args.seed, sf, events_sf, names)
        run_jvm(cp, args, input_dir, work, record, RUN_LIMIT_S - 15 - (time.time() - t0))
        with open(record) as f:
            rec = json.load(f)

        # failed operations: a wrong or failed execution, any execution of a
        # query whose checked output is wrong, every river batch when the
        # final index disagrees with the oracle
        bad = set()
        checks = list(rec["checks"])
        if args.workload != "river_ingest":
            for q, (ok, detail) in oracle_checks(rec, input_dir).items():
                checks.append({"name": f"oracle {q}", "ok": ok, "detail": detail})
                if not ok:
                    bad.add(q)
        for c in checks:
            if not c["ok"]:
                log(f"check failed: {c['name']}: {c['detail']}")
                if c["name"].startswith("output "):
                    bad.add(c["name"][len("output "):])
                else:
                    bad.update(o["name"] for o in rec["ops"])
        ops = rec["ops"]
        failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
        attempted = len(ops)
        rec["checks"] = checks
        rec["attempted"], rec["failed"] = attempted, failed
        rec["correct"] = failed == 0 and all(c["ok"] for c in checks)
        rec["wall_s"] = time.time() - t0

        e2e_units, layer_units = metric_units()
        e2e = {k: {"value": rec["end_to_end"][k], "unit": u} for k, u in e2e_units.items()}
        # every listed per-layer metric; a layer the workload never enters
        # reads 0
        layers = {k: {"value": rec["per_layer"].get(k) or 0.0, "unit": u}
                  for k, u in layer_units.items()}
        shown = dict(e2e)
        shown.update(rec["workload_metrics"])
        shown["failed_ops_share"] = {"value": failed / max(1, attempted), "unit": "share"}
        if args.trace:
            shown.update(layers)
        for k, m in shown.items():
            print(f"{k} {m['value']!r} {m['unit']}")
        with open(record, "w") as f:
            json.dump(rec, f, indent=1)
        metrics = layers if args.trace else e2e
        print(json.dumps({"correct": rec["correct"], "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def metric_units():
    """{name: unit} of the end-to-end and the per-layer metrics, as
    BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


if __name__ == "__main__":
    main()
