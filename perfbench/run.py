#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded workload per run.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (`perfbench/build.sbt`) into `.bench_build/`. Each run makes its
inputs from the seed (`ingest`: generated NDJSON listens; `queries`: the
sf0.01 corpus in `perfbench/data/`, visited in an order shuffled from the
seed), starts one JVM on `local[nproc]`, sets up
(session, cold pass, warm-up), measures closed-loop passes for
`--seconds`, and checks every output: the query workloads against DuckDB
running the same query's oracle SQL over the same parquet, `ingest`
against the generator's expected counts. The last stdout line is the run's
JSON record; `--trace 1` reports the per-layer metrics and writes the
spans to `.bench_build/trace/`. Exit code 0 only when every check passed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# The engine's sf0.01 test corpus (TPC-H-ish star tables, events,
# documents, embeddings), read by the `queries` workload as it is.
CORPUS = os.path.join(HERE, "data", "sf0.01")
sys.path.insert(0, HERE)
import gen  # noqa: E402

RUN_LIMIT_S = 170

# Input shapes. `warm` is warm-up passes (ticks for ingest) after the cold
# pass; the timed window starts after them and runs at least `min_passes`
# whole passes. `queries` pass times keep falling by a few per cent a pass
# until about the eighth pass after the cold one; three warm passes are
# what a run of about 70 s affords. `ingest` ticks level off after two.
WORKLOADS = {
    "ingest": {"ticks": 12, "files": 4, "per_file": 300, "users": 40,
               "warm": 2, "min_passes": 2},
    "queries": {"warm": 3, "min_passes": 3},
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def host():
    """Launch settings derived from this host: every core the process may
    use, and a heap of a quarter of memory clamped to 2..6 GiB."""
    mem_kib = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    heap_gib = max(2, min(6, mem_kib // (4 * 1024 * 1024)))
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_gib": round(mem_kib / 1024 / 1024, 1),
            "heap_gib": heap_gib, "load1_start": os.getloadavg()[0]}


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def sources():
    paths = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            paths += [os.path.join(d, f) for f in fs]
    return sorted(paths + [os.path.join(HERE, "build.sbt"),
                           os.path.join(HERE, "project", "build.properties")])


def spark_home():
    """The Spark install whose jars the engine compiles and runs against:
    $SPARK_HOME, else the one holding `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("set SPARK_HOME to a Spark 4 install")
    return home


def build():
    """Compile engine + harness with sbt, offline, unless the sources are
    unchanged since the last build."""
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.isdir(classes):
        return classes
    log("building engine and harness with sbt")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               SPARK_HOME=spark_home())
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=850)
    if r.returncode != 0:
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def run_jvm(classes, wl, args, cfg, data, work, hs, deadline):
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(spark_home(), "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "record.json")
    cmd = (["java"] + ADD_OPENS + [
        f"-Xms{hs['heap_gib']}g", f"-Xmx{hs['heap_gib']}g",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.codegen.cache.maxEntries=5000",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", cp, "perfbench.Main",
        "--workload", wl, "--data", data, "--work", work,
        "--seconds", str(args.seconds), "--seed", str(args.seed),
        "--trace", str(args.trace), "--cores", str(hs["nproc"]),
        "--warm", str(cfg["warm"]), "--min-passes", str(cfg["min_passes"]),
        "--out", out])
    if wl == "ingest":
        cmd += ["--rows", str(cfg["files"] * cfg["per_file"]),
                "--copy-rows", str(cfg["per_file"])]
    logf = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    logf.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(out) as fh:
        return json.load(fh)


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def rows_digest(table, cols):
    rows = sorted(tuple(canon(c[i].as_py()) for c in table.select(cols).columns)
                  for i in range(table.num_rows))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def checksum(con, rel, cols):
    """[row count, order-insensitive multiset checksum] of a relation."""
    key = ", ".join(f"""coalesce(CAST("{c}" AS VARCHAR), '\\N')""" for c in cols)
    return list(con.execute(f"SELECT count(*), sum(hash(concat_ws('|', {key}))) "
                            f"FROM {rel}").fetchone())


def same_rows(con, sql, result, memo):
    """Order-insensitive equality of the oracle's rows and Spark's: sorted
    column names, row count, then a multiset checksum computed in DuckDB
    over both; a checksum difference is confirmed row by row, as
    tools/oracle_check.py compares values. The oracle's side depends only
    on the SQL and the fixed corpus, so it is memoized in `memo`."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW s AS SELECT * FROM "
                f"read_parquet('{result}/*.parquet')")
    scols = sorted(r[0] for r in con.execute("DESCRIBE s").fetchall())
    if sql not in memo:
        con.execute(f"CREATE OR REPLACE TEMP VIEW o AS SELECT * FROM ({sql})")
        cols = sorted(r[0] for r in con.execute("DESCRIBE o").fetchall())
        memo[sql] = [cols] + checksum(con, "o", cols)
    cols, rows, digest = memo[sql]
    if cols != scols:
        return False, f"columns oracle={cols} spark={scols}"
    got = checksum(con, "s", cols)
    if got == [rows, digest]:
        return True, ""
    if got[0] != rows:
        return False, f"rows oracle={rows} spark={got[0]}"
    o = con.execute(sql).fetch_arrow_table()
    sp = pq.read_table(result)
    return rows_digest(o, cols) == rows_digest(sp, cols), "values differ"


def check_queries(rec, data, work):
    """Every query's Spark output against DuckDB running its oracle SQL
    over the same parquet. The oracle's checksums are kept in
    `.bench_build/` keyed by the corpus's content, so later runs only
    checksum Spark's side. Returns the number of mismatches."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(data)):
        with open(os.path.join(data, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    memo_path = os.path.join(BUILD, f"oracle-{h.hexdigest()[:16]}.json")
    memo = json.load(open(memo_path)) if os.path.exists(memo_path) else {}
    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count()}")
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data, f)}'")
    bad = 0
    for q, sql in sorted(rec["oracle_sql"].items()):
        try:
            ok, why = same_rows(con, sql, os.path.join(work, "results", q), memo)
        except Exception as e:  # noqa: BLE001 — any failure is a mismatch
            ok, why = False, str(e)
        if not ok:
            bad += 1
            log(f"MISMATCH {q}: {why}")
    with open(memo_path, "w") as fh:
        json.dump(memo, fh)
    return bad


def check_scan(rec, data):
    """q01's scan bytes (file-scan SQL metric) must be at least the
    projected-column bytes of lineitem.parquet and at most the file."""
    sc = rec.get("scan_check")
    if not sc:
        return 1
    path = os.path.join(data, sc["table"] + ".parquet")
    md = pq.ParquetFile(path).metadata
    cols = set(sc["columns"])
    proj = sum(md.row_group(g).column(c).total_compressed_size
               for g in range(md.num_row_groups)
               for c in range(md.num_columns)
               if md.row_group(g).column(c).path_in_schema in cols)
    size = os.path.getsize(path)
    log(f"scan self-check q01: scan_mb={sc['scan_bytes'] / 2**20:.3f} "
        f"projected_mb={proj / 2**20:.3f} file_mb={size / 2**20:.3f}")
    return int(not (0 < proj <= sc["scan_bytes"] <= size))


def check_ingest(rec, expected):
    """Per tick: the first ledger tick processes exactly the new files, the
    second finds none, the renamed copy is ledgered but not processed.
    After the last tick: bronze, silver, gold, top-3 and stream rows equal
    the generator's counts. Returns (checks, failures)."""
    checks = fails = 0

    def expect(what, got, want):
        nonlocal checks, fails
        checks += 1
        if got != want:
            fails += 1
            log(f"MISMATCH {what}: got {got}, expected {want}")

    for t in rec["ticks"]:
        exp = expected[t["tick"]]
        expect(f"tick {t['tick']} new files", t["new"], exp["new_files"])
        expect(f"tick {t['tick']} second tick", t["again"], 0)
    c = rec["counts"]
    exp = expected[c["ticks"] - 1]
    for k in ("bronze_rows", "silver_rows", "gold_rows", "top3_rows", "stream_rows"):
        expect(k, c[k], exp[k])
    expect("ledger_rows", c["ledger_rows"],
           sum(e["new_files"] + e["renamed_copies"] for e in expected[:c["ticks"]]))
    return checks, fails


def step_medians(work):
    """Median seconds of each visit or tick step inside timed passes."""
    with open(os.path.join(work, "spans.json")) as fh:
        spans = json.load(fh)
    passes = {s["id"] for s in spans if s["name"].startswith("pass")}
    by = {}
    for s in spans:
        if s["parent"] in passes:
            by.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
    return {k: round(statistics.median(v), 3) for k, v in sorted(by.items())}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no engine sources next to perfbench/; run from a checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wl, cfg = args.workload, WORKLOADS[args.workload]
    classes = build()

    hs = host()
    cpu0 = cpu_times()
    t0 = time.time()
    deadline = t0 + RUN_LIMIT_S
    run_dir = os.path.join(BUILD, "run", f"{wl}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work)
    if wl == "ingest":
        expected = gen.listens(os.path.join(data, "listens"), args.seed,
                               cfg["ticks"], cfg["files"], cfg["per_file"],
                               cfg["users"])
    else:
        shutil.copytree(CORPUS, data)
    t_gen = time.time()
    rec = run_jvm(classes, wl, args, cfg, data, work, hs, deadline)
    t_jvm = time.time()
    log(f"gen {t_gen - t0:.1f}s jvm {t_jvm - t_gen:.1f}s "
        f"jvm phases {json.dumps(rec['phases_s'])}")

    attempted, failed = rec["attempted"], rec["failed"]
    if wl == "ingest":
        n, bad = check_ingest(rec, expected)
        attempted, failed = attempted + n, failed + bad
    else:
        failed += check_queries(rec, data, work)
        if args.trace:
            attempted += 1
            failed += check_scan(rec, data)
    log(f"check {time.time() - t_jvm:.1f}s; passes "
        + " ".join(f"{x:.2f}" for x in rec["pass_s"]))
    log("window medians " + json.dumps(step_medians(work)))
    hs["load1_end"] = os.getloadavg()[0]
    cpu1 = cpu_times()
    hs["steal_pct"] = round(100 * (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), 2)

    layer = rec["layer"]
    ops = rec["op_s"]
    e2e = {
        "setup_s": rec["setup_end_ms"] / 1000 - t0,
        "pass_s": statistics.median(rec["pass_s"]),
        "op_s.p50": statistics.median(ops),
        "op_s.p90": statistics.quantiles(ops, n=10, method="inclusive")[-1],
        "live_heap_mib": rec["live_heap_mib"],
    }
    print("host " + json.dumps(hs))
    if wl == "ingest":
        print("inputs " + json.dumps({k: cfg[k] for k in ("files", "per_file", "users")}))
    else:
        print("inputs " + json.dumps({
            f[:-8]: pq.ParquetFile(os.path.join(data, f)).metadata.num_rows
            for f in sorted(os.listdir(data))}))
    extra = {"rss_peak_mib": (rec["rss_peak_mib"], "MiB"),
             "failed_ratio": (failed / attempted, "ratio"),
             "passes": (len(rec["pass_s"]), "count"),
             "ops": (len(ops), "count")}
    if wl == "ingest":
        extra.update({
            "ingest_rows_per_s": (layer.get("ingest.rows_per_s", 0.0), "1/s"),
            "stream_rows_per_s": (layer.get("streaming.rows_per_s", 0.0), "1/s"),
            "refresh_s": (layer.get("ingest.refresh_s", 0.0), "s")})
        if args.trace:
            extra["bronze_bytes_per_input_byte"] = (
                layer.get("ingest.bronze_bytes_per_input_byte", 0.0), "ratio")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in e2e.items():
        print(f"{k:32s} {v:14.4f} {units[k]}")
    for k, (v, u) in extra.items():
        print(f"{k:32s} {v:14.4f} {u}")
    if args.trace:
        print(f"{'trace.overhead_pct':32s} {layer.get('trace.overhead_pct', 0.0):14.2f} %")
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(BUILD, "trace", f"{wl}-{args.seed}.spans.json"))
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
