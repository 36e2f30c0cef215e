#!/usr/bin/env python3
"""Engine benchmark: one workload, one fresh JVM, outputs checked against DuckDB.

Run from the repository root:

    python3 perfbench/run.py --workload medallion_read --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source when they changed (see
perfbench/build.sh), makes the workload's inputs from --seed, runs the
harness JVM, checks every output independently, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. --trace 0 gives the
end-to-end metrics of BENCHMARK.json, --trace 1 its per-layer metrics. A
`contention` line before it records the host's steal, co-tenant CPU and
load over the warm window; these are diagnostics, not metrics.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed for every run, so that runs compare: local[N] and shuffle
# partitions (both from SPARK_GRAFT_CPUS in GraftSession), heap, set-ups.
CPUS = 2
HEAP = "2g"
SETUPS = 3
JVM_TIMEOUT_S = 150
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]

# table_dml plan: rounds of seeded batches over orders (keys 0..149999)
ROUNDS = 12
BATCH = 500
BASE_KEYS = 150000
APPEND_KEY0, NEW_KEY0 = 1_000_000, 2_000_000
COMMITS = {"append", "merge", "update", "delete", "optimize_binpack",
           "optimize_zorder"}
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_key_s"]
MiB = 1048576.0


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def located(root, doc, pattern, what):
    """A path the repository declares in `doc` (first group of `pattern`)."""
    m = re.search(pattern, (root / doc).read_text() if (root / doc).is_file() else "",
                  re.M)
    if not m:
        fail(f"{doc} names no {what}")
    return m.group(1).rstrip("/")


def build(root, out, jars):
    """Compile when the sources differ from the last build in `out`."""
    h = hashlib.sha256()
    for d in ["src/main", "perfbench/src"]:
        for p in sorted((root / d).rglob("*")) if (root / d).is_dir() else []:
            if p.is_file():
                h.update(str(p.relative_to(root)).encode())
                h.update(p.read_bytes())
    h.update((root / "perfbench/build.sh").read_bytes())
    stamp, classes = out / "stamp", out / "classes"
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return classes
    stamp.unlink(missing_ok=True)  # an interrupted build leaves no stamp
    r = subprocess.run(["bash", "perfbench/build.sh", str(classes), jars],
                       cwd=root, stdout=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    stamp.write_text(h.hexdigest())
    return classes


def make_plan(seed, run):
    """Seeded DML rounds: batch files plus the parameters of each call."""
    rng = random.Random(seed)
    schema = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                        ("o_orderstatus", pa.string()),
                        ("o_totalprice", pa.int64()), ("o_key_s", pa.string())])

    def batch(name, keys):
        rows = {"o_orderkey": keys,
                "o_custkey": [rng.randrange(15000) for _ in keys],
                "o_orderstatus": [rng.choice("FOP") for _ in keys],
                "o_totalprice": [rng.randrange(1000, 500000) for _ in keys],
                "o_key_s": [str(k) for k in keys]}
        pq.write_table(pa.Table.from_pydict(rows, schema), run / name)
        return name

    rounds = []
    for r in range(ROUNDS):
        appended = [APPEND_KEY0 + q * 1000 + i
                    for q in range(r) for i in range(BATCH)]
        merge_keys = (rng.sample(range(BASE_KEYS), 200)
                      + (rng.sample(appended, 150) if appended else [])
                      + [NEW_KEY0 + r * 1000 + i for i in range(150)])
        lo_u, lo_d = rng.randrange(BASE_KEYS - 500), rng.randrange(BASE_KEYS - 500)
        lo_s = rng.randrange(BASE_KEYS - 1500)
        old = APPEND_KEY0 + (r - 1) * 1000  # first half of last round's append
        rounds.append({
            "append": batch(f"append_{r}.parquet",
                            [APPEND_KEY0 + r * 1000 + i for i in range(BATCH)]),
            "merge": batch(f"merge_{r}.parquet", merge_keys),
            "update": [lo_u, lo_u + 499, rng.randrange(1, 10)],
            "delete": [[lo_d, lo_d + 499], [old, old + 249]],
            "scan": [lo_s, lo_s + 1499],
            "bloom_key": str(rng.randrange(BASE_KEYS)),
            "back": rng.randrange(1, 5)})
    (run / "plan.json").write_text(json.dumps({"rounds": rounds}))
    return rounds


def run_jvm(classes, jars, data, workload, run, seconds, trace):
    for d in ["tmp", "spark-local"]:
        (run / d).mkdir()
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={run / 'tmp'}",
              f"-Dspark.local.dir={run / 'spark-local'}",
              "-cp", f"{classes}:{jars}/*", "perfbench.Main",
              "--workload", workload, "--data", data, "--run-dir", str(run),
              "--seconds", str(seconds), "--trace", str(trace),
              "--setups", str(SETUPS)])
    with open(run / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, cwd=run, env=env, stdout=log, stderr=log,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
    if r.returncode != 0 or not (run / "result.json").exists():
        sys.stderr.write((run / "jvm.log").read_text()[-4000:])
        fail(f"harness JVM exited with {r.returncode}")
    return json.loads((run / "result.json").read_text())


def load_norm(root):
    """`norm` of tools/check_oracle.py: the repository's value normalisation."""
    sys.dont_write_bytecode = True  # leave no __pycache__ in tools/
    spec = importlib.util.spec_from_file_location(
        "check_oracle", root / "tools/check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def check_queries(root, res, run, data):
    """Names of ops whose cold result differs from DuckDB on the oracle SQL."""
    norm = load_norm(root)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = set()
    for name in {r["name"] for r in res["records"]}:
        sql = res["oracle"].get(name)
        files = sorted((run / "cold" / name).glob("*.parquet"))
        if sql is None or not files:
            print(f"perfbench: {name}: no oracle SQL or no cold result",
                  file=sys.stderr)
            bad.add(name)
            continue
        got = con.execute("SELECT * FROM read_parquet(?)",
                          [[str(f) for f in files]])
        gcols, grows = [d[0] for d in got.description], got.fetchall()
        exp = con.execute(sql)
        ecols, erows = [d[0] for d in exp.description], exp.fetchall()

        def canon(cols, rows):
            idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
            return sorted((tuple(norm(r[i]) for i in idx) for r in rows),
                          key=lambda row: tuple(repr(v) for v in row))
        if (sorted(c.lower() for c in gcols) != sorted(c.lower() for c in ecols)
                or canon(gcols, grows) != canon(ecols, erows)):
            print(f"perfbench: {name}: differs from the DuckDB oracle",
                  file=sys.stderr)
            bad.add(name)
    return bad


def digest(con, table, where=""):
    """Row count and order-independent digest, as Digest.of in the harness."""
    sep = ", ".join(f"CAST({c} AS VARCHAR)" for c in COLS)
    return con.execute(
        f"SELECT count(*), md5(coalesce(string_agg(s, chr(10) ORDER BY s), '')) "
        f"FROM (SELECT concat_ws(chr(1), {sep}) AS s FROM {table} {where})"
    ).fetchone()


def check_table(res, rounds, run, data):
    """Replay the executed DML sequence in DuckDB; indices of records that
    disagree (a record after a failed commit cannot be checked and fails)."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cur AS SELECT o_orderkey, o_custkey, o_orderstatus, "
        "CAST(floor(o_totalprice) AS BIGINT) AS o_totalprice, "
        f"CAST(o_orderkey AS VARCHAR) AS o_key_s FROM '{data}/orders.parquet'")
    recs = res["records"]
    need = {res["final"]["version"]}
    for r in recs:
        need |= {r.get("asof"), r.get("from"), r.get("to")} - {None}
    v = res["base_version"]

    def snap():
        if v in need:
            con.execute(f"CREATE OR REPLACE TABLE s{v} AS SELECT * FROM cur")
    snap()
    bad, diverged = set(), False
    for i, r in enumerate(recs):
        if not r["ok"] or diverged:
            bad.add(i)
            diverged = diverged or r["name"] in COMMITS
            continue
        p = rounds[r["round"]]
        name = r["name"]
        if name in COMMITS:
            if name == "append" or name == "merge":
                con.execute(f"CREATE OR REPLACE TEMP VIEW src AS SELECT * FROM "
                            f"'{run / p[name]}'")
                if name == "merge":
                    con.execute("DELETE FROM cur WHERE o_orderkey IN "
                                "(SELECT o_orderkey FROM src)")
                con.execute("INSERT INTO cur SELECT * FROM src")
            elif name == "update":
                lo, hi, d = p["update"]
                con.execute(f"UPDATE cur SET o_totalprice = o_totalprice + {d}, "
                            f"o_orderstatus = 'U' WHERE o_orderkey BETWEEN {lo} AND {hi}")
            elif name == "delete":
                con.execute("DELETE FROM cur WHERE " + " OR ".join(
                    f"o_orderkey BETWEEN {lo} AND {hi}" for lo, hi in p["delete"]))
            # a bin-pack with fewer than two small files commits nothing
            ok = r["version"] == v + 1 or (name == "optimize_binpack"
                                           and r["version"] == v)
            v = r["version"]
            snap()
        elif name == "pruned_read":
            if "scan" in r:
                lo, hi = p["scan"]
                where = f"WHERE o_orderkey BETWEEN {lo} AND {hi}"
            else:
                where = f"WHERE o_key_s = '{p['bloom_key']}'"
            ok = list(digest(con, "cur", where)) == [r["rows"], r["digest"]]
        elif name == "asof_read":
            ok = list(digest(con, f"s{r['asof']}")) == [r["rows"], r["digest"]]
        elif name == "feed_read":
            a, b = f"s{r['from']}", f"s{r['to']}"
            ins, dele, upd = con.execute(
                f"SELECT (SELECT count(*) FROM {b} WHERE o_orderkey NOT IN "
                f"(SELECT o_orderkey FROM {a})), "
                f"(SELECT count(*) FROM {a} WHERE o_orderkey NOT IN "
                f"(SELECT o_orderkey FROM {b})), "
                f"(SELECT count(*) FROM {a} JOIN {b} USING (o_orderkey) WHERE "
                + " OR ".join(f"{a}.{c} IS DISTINCT FROM {b}.{c}" for c in COLS[1:])
                + ")").fetchone()
            exp = {"insert": ins, "delete": dele, "update_preimage": upd,
                   "update_postimage": upd}
            ok = r["counts"] == {k: n for k, n in exp.items() if n}
        else:
            ok = False
        if not ok:
            print(f"perfbench: record {i} ({name}, round {r['round']}) "
                  "differs from the DuckDB replay", file=sys.stderr)
            bad.add(i)
            diverged = diverged or name in COMMITS
    f = res["final"]
    if [f["version"], f["rows"], f["digest"]] != [v] + list(digest(con, "cur")):
        print("perfbench: final version differs from the DuckDB replay",
              file=sys.stderr)
        bad.add(len(recs) - 1)
    return bad


def du_mb(path):
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file()) / MiB


def contention(res):
    """Steal, co-tenant CPU and 1-minute load over the warm window."""
    tick = os.sysconf("SC_CLK_TCK")
    s, e = res["warm"]["start"], res["warm"]["end"]

    def cpu(x):
        f = [int(n) for n in x["proc_stat"].split()[1:]]
        return f[7], f[0] + f[1] + f[2] + f[5] + f[6]

    def self_ticks(x):
        f = x["self_stat"].rsplit(")", 1)[1].split()
        return int(f[11]) + int(f[12])
    (st0, b0), (st1, b1) = cpu(s), cpu(e)
    wall = res["warm"]["wall_s"]
    return {"steal_s": round((st1 - st0) / tick, 2),
            "cotenant_cpus": round(((b1 - b0) - (self_ticks(e) - self_ticks(s)))
                                   / tick / wall, 3),
            "load1": float(e["loadavg"].split()[0])}


def metrics(res, trace, run, names):
    recs = res["records"]
    warm = [r for r in recs if r["pass"] >= 1]
    n = len(warm)
    s, e = res["warm"]["start"], res["warm"]["end"]
    med = statistics.median
    if not trace:
        return {
            "setup_s": med(x["session_s"] + x["inputs_s"] for x in res["setups"]),
            "cold_pass_s": sum(r["dt"] for r in recs if r["pass"] == 0),
            "ops_per_s": n / res["warm"]["wall_s"],
            "op_p50_s": med(r["dt"] for r in warm),
            "cpu_s_per_op": (e["cpu_s"] - s["cpu_s"]) / n,
            "heap_live_mb": res["heap_live_mb"]}

    def per_op(key, rs=warm):
        return sum(r["trace"].get(key, 0.0) for r in rs) / max(1, len(rs))

    def median_dt(*kinds):
        ts = [r["dt"] for r in warm if r["name"] in kinds]
        return med(ts) if ts else 0.0
    first = [r for r in warm if r["pass"] == 1]
    commits = [r for r in first if r["name"] in COMMITS]
    pruned = [r for r in warm if r["name"] == "pruned_read"]
    m = {
        "session.first_s": res["setups"][0]["session_s"] + res["setups"][0]["inputs_s"],
        "session.start_s": med(x["session_s"] for x in res["setups"]),
        "session.inputs_s": med(x["inputs_s"] for x in res["setups"]),
        "catalyst.analysis_s": per_op("analysis_s"),
        "catalyst.optimization_s": per_op("optimization_s"),
        "catalyst.planning_s": per_op("planning_s"),
        "codegen.compiles_per_op": (e["compiles"] - s["compiles"]) / n,
        "jvm.jit_s": (e["jit_s"] - s["jit_s"]) / n,
        "jvm.gc_s": (e["gc_s"] - s["gc_s"]) / n,
        "scheduler.jobs_per_op": per_op("jobs", first),
        "scheduler.stages_per_op": per_op("stages", first),
        "scheduler.tasks_per_op": per_op("tasks", first),
        "scheduler.driver_gap_s": med(r["trace"]["gap_s"] for r in warm),
        "scheduler.task_cpu_s": per_op("task_cpu_s"),
        "scheduler.task_run_s": per_op("task_run_s"),
        "scheduler.shuffle_mb": per_op("shuffle_b") / MiB,
        "scheduler.input_mb": per_op("input_b") / MiB,
        "table.append_s": median_dt("append"),
        "table.merge_s": median_dt("merge"),
        "table.update_s": median_dt("update"),
        "table.delete_s": median_dt("delete"),
        "table.optimize_s": median_dt("optimize_binpack", "optimize_zorder"),
        "table.pruned_read_s": median_dt("pruned_read"),
        "table.feed_read_s": median_dt("feed_read"),
        "table.asof_read_s": median_dt("asof_read"),
        "table.jobs_per_commit":
            sum(r["trace"]["jobs"] for r in commits) / max(1, len(commits)),
        "table.files_per_commit": statistics.fmean(
            [r.get("files_added", 0) for r in commits] or [0]),
        "table.mb_per_commit": statistics.fmean(
            [r.get("bytes_added", 0) for r in commits] or [0]) / MiB,
        "table.files_read_per_pruned_read": statistics.fmean(
            [r["files_read"] for r in pruned] or [0]),
        "table.stored_mb": du_mb(res["root"]) if "root" in res else 0.0,
        "tmp.leaked_mb": du_mb(run / "tmp"),
    }
    for q in names:
        m[f"op.{q}_s"] = median_dt(q)
    return m


def main():
    # on SIGTERM, unwind: subprocess.run kills and reaps the JVM, and the
    # run directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = Path.cwd()
    bench = json.loads((root / "BENCHMARK.json").read_text())
    # the sf0.1 test tables and Spark's jars, where the repository says
    data = os.environ.get("PERFBENCH_DATA") or located(
        root, "TESTDATA.md", r"^\|\s*0\.1\s*\|\s*`([^`]+)`", "sf0.1 directory")
    jars = located(root, "build.sbt", r'^unmanagedBase := file\("([^"]+)"\)',
                   "Spark jar directory")
    if not os.path.isdir(data):
        fail(f"no input tables at {data} (set PERFBENCH_DATA)")
    out = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out.mkdir(parents=True, exist_ok=True)
    classes = build(root, out, jars)
    run = out / f"run-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    run.mkdir()
    try:
        t0 = time.monotonic()
        rounds = make_plan(a.seed, run) if a.workload == "table_dml" else None
        t1 = time.monotonic()
        res = run_jvm(classes, jars, data, a.workload, run, a.seconds, a.trace)
        t2 = time.monotonic()
        recs = res["records"]
        if rounds is None:
            bad_ops = check_queries(root, res, run, data)
            cold = {r["name"]: r.get("digest") for r in recs if r["pass"] == 0}
            bad = {i for i, r in enumerate(recs) if not r["ok"]
                   or r["name"] in bad_ops or r.get("digest") != cold[r["name"]]}
        else:
            bad = check_table(res, rounds, run, data)
        print(f"perfbench: inputs {t1 - t0:.1f} s, harness JVM {t2 - t1:.1f} s, "
              f"checks {time.monotonic() - t2:.1f} s", file=sys.stderr)
        names = sorted({r["name"] for r in recs if rounds is None})
        m = metrics(res, a.trace, run, names)
        if a.trace:  # the traced run's own end-to-end figures, for its overhead
            print("perfbench: traced end-to-end " + json.dumps(
                metrics(res, 0, run, names)), file=sys.stderr)
        print("contention " + json.dumps(contention(res)))
        units = {x["name"]: x["unit"] for x in
                 bench["per_layer" if a.trace else "end_to_end"]}
        listed = {k: {"value": m.get(k, 0.0), "unit": u} for k, u in units.items()}
        extra = {k: {"value": v, "unit": "s"} for k, v in m.items()
                 if k.startswith("op.") and k not in units}
        print(json.dumps({"correct": True, "attempted": len(recs),
                          "failed": len(bad), "metrics": {**listed, **extra}}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
