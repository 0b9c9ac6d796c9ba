#!/usr/bin/env python3
"""graft benchmark: one run of one workload, end to end or traced.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                           [--save FILE]

Run from the root of a graft checkout. The first run builds graft and the
harness (`perfbench/harness`, an sbt build of its own) and caches the
classpath under `.bench_build/perfbench`; later runs reuse it while the
sources are unchanged.

Each run starts from the same state: every `/tmp/graft_*` artifact and the
workload's output directory are removed, and the work runs in a fresh JVM
(`perfbench.Harness`); `setup_s` is the median of three such set-ups, two of
which only build the session. The seed draws the order of the workload's members
(and, for `etl_daily`, the first day); the draw is printed. Before each
visit of a `warehouse_dml` member its own warehouse fixtures (spec.json
`reset`) are removed, untimed, so that every operation runs its DML again.

`--trace 0` prints every end-to-end metric of BENCHMARK.json, `--trace 1`
every per-layer metric. The lines before the last describe the run for a
reader (the draw, the output check, failed operations, the tail percentile,
the heaviest operations, the count-fold audit); the last line is one JSON
object {"correct", "attempted", "failed", "metrics"}. `--save FILE` appends
the full reduced run as one JSON line, the input of `perfbench/compare.py`.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
SPEC = json.loads((HERE / "spec.json").read_text())
EXPECTED = HERE / "expected" / "sf0.1.json"

JVM_TIMEOUT_S = 150   # one harness JVM
BUILD_TIMEOUT_S = 700
SETUPS = 3            # setup_s is the median of this many set-ups
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Units of the end-to-end metrics that BENCHMARK.json does not gate
UNITS = {"latency_tail_s": "s", "rss_peak_mb": "MB", "rows_per_s": "rows/s",
         "stored_bytes_per_row": "B/row"}
# Operations injected by the benchmark's own tests: one throws, one returns
# a result that does not match its expected digest.
INJECTED = {"inject_throw": None,
            "inject_wrong": {"rows": 5, "digest": "0"}}


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def build_inputs():
    files = [ROOT / "build.sbt"]
    for d in (ROOT / "project", ROOT / "src" / "main", HERE / "harness"):
        files += [p for p in d.rglob("*") if p.is_file()
                  and "target" not in p.relative_to(d).parts]
    return sorted(files)


def build():
    """Compiles graft and the harness once per source state; returns the
    path of the JVM argument file holding the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise BenchError(f"no graft sources at {ROOT}")
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = BUILD / "build.stamp"
    argfile = BUILD / "classpath.args"
    if stamp.is_file() and argfile.is_file() and stamp.read_text() == h.hexdigest():
        return argfile
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export harness/Runtime/fullClasspath"],
            cwd=HERE / "harness", env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    lines = log.read_text().strip().splitlines()
    if rc != 0 or not lines or "scala-library" not in lines[-1]:
        raise BenchError(f"build failed (sbt exit {rc}); see {log}")
    argfile.write_text("-cp " + lines[-1].strip() + "\n")
    stamp.write_text(h.hexdigest())
    return argfile


# ---------------------------------------------------------------- runs

def driver_mem():
    """The Tier-1 driver memory: half the host's memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def remove(path):
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        os.remove(path)


def clean(work):
    """Removes every graft fixture and what a harness JVM wrote in `work`."""
    for p in glob.glob("/tmp/graft_*"):
        remove(p)
    for d in ("out", "warehouse", "spark-local", "tmp"):
        remove(work / d)


def prepare(work):
    """The start state of every run and every set-up."""
    clean(work)
    (work / "tmp").mkdir(parents=True)


def java(argfile, work):
    """The JVM command line of graft's mains, configured as graft.Bench runs
    them, and its environment."""
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Xmx{driver_mem()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"@{argfile}"]
    return cmd, dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"),
                     SPARK_GRAFT_CPUS=str(os.cpu_count()))


def launch(argfile, work, plan):
    """Starts one harness JVM on `plan` and returns (launch time, result)."""
    t0 = time.time()
    prepare(work)
    plan = dict(plan, cpus=os.cpu_count(), sf_dir=SPEC["data"],
                out_dir=work / "out", warehouse_dir=work / "warehouse",
                result=work / "result.json")
    remove(work / "result.json")
    (work / "plan.txt").write_text("".join(f"{k}={v}\n" for k, v in plan.items()))
    cmd, env = java(argfile, work)
    cmd += ["perfbench.Harness", str(work / "plan.txt")]
    with open(work / "jvm.log", "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness JVM exceeded {JVM_TIMEOUT_S} s; see {work / 'jvm.log'}")
    if rc != 0 or not (work / "result.json").is_file():
        raise BenchError(f"harness JVM exit {rc}; see {work / 'jvm.log'}")
    return t0, json.loads((work / "result.json").read_text())


def draw(workload, seed, inject):
    """The seeded inputs of one run."""
    spec = SPEC["workloads"][workload]
    rng = random.Random(seed)
    if workload == "etl_daily":
        lo, hi = (datetime.date.fromisoformat(d) for d in spec["first_day_range"])
        day = lo + datetime.timedelta(days=rng.randrange((hi - lo).days + 1))
        return {"first_day": day.isoformat(), "members": ""}
    members = list(spec["members"])
    if inject:
        members = members[:1] + list(INJECTED)
    rng.shuffle(members)
    reset = ";".join(f"{m}:{'|'.join(spec['reset'][m])}" for m in members
                     if m in spec.get("reset", {}))
    return {"members": ",".join(members), "reset": reset}


# ---------------------------------------------------------------- reduce

def du(paths):
    files = size = 0
    for top in paths:
        for d, _, names in os.walk(top):
            for n in names:
                p = os.path.join(d, n)
                if not os.path.islink(p):
                    files += 1
                    size += os.path.getsize(p)
    return files, size


def warehouse_tables(paths):
    """(generations, data files) over every graft-warehouse table below
    `paths`, read from disk: a table is a directory holding `_manifest`."""
    gens = files = 0
    for top in paths:
        for d, dirs, _ in os.walk(top):
            if "_manifest" in dirs:
                gens += sum(1 for n in os.listdir(os.path.join(d, "_manifest"))
                            if n.startswith("manifest-"))
                files += du([os.path.join(d, "data")])[0]
    return gens, files


def etl_expected(first_day, days):
    """Row counts the load must produce, computed by DuckDB from the source
    slices [first_day, first_day + days)."""
    import duckdb
    start = datetime.date.fromisoformat(first_day)
    end = start + datetime.timedelta(days=days)
    con = duckdb.connect()
    for t in ("lineitem", "part", "supplier", "nation", "region", "orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SPEC['data']}/{t}.parquet')")

    def norm(c):
        return f"lower(trim(coalesce(CAST({c} AS VARCHAR), '')))"
    con.execute(f"""CREATE VIEW li AS SELECT * FROM lineitem
        JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        WHERE l_shipdate >= TIMESTAMP '{start}' AND l_shipdate < TIMESTAMP '{end}'""")
    con.execute(f"""CREATE VIEW od AS SELECT * FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate >= TIMESTAMP '{start}' AND o_orderdate < TIMESTAMP '{end}'""")

    def one(sql):
        return con.sql(sql).fetchone()[0]

    def distinct(view, cols):
        return one(f"SELECT count(*) FROM (SELECT DISTINCT {', '.join(norm(c) for c in cols)} FROM {view})")
    # the date and time dims are re-appended by every slice (Pipeline.run)
    n_date = one("SELECT datediff('day', DATE '2020-01-01', DATE '2026-12-31') + 1")
    li, od = one("SELECT count(*) FROM li"), one("SELECT count(*) FROM od")
    return {
        "dim_date": n_date * days, "dim_time": 1440 * days,
        "dim_part": distinct("li", ["p_brand", "p_type"]),
        "dim_supplier": distinct("li", ["s_name"]),
        "dim_nation": distinct("li", ["n_name", "r_name"]),
        "dim_priority": distinct("od", ["o_orderpriority", "o_orderstatus"]),
        "dim_segment": distinct("od", ["c_mktsegment"]),
        "fact_lineitem": li, "fact_orders": od, "fact_integrated": li + od,
    }


def check_outputs(workload, res, expected):
    """The output check. Query workloads: each operation's row count and
    digest against `expected`; a failing operation gets a `check` reason.
    Returns {name: reason} of what failed."""
    bad = {}
    if workload == "etl_daily":
        etl = res["etl"]
        want = etl_expected(etl["first_day"], etl["days"])
        for t, n in want.items():
            if etl["rows"].get(t) != n:
                bad[f"table {t}"] = f"{etl['rows'].get(t)} rows, DuckDB counts {n}"
        for k, n in etl["missing_keys"].items():
            if n:
                bad[f"keys {k}"] = f"{n} fact keys missing from their dim"
        for t, n in etl["duplicate_natural_keys"].items():
            if n:
                bad[f"natural keys {t}"] = f"{n} duplicate natural keys"
        return bad
    for o in measured(res):
        want = expected.get(o["name"])
        if o["error"]:
            continue  # counted as failed by reduce_run
        if o.get("check_error"):
            o["check"] = f"digest threw {o['check_error']}"
        elif want is None:
            o["check"] = "no expected value"
        else:
            got = {k: o.get(k) for k in ("rows", "digest")}
            if got != want:
                o["check"] = "output differs in " + ", ".join(k for k in got if got[k] != want[k])
        if o.get("check"):
            bad.setdefault(o["name"], o["check"])
    return bad


def measured(res):
    """The timed operations of a run (the cold, warm-up and steady passes)."""
    return [o for o in res["ops"] if o["phase"] in ("cold", "warmup", "steady")]


def tail(samples):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, n), or (None, None, n) when fewer than 11 samples
    or the value does not lie above the median (not applicable)."""
    s = sorted(samples)
    n = len(s)
    if n >= 11 and s[n - 11] > statistics.median(s):
        return s[n - 11], 100.0 * (n - 10) / n, n
    return None, None, n


def med(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def reduce_run(workload, res, setup_s, check_bad):
    """Reduces one harness result to the end-to-end and per-layer metrics."""
    etl = workload == "etl_daily"
    ops = measured(res)
    # an etl_daily check covers the whole load, so a failure fails every slice
    failed_ops = [o for o in ops if o["error"] or o.get("check") or (etl and check_bad)]
    ok = [o for o in ops if o not in failed_ops]
    cold = [o for o in ops if o["phase"] == "cold"]
    steady = [o for o in ok if o["phase"] == "steady"]
    samples = [o["wall_s"] for o in steady]
    steady_wall = res["steady_wall_s"]
    tail_v, tail_p, tail_n = tail(samples)
    by_member = {}
    for o in steady:
        by_member.setdefault(o["name"], []).append(o["wall_s"])
    e2e = {
        "setup_s": setup_s,
        "cold_s": sum(o["wall_s"] for o in cold),
        # etl_daily: every slice is another day, so all slices are one kind.
        # Query workloads: each member's median, combined by their geometric
        # mean; the members' latencies form separate clusters, and a median
        # over the pooled samples (or over the members) falls between two
        "latency_p50_s": med(samples) if etl else geomean([med(v) for v in by_member.values()]),
        "latency_tail_s": tail_v,
        "ops_per_s": len(steady) / steady_wall if steady_wall else 0.0,
        "rss_peak_mb": res["rss_peak_mb"],
        # etl_daily only: fact rows loaded per steady second, bytes stored per fact row
        "rows_per_s": sum(o["rows"] for o in steady) / steady_wall if etl and steady_wall else None,
        "stored_bytes_per_row":
            du([res["out_dir"]])[1] / max(1, sum(o["rows"] for o in ok)) if etl else None,
    }
    return {
        "e2e": e2e, "attempted": len(ops), "failed": len(failed_ops),
        "failed_ops": sorted({o["name"] for o in failed_ops}),
        "errors": {o["name"]: o["error"] or o.get("check") for o in failed_ops
                   if o["error"] or o.get("check")},
        "check_failures": check_bad, "tail": {"percentile": tail_p, "n": tail_n},
        "samples": [[o["name"], o["wall_s"]] for o in steady],
    }


def reduce_trace(workload, res):
    """Per-layer metrics: per steady pass (one slice for etl_daily), the
    median over the traced passes; run-level ones at the end of the run."""
    etl = workload == "etl_daily"
    ops = res["ops"]
    traced = {p["pass"] for p in res["passes"] if p["traced"] and p["pass"] > 0}
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"] and p["pass"] > 0]
    by_pass = {}
    for o in ops:
        if o["phase"] == "steady" and o["pass"] in traced:
            by_pass.setdefault(o["pass"], []).append(o)

    def per_pass(f):
        return med([sum(f(o) for o in os_) for os_ in by_pass.values()])

    def g(k):
        return lambda o: o.get(k, 0.0)
    steady_med = {}
    for o in ops:
        if o["phase"] == "steady" and not o["error"]:
            steady_med.setdefault(o["name"], []).append(o["wall_s"])
    fixture_build = sum((o["wall_s"] - med(steady_med.get(o["name"], [o["wall_s"]]))
                         for o in ops if o["phase"] == "cold" and o["created"]), 0.0)
    tasks = sum(o.get("tasks", 0) for p in by_pass.values() for o in p)
    empty = sum(o.get("empty_tasks", 0) for p in by_pass.values() for o in p)
    targets = [res["out_dir"]] if etl else glob.glob("/tmp/graft_*")
    files, size = du(targets)
    slices = sum(1 for o in ops if o["phase"] in ("cold", "steady"))
    gens, data_files = warehouse_tables(targets)
    traced_walls = [p["wall_s"] for p in res["passes"] if p["pass"] in traced]
    layer = {
        "queries.build_s": 0.0 if etl else per_pass(g("build_s")),
        "queries.build_jobs": 0.0 if etl else per_pass(g("build_jobs")),
        "queries.exec_s": 0.0 if etl else per_pass(lambda o: o["wall_s"] - o["build_s"]),
        "plans.analysis_s": per_pass(g("analysis_s")),
        "plans.optimization_s": per_pass(g("optimization_s")),
        "plans.planning_s": per_pass(g("planning_s")),
        "exec.jobs": per_pass(g("jobs")),
        "exec.stages": per_pass(g("stages")),
        "exec.tasks": per_pass(g("tasks")),
        "exec.driver_gap_s": per_pass(lambda o: o["wall_s"] - o.get("job_union_s", 0.0)),
        "exec.task_s": per_pass(g("task_s")),
        "exec.cpu_s": per_pass(g("cpu_s")),
        "exec.gc_s": per_pass(g("gc_s")),
        "exec.shuffle_write_mb": per_pass(g("shuffle_write_b")) / 1e6,
        "exec.shuffle_read_mb": per_pass(g("shuffle_read_b")) / 1e6,
        "exec.spill_mb": per_pass(g("spill_b")) / 1e6,
        "exec.input_mb": per_pass(g("input_b")) / 1e6,
        "exec.empty_task_frac": empty / tasks if tasks else 0.0,
        "core.fixture_build_s": fixture_build,
        "core.fixture_mb": du(glob.glob("/tmp/graft_*"))[1] / 1e6,
        "pipeline.slice_s": per_pass(g("wall_s")) if etl else 0.0,
        "pipeline.executions": per_pass(g("executions")) if etl else 0.0,
        "pipeline.driver_s": per_pass(lambda o: o["wall_s"] - o.get("sql_union_s", 0.0))
        if etl else 0.0,
        "io.write_s": per_pass(g("write_s")),
        "io.files_written": files / slices if etl else float(files),
        "io.bytes_written": size / slices if etl else float(size),
        "sources.commit_s": per_pass(g("commit_s")),
        "sources.generations": float(gens),
        "sources.data_files": float(data_files),
        "streaming.batches": per_pass(g("stream_batches")),
        "streaming.batch_s": per_pass(g("stream_batch_s")),
        "streaming.add_batch_s": per_pass(g("stream_add_batch_s")),
        "trace.overhead_frac": med(traced_walls) / med(untraced) - 1 if untraced else 0.0,
    }
    heaviest = sorted(steady_med, key=lambda n: -med(steady_med[n]))[:10]
    rows = []
    for n in heaviest:
        mine = [o for p in by_pass.values() for o in p if o["name"] == n]
        if mine:
            o = mine[0]
            rows.append({"name": n, "wall_s": o["wall_s"], "build_s": o["build_s"],
                         "jobs": o.get("jobs", 0), "tasks": o.get("tasks", 0),
                         "task_s": o.get("task_s", 0.0),
                         "shuffle_mb": (o.get("shuffle_write_b", 0) + o.get("shuffle_read_b", 0)) / 1e6,
                         "driver_gap_s": o["wall_s"] - o.get("job_union_s", 0.0)})
    fold = []
    if not etl:
        for name in sorted({o["name"] for p in by_pass.values() for o in p}):
            noop = [o for p in by_pass.values() for o in p if o["name"] == name]
            cnt = [o for o in ops if o["phase"] == "count" and o["name"] == name
                   and o["pass"] in traced and not o["error"]]
            if not cnt:
                continue
            nj = med([o.get("exec_jobs", 0) for o in noop])
            nt = med([o.get("exec_task_s", 0.0) for o in noop])
            cj = med([o.get("exec_jobs", 0) for o in cnt])
            ct = med([o.get("exec_task_s", 0.0) for o in cnt])
            if cj < nj or ct < 0.5 * nt - 0.02:
                fold.append({"name": name, "count_jobs": cj, "noop_jobs": nj,
                             "count_task_s": round(ct, 4), "noop_task_s": round(nt, 4)})
    return layer, rows, fold


def metric_block(values, specs):
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}


def main(argv=None):
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="append the full reduced run to this JSON-lines file")
    ap.add_argument("--inject", action="store_true",
                    help="replace the members by one real query and two failing "
                         "operations (for the benchmark's own tests)")
    a = ap.parse_args(argv)
    if not Path(SPEC["data"]).is_dir():
        raise BenchError(f"test data {SPEC['data']} is missing")
    argfile = build()
    work = BUILD / "work" / a.workload
    plan = dict(draw(a.workload, a.seed, a.inject), workload=a.workload,
                seconds=a.seconds, trace=a.trace, first_traced=a.seed % 2)
    try:
        # the extra set-ups only build the session; the last is the run's own
        setups = []
        for mode in ["setup"] * (SETUPS - 1) + ["run"]:
            t0, res = launch(argfile, work, dict(plan, mode=mode))
            setups.append(res["ready_ms"] / 1e3 - t0)
        setup_s = med(setups)
        res["out_dir"] = str(work / "out")
        expected = json.loads(EXPECTED.read_text())
        expected.update({k: v for k, v in INJECTED.items() if v})
        check_bad = check_outputs(a.workload, res, expected)
        run = reduce_run(a.workload, res, setup_s, check_bad)
        layers = reduce_trace(a.workload, res) if a.trace else None
    finally:
        clean(work)

    draw_txt = (f"first_day={plan['first_day']} slices={res['etl']['days']}"
                if a.workload == "etl_daily" else f"order={plan['members']}")
    print(f"# workload={a.workload} seed={a.seed} trace={a.trace} {draw_txt}")
    if a.workload == "etl_daily":
        n_checked, n_bad = len(res["etl"]["rows"]), len(check_bad)
        what = "loaded tables"
    else:
        digested = [o for o in measured(res) if not o["error"]]
        n_checked, n_bad = len(digested), sum(1 for o in digested if o.get("check"))
        what = "operation outputs"
    print(f"# output check: {n_checked - n_bad}/{n_checked} {what} pass"
          + "".join(f"\n#   FAIL {k}: {v}" for k, v in sorted(check_bad.items())))
    print(f"# failed_frac = {run['failed'] / run['attempted']:.4f} ratio "
          f"({run['failed']}/{run['attempted']}) failed ops: {run['failed_ops'] or 'none'}")
    for k, v in sorted(run["errors"].items()):
        print(f"#   {k}: {v}")
    out = {"correct": not check_bad and run["failed"] == 0,
           "attempted": run["attempted"], "failed": run["failed"]}
    full = dict(out, workload=a.workload, seed=a.seed, trace=a.trace, draw=plan,
                setups=setups, **run)
    if a.trace:
        layer, heavy, fold = layers
        for h in heavy:
            print("# heavy " + json.dumps(h))
        if a.workload == "etl_daily":
            print("# count-fold audit: not applicable, etl_daily runs no query operations")
        else:
            print(f"# count-fold audit: {len(fold)} operations where count() does less work"
                  + "".join("\n#   " + json.dumps(f) for f in fold))
        out["metrics"] = metric_block(layer, bench["per_layer"])
        full.update(layer=layer, heaviest=heavy, count_fold=fold)
    else:
        gated = {m["name"] for m in bench["end_to_end"]}
        units = dict(UNITS, **{m["name"]: m["unit"] for m in bench["end_to_end"]})
        for k, v in run["e2e"].items():
            if k == "latency_tail_s":
                t = run["tail"]
                note = (f"p{t['percentile']:.1f} of n={t['n']} steady samples" if v is not None
                        else f"n={t['n']} steady samples; it needs at least 11 "
                             "and a value above the median")
            else:
                note = "etl_daily only" if v is None else ""
            if k not in gated:
                note = ", ".join(x for x in (note, "reported, not gated") if x)
            val = "n/a" if v is None else f"{v:.6g} {units[k]}"
            print(f"# {k} = {val}" + (f"  ({note})" if note else ""))
        out["metrics"] = metric_block(run["e2e"], bench["end_to_end"])
    if a.save:
        with open(a.save, "a") as f:
            f.write(json.dumps(full) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
