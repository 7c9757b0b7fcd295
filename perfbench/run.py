#!/usr/bin/env python3
"""The repo benchmark: one workload per run, in its own JVM.

    python3 perfbench/run.py --workload <pipeline_tick|query_tail|all>
                             --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt, on top of the
root build); later runs reuse the build while the sources are
unchanged. Inputs come from the seed; every output is checked (the
engine's DuckDB oracle gate tools/check_oracle.py for queries, the dbt
model SQL for the mart, row and snapshot counts, Checks rows). The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones from a traced window that repeats the
untraced window's operations. A wrong output exits 1.

Extra flags, for the benchmark's own test and for local use:
  --sf X / --depth N   shrink the inputs (query scale factor, pipeline history)
  --plant-wrong 1      corrupt one checked output on purpose
  --selftest 1         listener cross-attribution check (query_tail)
  --record FILE        append this run's result line to FILE (see compare.py)
"""
import argparse
import contextlib
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUN_LIMIT_S = 170
WORKLOADS = ("pipeline_tick", "query_tail")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt unless the sources match the last build."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(BUILD, exist_ok=True)
    log("building the engine and the benchmark with sbt")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ".jar" in l and "[" not in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return lines[-1].strip()


# ------------------------------------------------------------------ run

def stop_jvm(proc):
    os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()


def run_jvm(classpath, args, work, heap, deadline):
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java", f"-Xmx{heap}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        # a terminated benchmark takes its JVM down with it
        signal.signal(signal.SIGTERM, lambda *_: (stop_jvm(proc), sys.exit(143)))
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop_jvm(proc)
            rc = "timeout"
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
    if rc != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(os.path.join(work, "out", "result.json")) as f:
        return json.load(f)


# ---------------------------------------------------------- correctness

def check_queries(res, work):
    """The registry's DuckDB oracle SQL over the same input, through the
    engine's own oracle gate (tools/check_oracle.py) on the dumps and
    oracle_sql.json the JVM wrote."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    with contextlib.redirect_stdout(sys.stderr):
        rc = check_oracle.main(res["verify"]["data_dir"], os.path.join(work, "out", "dumps"))
    return ["query outputs differ from the DuckDB oracle (FAIL lines above)"] if rc else []


def close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def check_pipeline(res, work):
    """The mart against DuckDB running the dbt model SQL over the raw
    table's data files, plus the lake's snapshot and row counts."""
    import duckdb
    v = res["verify"]
    errors = []
    if v["snapshots"] != v["committed"]:
        errors.append(f"raw snapshots {v['snapshots']} != committed ticks {v['committed']}")
    if v["raw_rows"] != v["fetched_rows"]:
        errors.append(f"raw rows {v['raw_rows']} != fetched rows {v['fetched_rows']}")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # Spark SQL's DATE(ts) is a cast in DuckDB
    con.execute("CREATE MACRO date(x) AS CAST(x AS DATE)")
    files = [f[len("file:"):] if f.startswith("file:") else f for f in v["raw_files"]]
    con.execute(f"CREATE VIEW bitcoin_prices AS SELECT * FROM read_parquet({files!r})")
    con.execute(f"CREATE VIEW stg_bitcoin_prices AS {v['staging_sql']}")
    cols = ["extraction_date", "data_source", "crypto_symbol", "min_price_usd",
            "max_price_usd", "avg_price_usd", "records"]
    order = ", ".join(cols[:3])
    want = con.execute(f"SELECT {', '.join(cols)} FROM ({v['mart_sql']}) ORDER BY {order}").fetchall()
    mart = os.path.join(work, "out", "mart", "*.parquet")
    got = con.execute(f"SELECT {', '.join(cols)} FROM read_parquet('{mart}') ORDER BY {order}").fetchall()
    if len(want) != len(got) or not all(
            all(close(a, b) for a, b in zip(w, g)) for w, g in zip(want, got)):
        errors.append(f"mart ({len(got)} rows) differs from the dbt model SQL ({len(want)} rows)")
    return errors


# -------------------------------------------------------------- metrics

def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def primary(workload):
    return "tick" if workload == "pipeline_tick" else "query"


def throughput(res):
    """Loop iterations per second of loop time (closed loop, untraced)."""
    cyc = [c["seconds"] for c in res["cycles"] if not c["traced"]]
    return len(cyc) / sum(cyc) if cyc else 0.0


def read_passes(ops, workload):
    """Seconds of each read pass: the six ad-hoc reads after a tick,
    together, or one query."""
    kind = "adhoc" if workload == "pipeline_tick" else "query"
    acc = {}
    for o in ops:
        if o["kind"] == kind and o["ok"]:
            acc[o["id"]] = acc.get(o["id"], 0.0) + o["seconds"]
    return list(acc.values())


def end_to_end(res, workload):
    ops = [o for o in res["ops"] if not o["traced"]]
    main = [o["seconds"] for o in ops if o["kind"] == primary(workload) and o["ok"]]
    reads = read_passes(ops, workload)
    return {
        "setup_s": (res["setup_s"], "s"),
        "op_p50_s": (statistics.median(main) if main else 0.0, "s"),
        "read_p50_s": (statistics.median(reads) if reads else 0.0, "s"),
        "ops_per_s": (throughput(res), "1/s"),
    }


def report_lines(res, workload):
    """Every end-to-end metric by its workload-specific name. A p90 is
    reported only when at least 100 samples back it."""
    ops = [o for o in res["ops"] if not o["traced"]]
    n_fail = sum(not o["ok"] for o in ops)
    kinds = [("tick", "tick"), ("adhoc", "adhoc")] if workload == "pipeline_tick" else [("query", "query")]
    out = [("setup_s", res["setup_s"], "s")]
    for kind, label in kinds:
        xs = [o["seconds"] for o in ops if o["kind"] == kind and o["ok"]]
        out.append((f"{label}_p50_s", statistics.median(xs) if xs else float("nan"), "s"))
        out.append((f"{label}_p90_s", pct(xs, 0.9) if len(xs) >= 100 else f"n/a (n={len(xs)} < 100)", "s"))
        if label == "query":
            out.append(("queries_per_s", throughput(res), "1/s"))
        elif label == "tick":
            out.append(("ticks_per_s", throughput(res), "1/s"))
        elif label == "adhoc":
            reads = read_passes(ops, workload)
            out.append(("read_pass_p50_s", statistics.median(reads) if reads else float("nan"), "s"))
    out.append(("error_rate", n_fail / max(1, len(ops)), "ratio"))
    out.append(("rss_peak_mb", res["rss_peak_mb"], "MB"))
    return out


def self_times(spans):
    """Per span: its duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((c["start_ns"], c["end_ns"]) for c in kids.get(s["id"], []))
        covered, cur = 0, None
        for a, b in iv:
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


SELF_SPANS = ["tick", "pipeline.fetch", "pipeline.ingest", "pipeline.transform",
              "pipeline.checks", "lake.table", "lake.asof", "lake.since", "lake.snapshots",
              "adhoc.raw_limit10", "adhoc.mart_scan", "adhoc.latest5",
              "query", "operators.construct", "exec.run"]


def per_layer(res, workload):
    L = res["layer"]
    spans, groups, execs, counts = L["spans"], L["groups"], L["execs"], L["counts"]
    cpus = res["cpus"]
    med = lambda xs: statistics.median(xs) if xs else 0.0
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
    dur = lambda s: (s["end_ns"] - s["start_ns"]) / 1e9
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    selfs = self_times(spans)
    op_ids = sorted({s["op"] for s in by_name.get(primary(workload), [])})

    def per_op_sum(name, f=dur):
        acc = {k: 0.0 for k in op_ids}
        for s in by_name.get(name, []):
            if s["op"] in acc:
                acc[s["op"]] += f(s)
        return list(acc.values())

    def op_groups(k):
        return [g for g in groups if g == f"op{k}" or g.startswith(f"op{k}:")]

    def per_op_group(field, scale=1.0):
        return [sum(groups[g][field] for g in op_groups(k)) * scale for k in op_ids]

    def per_op_exec(field, scale=1.0, only_ctas=False):
        return [sum(e[field] for e in execs.get(str(k), []) if e["ctas"] or not only_ctas) * scale
                for k in op_ids]

    main_lat = {o["id"]: o["seconds"] for o in res["ops"] if o["traced"] and o["kind"] == primary(workload)}
    untraced = [o["seconds"] for o in res["ops"] if not o["traced"] and o["kind"] == primary(workload)]
    traced = list(main_lat.values())
    if workload == "pipeline_tick":
        util = [sum(groups[g]["run_ms"] for g in op_groups(k) if g == f"op{k}") / 1e3
                / (main_lat[k] * cpus) for k in op_ids if k in main_lat]
    else:
        run_s = {s["op"]: dur(s) for s in by_name.get("exec.run", [])}
        util = [groups.get(f"op{k}:run", {}).get("run_ms", 0) / 1e3 / (run_s[k] * cpus)
                for k in op_ids if k in run_s and run_s[k] > 0]
    ingest_self = [selfs[s["id"]] for s in by_name.get("pipeline.ingest", [])]
    m = {
        "pipeline.fetch_s": (med(per_op_sum("pipeline.fetch")) if workload == "pipeline_tick" else 0.0, "s"),
        "pipeline.fetch_failed": (counts.get("fetch_failed", 0), "count"),
        "pipeline.ingest_s": (med([dur(s) for s in by_name.get("pipeline.ingest", [])]), "s"),
        "pipeline.transform_s": (med([dur(s) for s in by_name.get("pipeline.transform", [])]), "s"),
        "pipeline.checks_s": (med([dur(s) for s in by_name.get("pipeline.checks", [])]), "s"),
        "lake.table_s": (med([dur(s) for s in by_name.get("lake.table", [])]), "s"),
        "lake.append_s": (med(ingest_self), "s"),
        "lake.ctas_s": (med(per_op_exec("duration_ns", 1e-9, only_ctas=True))
                        if workload == "pipeline_tick" else 0.0, "s"),
        "lake.asof_s": (med([dur(s) for s in by_name.get("lake.asof", [])]), "s"),
        "lake.since_s": (med([dur(s) for s in by_name.get("lake.since", [])]), "s"),
        "lake.snapshots_s": (med([dur(s) for s in by_name.get("lake.snapshots", [])]), "s"),
        "lake.raw_commits": (counts.get("raw_commits", 0), "count"),
        "lake.raw_data_files": (counts.get("raw_data_files", 0), "count"),
        "lake.raw_dirs": (counts.get("raw_dirs", 0), "count"),
        "lake.bytes_written_per_tick": (counts.get("bytes_written_per_tick", 0), "B"),
        "lake.bytes_per_raw_row": (counts.get("bytes_per_raw_row", 0), "B"),
        "lake.snapshot_log_bytes": (counts.get("snapshot_log_bytes", 0), "B"),
        "operators.construct_s": (med([dur(s) for s in by_name.get("operators.construct", [])]), "s"),
        "operators.preaction_jobs": (mean([groups.get(f"op{k}:construct", {}).get("jobs", 0)
                                           for k in op_ids]) if workload != "pipeline_tick" else 0.0, "count"),
        "plans.analysis_s": (med(per_op_exec("analysis_ms", 1e-3)), "s"),
        "plans.optimization_s": (med(per_op_exec("optimization_ms", 1e-3)), "s"),
        "plans.planning_s": (med(per_op_exec("planning_ms", 1e-3)), "s"),
        "exec.run_s": (med([dur(s) for s in by_name.get("exec.run", [])]), "s"),
        "exec.core_util": (med(util), "ratio"),
        "exec.task_cpu_s": (mean(per_op_group("cpu_ns", 1e-9)), "s"),
        "exec.task_run_s": (mean(per_op_group("run_ms", 1e-3)), "s"),
        "exec.shuffle_write_mb": (mean(per_op_group("shuffle_write", 1 / 2**20)), "MB"),
        "exec.shuffle_read_mb": (mean(per_op_group("shuffle_read", 1 / 2**20)), "MB"),
        "exec.spill_mb": (mean(per_op_group("spill", 1 / 2**20)), "MB"),
        "exec.gc_s": (mean(per_op_group("gc_ms", 1e-3)), "s"),
        "exec.peak_exec_mem_mb": (max([groups[g]["peak_mem"] for g in groups] or [0]) / 2**20, "MB"),
        "jvm.heap_peak_mb": (L["heap_peak_mb"], "MB"),
        "exec.jobs": (mean(per_op_group("jobs")), "count"),
        "exec.stages": (mean(per_op_group("stages")), "count"),
        "exec.tasks": (mean(per_op_group("tasks")), "count"),
        "trace.overhead_s": (med(traced) - med(untraced), "s"),
        "trace.overhead_pct": (100.0 * (med(traced) - med(untraced)) / med(untraced)
                               if med(untraced) else 0.0, "%"),
    }
    for name in SELF_SPANS:
        m[f"self.{name}_s"] = (med([selfs[s["id"]] for s in by_name.get(name, [])]), "s")
    return m


# ----------------------------------------------------------------- main

def prerequisites_ok():
    need = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft"),
            os.path.join(ROOT, "tools", "check_oracle.py"), os.path.join(HERE, "build.sbt")]
    missing = [p for p in need if not os.path.exists(p)]
    for p in missing:
        log(f"missing {os.path.relpath(p, ROOT)}: run from a checkout of the engine")
    return not missing


def run_one(a, classpath, workload):
    cfg = load_json("mixes.json")[workload]
    work = os.path.join(BUILD, "runs", f"{workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    deadline = time.time() + RUN_LIMIT_S
    try:
        args = ["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", os.path.join(work, "out"),
                "--plant-wrong", str(a.plant_wrong)]
        if workload == "pipeline_tick":
            args += ["--depth", str(a.depth or cfg["depth"]), "--warm-ticks", str(cfg["warm_ticks"])]
        else:
            data = os.path.join(work, "data")
            from datagen import generate
            generate(data, a.seed, a.sf or cfg["sf"])
            names = [q["name"] for q in cfg["queries"]]
            if a.selftest:
                names = cfg["selftest_pair"]
            args += ["--data", data, "--queries", ",".join(names)]
            if a.selftest:
                args += ["--selftest", "1"]
        t0 = time.time()
        res = run_jvm(classpath, args, work, cfg["heap"], deadline)
        log(f"{workload}: JVM {time.time() - t0:.1f} s (setup {res.get('setup_s', 0):.1f} s)")
        if a.selftest:
            return res
        t0 = time.time()
        errors = check_pipeline(res, work) if workload == "pipeline_tick" else check_queries(res, work)
        log(f"{workload}: output check {time.time() - t0:.1f} s")
        return res, errors
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summarize(a, workload, res, errors):
    ops = res["ops"]
    failed = sum(not o["ok"] for o in ops)
    for e in errors:
        log(f"WRONG {workload}: {e}")
    if a.trace:
        m = per_layer(res, workload)
    else:
        m = end_to_end(res, workload)
        for name, v, unit in report_lines(res, workload):
            print(f"{workload}  {name:<16} {v if isinstance(v, str) else round(v, 6)} {unit}")
    return {"correct": not errors and failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--sf", type=float, default=None)
    ap.add_argument("--depth", type=int, default=None)
    ap.add_argument("--plant-wrong", type=int, default=0)
    ap.add_argument("--selftest", type=int, default=0)
    ap.add_argument("--record", default=None)
    a = ap.parse_args()
    if not prerequisites_ok():
        sys.exit(2)
    sys.path.insert(0, HERE)
    classpath = build()
    if a.selftest:
        res = run_one(a, classpath, a.workload)
        print(json.dumps({k: res[k] for k in ("misattributed_tasks", "groups")}))
        return
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for w in workloads:
        res, errors = run_one(a, classpath, w)
        results[w] = summarize(a, w, res, errors)
    if a.workload == "all":
        line = {"correct": all(r["correct"] for r in results.values()),
                "attempted": sum(r["attempted"] for r in results.values()),
                "failed": sum(r["failed"] for r in results.values()),
                "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()}}
    else:
        line = results[a.workload]
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, **line}) + "\n")
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
