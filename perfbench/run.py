#!/usr/bin/env python3
"""graft benchmark: one closed-loop client per run, in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script builds the program and the
client from source (skipped when nothing changed since the last build),
generates the workload's inputs from the seed, runs the client
(`perfbench.Harness`) for the given seconds, checks every op's output and
prints a report followed by one JSON line. See perfbench/README.md.
"""
import argparse
import decimal
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, ".work")
CORES = 4
# untimed warm-up passes before the timed window, and the fewest timed
# passes; see "Why these sizes" in perfbench/README.md
WARMUP_PASSES = 3
MIN_PASSES = 10
HEAP = "3g"
SF = 0.01  # pipeline_heavy's tables
DATA_SEED = 42  # pipeline_heavy's tables; --seed sets its op order
SITE = {"n_villages": 32, "n_onsale": 120, "n_sold": 88, "soup_share": 0.2}

# pipeline_heavy: q242, the registry's largest job count per query
WORKLOADS = {"pipeline_heavy": ["q242_nb_planted_recovery"], "etl_write": None}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
              "latency_geomean_s": "s", "items_per_s": "1/s", "heap_after_gc_mb": "MB"}
PER_LAYER = {
    "session.build_s": "s", "session.warmup_s": "s",
    "sources.resolve_s": "s", "sources.resolve_jobs": "count",
    "sources.infer_s": "s", "sources.infer_jobs": "count",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_share": "ratio",
    "operators.eager_jobs": "count", "lineage.cut_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "exec.s": "s", "exec.driver_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.core_busy_ratio": "ratio", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "sources.bytes_written": "bytes", "sources.files_written": "count",
    "lianjia.rows_out": "count", "trace.overhead_ratio": "ratio",
}
# layer figures that are structurally zero on some workloads (no lineage
# cuts on etl_write, no writes on pipeline_heavy): reported on the
# report lines and in the trace file, not in the JSON result
REPORT_ONLY = ["operators.eager_s", "lineage.cut_s", "exec.unattributed_s", "exec.gc_s",
               "exec.spill_bytes", "sources.write_s", "sources.readback_s",
               "lianjia.extract_task_s"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build --

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + client; return the runtime classpath."""
    stamp_file, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                           capture_output=True, text=True, timeout=800)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if p.returncode != 0:
        log(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if "classes" in l and ":" in l and " " not in l]
    if not cp:
        fail("build produced no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return cp[-1]


# ------------------------------------------------------------------ run --

JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_client(cp, args, data, facts):
    run_dir = os.path.join(WORK, "run")
    for d in ("tmp", "spark-local", "warehouse", "out"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    trace_file = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/spark-local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-cp", cp, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(CORES),
            "--warmup", str(WARMUP_PASSES),
            "--min-passes", str(MIN_PASSES),
            "--data", data, "--out", f"{run_dir}/out", "--result", result,
            "--trace-file", trace_file, "--src", os.path.join(ROOT, "src", "main", "scala", "graft")]
    if facts:
        cmd += ["--probe-houses", ",".join(facts["sample_houses"]),
                "--probe-villages", ",".join(facts["sample_villages"])]
    else:
        cmd += ["--ops", ",".join(WORKLOADS[args.workload])]
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")
    with open(os.path.join(run_dir, "client.log"), "w") as out:
        cmd += ["--launch-ms", str(int(time.time() * 1000))]
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=args.seconds + 140)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("client timed out")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "client.log")) as fh:
            log(fh.read()[-4000:])
        fail(f"client exited with {rc}")
    with open(result) as fh:
        res = json.load(fh)
    res["files_written"] = sum(
        len([f for f in fs if f.startswith("part-")])
        for d, _, fs in os.walk(os.path.join(run_dir, "out")))
    return res, trace_file


# ---------------------------------------------------------------- check --

def oracle_counts(res, data):
    """DuckDB's row count for each op's oracle SQL over the same tables,
    cached beside the tables."""
    cache_file = os.path.join(data, "oracle_counts.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    con = None
    for name, sql in res["oracle"].items():
        if sql is None or cache.get(name, {}).get("sql") == sql:
            continue
        if con is None:
            con = duck(data)
        cache[name] = {"sql": sql, "rows": con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]}
    with open(cache_file, "w") as fh:
        json.dump(cache, fh)
    return {name: cache[name]["rows"] if sql is not None else None
            for name, sql in res["oracle"].items()}


def duck(data):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def check_queries(samples, counts):
    """Each sample's row count must equal DuckDB's count for the same
    query on the same inputs; a query without an oracle must return the
    same non-zero count every time. Returns {sample index: reason}."""
    seen, bad = {}, {}
    for i, s in enumerate(samples):
        got = s["result"]
        want = counts.get(s["op"])
        if want is None:
            want = seen.setdefault(s["op"], got)
            ok = s["ok"] and got == want and got > 0
        else:
            ok = s["ok"] and got == want
        if not ok:
            bad[i] = f"{s['op']} pass {s['pass']}: rows {got} expected {want} {s['error']}"
    return bad


def canon(v):
    """A DuckDB value in the form the client writes Spark's: decimals as
    floats, dates as ISO strings, lists element-wise."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def same_value(a, b):
    """Numbers compare to 1e-9 relative (the two engines may sum in
    different orders), NaN equal to NaN; anything else exactly."""
    if isinstance(a, str) and isinstance(b, float) and math.isnan(b):
        return a == "NaN"
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return a == b


def sort_key(row):
    num = lambda v: isinstance(v, (int, float)) and not isinstance(v, bool)
    return tuple("" if v is None else f"{float(v):.6g}" if num(v) else str(v) for v in row)


def check_contents(res, data):
    """Each query op's full result, collected in the last warm-up pass, must
    equal its DuckDB oracle's on the same tables: same column names, same
    rows in any order. Returns {op: reason} for every op that differs."""
    con, bad = None, {}
    for name, got in res["checks"].items():
        sql = res["oracle"].get(name)
        if "error" in got:
            bad[name] = f"failed: {got['error']}"
            continue
        if sql is None:
            continue
        con = con or duck(data)
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        exp = [[canon(v) for v in r] for r in cur.fetchall()]
        if sorted(got["columns"]) != sorted(cols):
            bad[name] = f"columns {sorted(got['columns'])} expected {sorted(cols)}"
            continue
        def rows(cs, rs):
            order = [cs.index(c) for c in sorted(cs)]
            return sorted(([r[i] for i in order] for r in rs), key=sort_key)
        g, e = rows(got["columns"], got["rows"]), rows(cols, exp)
        if len(g) != len(e):
            bad[name] = f"{len(g)} rows expected {len(e)}"
            continue
        wrong = [i for i in range(len(g)) if not same_value(g[i], e[i])]
        if wrong:
            bad[name] = f"{len(wrong)} of {len(g)} rows differ, first {g[wrong[0]]} expected {e[wrong[0]]}"
    return bad


def check_etl(samples, facts):
    """Each batch's aggregate must match what the generator wrote, and the
    probed rows must carry the generator's typed values. Returns
    {sample index: reason}."""
    bad = {}
    for i, s in enumerate(samples):
        wrong = [s["error"]] if not s["ok"] else etl_errors(s["result"], s["probe"], facts)
        if wrong:
            bad[i] = f"batch pass {s['pass']}: " + "; ".join(wrong)
    return bad


def etl_errors(r, probe, facts):
    D = decimal.Decimal
    tenth = lambda n: D(n) / D(10)
    bad = []
    if r["villages"] != facts["villages"]:
        bad.append(f"villages {r['villages']} expected {facts['villages']}")
    for st, want in facts["status"].items():
        got = r["status"].get(st)
        deal = tenth(want["deal10"]) if want["deal10"] else None
        if (got is None or got["houses"] != want["houses"]
                or got["villages"] != want["villages"]
                or D(got["price"]) != tenth(want["price10"])
                or (None if got["deal"] == "null" else D(got["deal"])) != deal):
            bad.append(f"status {st}: {got} expected {want}")
    for hid, want in facts["sample_houses"].items():
        got = probe["houses"].get(hid)
        if got is None:
            bad.append(f"house {hid} missing")
            continue
        exp = {"状态": want["status"], "小区ID": want["village"], "售价": tenth(want["price10"]),
               "建筑面积": D(want["area100"]) / 100, "挂牌时间": want["listed"],
               "成交价": tenth(want["deal10"]) if "deal10" in want else None,
               "成交时间": want.get("deal"), "关注人数": want.get("follow")}
        for k, v in exp.items():
            g = got[k]
            if g is not None and isinstance(v, D):
                g = D(g)
            elif g is not None and isinstance(v, int):
                g = int(g)
            if g != v:
                bad.append(f"house {hid} {k}: {got[k]} expected {v}")
    for vid, want in facts["sample_villages"].items():
        got = probe["villages"].get(vid)
        if got is None or any(got[k] is None or int(got[k]) != v for k, v in want.items()):
            bad.append(f"village {vid}: {got} expected {want}")
    return bad


# -------------------------------------------------------------- metrics --

def per_op(samples, f):
    ops = {}
    for s in samples:
        if s["ok"]:
            ops.setdefault(s["op"], []).append(f(s))
    return {k: statistics.median(v) for k, v in ops.items()}


def latency(s):
    return s["build_s"] + s["action_s"]


def pass_s(samples):
    return sum(per_op(samples, latency).values())


def end_to_end(res, samples, items_per_pass):
    lat = sorted(latency(s) for s in samples if s["ok"])
    n = len(lat)
    beyond = min(10, n // 4)          # samples that lie beyond the tail value
    tail_at = n - 1 - beyond
    medians = per_op(samples, latency)
    p = pass_s(samples)
    m = {
        "setup_s": res["setup_s"],
        "pass_s": p,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": lat[tail_at],
        "latency_geomean_s": math.exp(sum(math.log(v) for v in medians.values()) / len(medians)),
        "items_per_s": items_per_pass / p,
        "heap_after_gc_mb": max(s["heap_mb"] for s in samples),
    }
    tail = f"p{100.0 * (tail_at + 1) / n:.1f} of {n} samples, {beyond} beyond"
    return m, tail


def layers(res, untraced, traced):
    keys = set().union(*(s["layers"] for s in traced))
    sums = {k: sum(per_op(traced, lambda s, k=k: s["layers"].get(k, 0.0)).values()) for k in keys}
    build = sum(per_op(traced, lambda s: s["build_s"]).values())
    m = {k: v for k, v in sums.items() if k in PER_LAYER or k in REPORT_ONLY}
    m.update({
        "session.build_s": res["session_build_s"],
        "session.warmup_s": res["warmup_s"],
        "sources.resolve_s": statistics.median(r["s"] for r in res["resolve"]),
        "sources.resolve_jobs": statistics.median(res["resolve_jobs"]),
        "queries.build_share": build / pass_s(traced),
        "exec.core_busy_ratio": sums["exec.task_run_s"] / sums["exec.core_slots_s"],
        "sources.files_written": res["files_written"],
        "trace.overhead_ratio": pass_s(traced) / pass_s(untraced),
    })
    split = {"build": ["queries.build_s"],
             "plan": ["plan.analysis_s", "plan.optimization_s", "plan.planning_s"],
             "exec jobs": ["exec.s"], "exec driver": ["exec.driver_s"]}
    selfs = {k: sum(sums[x] for x in v) for k, v in split.items()}
    return m, selfs


# ----------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    os.makedirs(WORK, exist_ok=True)
    cp = build()

    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    t0 = time.time()
    facts = None
    if args.workload == "etl_write":
        data = os.path.join(WORK, "site")
        shutil.rmtree(data, ignore_errors=True)
        os.makedirs(data)
        facts = gen.site(args.seed, out=data, **SITE)
    else:
        # generated once per checkout and scale factor, then reused
        with open(gen.__file__, "rb") as fh:
            version = hashlib.sha256(fh.read()).hexdigest()[:12]
        data = os.path.join(WORK, f"tables-sf{SF}-{DATA_SEED}-{version}")
        if not os.path.isdir(data):
            os.makedirs(data + ".tmp", exist_ok=True)
            gen.tables(DATA_SEED, SF, data + ".tmp")
            os.rename(data + ".tmp", data)
    log(f"perfbench: inputs ready in {time.time() - t0:.1f} s")

    res, trace_file = run_client(cp, args, data, facts)
    samples = res["samples"]
    untraced = [s for s in samples if not s["traced"]]
    traced = [s for s in samples if s["traced"]]
    if facts:
        bad = check_etl(samples, facts)
        items = facts["pages"]
    else:
        bad = check_queries(samples, oracle_counts(res, data))
        for name, why in check_contents(res, data).items():
            bad[name] = f"{name} output: {why}"
        items = len(WORKLOADS[args.workload])
    failed = len(bad)
    for b in bad.values():
        log(f"perfbench: WRONG {b}")

    e2e, tail = end_to_end(res, untraced, items)
    print(f"workload {args.workload} seed {args.seed}: {len(untraced)} untraced and "
          f"{len(traced)} traced op samples in {res['timed_s']:.1f} s timed")
    print(f"setup {res['setup_s']:.2f} s = jvm boot {res['jvm_boot_s']:.2f} + session build "
          f"{res['session_build_s']:.2f} + {WARMUP_PASSES} warm-up passes {res['warmup_s']:.2f} (untimed)")
    attempted = len(samples) + len(res["checks"])
    print(f"ops_failed_ratio {failed / attempted:.4f} ({failed} of {attempted}: "
          f"{len(samples)} timed ops, {len(res['checks'])} output checks)")
    print(f"latency_tail_s is {tail}")
    if args.trace:
        metrics, selfs = layers(res, untraced, traced)
        p, attributed = pass_s(untraced), sum(selfs.values())
        traced_p = pass_s(traced)
        print("reconcile: " + " + ".join(f"{k} {v:.3f}" for k, v in selfs.items())
              + f" = {attributed:.3f} s measured vs untraced pass_s {p:.3f} s, "
              f"gap {100 * (p - attributed) / p:+.1f}% (traced pass_s {traced_p:.3f} s, "
              f"of it unattributed {metrics['exec.unattributed_s']:.3f} s; "
              f"{res['untagged_jobs']} jobs without a span tag, {res['untagged_s']:.3f} s)")
        for k in REPORT_ONLY:
            print(f"layer {k} {metrics.get(k, 0.0):.6g}")
        print(f"span tree: {os.path.relpath(trace_file, ROOT)}")
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for k, v in out.items():
        print(f"metric {k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
