#!/usr/bin/env python3
"""Benchmark driver for the graft Spark library.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Each run builds the library and the harness if their sources changed
(sbt, offline), generates the workload's inputs from the seed, runs one
JVM (perfbench.Main) that sets up, runs a cold pass/tick and then warm
ones, checks the outputs, and prints a human-readable report followed by
one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a traced run.

Everything the run writes goes under .bench_build/ in the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)
import gen  # noqa: E402

MASTER, PARTITIONS, DRIVER_MEM = "local[4]", 4, "3g"
# the query workloads read one fixed table set; their seed drives the query order
TABLE_SEED = 42
RUN_TIMEOUT_S = 170

WORKLOADS = {
    # A tick is one daily cron run. As in the reference's extract.py:29-31,
    # each document covers a 25 h window and re-delivers the previous run's
    # last hour, so 1 of its 25 hourly points (4 %) is a duplicate. The
    # hourly step, the host count, the bad-value rates (gen._value/_point)
    # and the files per tick are placeholders: the reference states none.
    "nagios_tick": {
        "hosts": 150, "ticks": 6, "points_per_doc": 25, "overlap_points": 1,
        "step_s": 3600, "services": ["CPU Usage", "Memory Usage"],
    },
    "queries": {
        "sf": 0.02, "min_warm": 4,
        # short analytics queries: Catalyst, the plans/ rewrites, cached scans
        "queries": """q_multi_join q_sql_shipping_priority q_correlated_exists
            q_range_join_rule q_overlap_join_rule q_interval_overlap q_asof_join
            q_status_enrich q_flap_detect q_percentile q_hll_distinct q_equidepth
            """.split()
        # heavy curation kernels: staged memos, shuffles, CPU
        + """q_minhash_dedup q_minhash_pairs q_jaccard_join q_cms_tokens
            q_bm25_topk q_semdedup q_pagerank q_theil_sen_sampled
            q_repeated_spans""".split(),
    },
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
    return h.hexdigest()[:16]


def source_files():
    files = [os.path.join(ROOT, "build.sbt")]
    for d in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for dp, dns, fns in os.walk(os.path.join(ROOT, d)):
            dns[:] = sorted(n for n in dns if n not in ("target", "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)
                      if f.endswith((".scala", ".sbt", ".properties")) or "/resources/" in dp]
    files.append(os.path.join(BENCH, "build.sbt"))
    return sorted(set(f for f in files if os.path.isfile(f)))


def build():
    """Compile the library and harness when their sources changed; return the classpath."""
    stamp = sha(*[p.encode() + open(p, "rb").read() for p in source_files()])
    state = os.path.join(OUT, "build.json")
    if os.path.exists(state):
        prev = json.load(open(state))
        if prev["stamp"] == stamp:
            return prev["classpath"], stamp
    log("building library + harness with sbt (sources changed)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        raise SystemExit("build failed")
    cp = [l for l in p.stdout.splitlines() if not l.startswith("[") and "perfbench" in l
          and os.pathsep in l][-1].strip()
    log(f"build done in {time.time() - t0:.0f} s")
    os.makedirs(OUT, exist_ok=True)
    json.dump({"stamp": stamp, "classpath": cp}, open(state, "w"))
    return cp, stamp


def tables(sf, seed):
    """Generated tables, cached per (generator, sf, seed)."""
    d = os.path.join(OUT, "data", f"tables-{sha(open(gen.__file__, 'rb').read())}-sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(d, sf, seed)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    return int(open("/proc/stat").readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_jvm(cfg, cp, run_dir, budget):
    path = os.path.join(run_dir, "config.json")
    json.dump(cfg, open(path, "w"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{DRIVER_MEM}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmp]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", path])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        spawned = time.time()
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"JVM exceeded {budget:.0f} s; see {run_dir}/jvm.log")
    if rc != 0 or not os.path.exists(cfg["result"]):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-6000:])
        raise SystemExit(f"JVM exited with {rc}")
    res = json.load(open(cfg["result"]))
    # set-up: from starting the JVM's process to session plus cached inputs
    res["setup_s"] = res["ready_at_ms"] / 1000 - spawned
    return res


# --- output checks -------------------------------------------------------

def check_queries(data, verify_out, queries):
    """DuckDB oracle parity per query, decided by the repository's
    tools/oracle_check.py. A Spark output whose digest oracle_check.py has
    already approved for the same tables and oracle SQL is not re-checked:
    the tables are fixed, so after a checkout's first run only changed
    outputs pay for the oracle. The approval is keyed on the checker and
    the DuckDB version too, so a changed checker re-checks every output."""
    import duckdb
    checker = os.path.join(ROOT, "tools", "oracle_check.py")
    oracle = sha(open(checker, "rb").read(), duckdb.__version__)
    sqls = json.load(open(os.path.join(verify_out, "oracle_sql.json")))
    approved = os.path.join(OUT, "oracle-approved")
    os.makedirs(approved, exist_ok=True)
    con, pending, bad = duckdb.connect(), {}, {}
    for q in queries:
        try:
            rel = con.sql(f"SELECT * FROM read_parquet('{verify_out}/{q}/*.parquet')")
            digest = sha(oracle, os.path.basename(data), sqls[q], rel.columns, rel.types,
                         *sorted(map(repr, rel.fetchall())))
        except Exception as e:  # no output: the query failed in graft.Verify
            bad[q] = f"no verified output ({type(e).__name__})"
            continue
        if not os.path.exists(os.path.join(approved, digest)):
            pending[q] = digest
    if pending:
        json.dump({q: sqls[q] for q in pending}, open(os.path.join(verify_out, "oracle_sql.json"), "w"))
        p = subprocess.run([sys.executable, checker, data, verify_out], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=300)
        lines = p.stdout.splitlines()
        for q, digest in pending.items():
            if any(l.startswith(f"OK   {q} ") for l in lines):
                open(os.path.join(approved, digest), "w").close()
            else:
                bad[q] = next((l for l in lines if l.startswith(f"FAIL {q}:")), "no oracle verdict")
    return bad


def check_ticks(res, expect):
    """Exactly-once reconciliation per tick, against the generator's counts."""
    import pyarrow.parquet as pq
    bad, seen = {}, set()
    for k, (files, pfiles, e) in enumerate(zip(res["sink_files"], res["points_files"], expect)):
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        points = sum(sum(1 for _ in open(f)) for f in pfiles)
        if rows != e["unique_rows"]:
            bad[f"tick{k}"] = f"committed {rows} sink rows, generated {e['unique_rows']} unique"
        if points != e["status_points"]:
            bad[f"push{k}"] = f"published {points} points, expected {e['status_points']}"
        seen.update(files)
    if seen:
        import duckdb
        n, d = duckdb.sql("SELECT count(*), count(DISTINCT (host_name, timestamp, service_name,"
                          " metric_name, value)) FROM read_parquet(?)",
                          params=[sorted(seen)]).fetchone()
        if n != d:
            bad["sink"] = f"{n - d} duplicate rows committed"
    if res.get("quarantined"):
        bad["quarantine"] = f"{res['quarantined']} batches quarantined"
    return bad


# --- metrics -------------------------------------------------------------

def unit_times(res, kinds=None):
    t = {}
    for o in res["ops"]:
        if o["ok"] and (kinds is None or o["kind"] in kinds):
            t[o["unit"]] = t.get(o["unit"], 0.0) + o["secs"]
    return t


def end_to_end(res, workload):
    units = unit_times(res)
    warm = [v for u, v in sorted(units.items()) if u > 0]
    m = {"setup_s": res["setup_s"], "first_s": units.get(0, float("nan")),
         "warm_s": statistics.median(warm), "mem_storage_mb": res["mem_storage_mb"]}
    shown = {"setup_s": m["setup_s"], "mem_storage_mb": m["mem_storage_mb"]}
    if workload == "nagios_tick":
        ticks, pushes = unit_times(res, {"tick"}), unit_times(res, {"push"})
        shown.update(tick_first_s=ticks.get(0), status_push_s=statistics.median(pushes.values()),
                     tick_s=statistics.median(v for u, v in ticks.items() if u > 0))
    else:
        shown.update(cold_pass_s=m["first_s"], pass_s=m["warm_s"])
    return m, shown, len(warm)


def per_layer(res, workload, expect, names):
    layers = {int(u): v for u, v in res["layers"].items()}
    times = unit_times(res)
    traced = sorted(u for u in layers if u > 0)
    untraced = sorted(u for u in times if u > 0 and u not in layers)

    def derive(u, m):
        m = dict(m)
        hits, misses = m.get("cache.hits", 0.0), m.get("cache.misses", 0.0)
        m["cache.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
        m["pipelines.docs_in"] = m.get("stream.input_rows", 0.0)
        m["pipelines.rows_gated"] = m.get("pipelines.melt_rows", 0.0) - m.get("pipelines.payload_rows", 0.0)
        if workload == "nagios_tick":
            m["dedup.dropped_rows"] = m.get("pipelines.payload_rows", 0.0) - m.get("sinks.rows", 0.0)
            resent = expect[u]["resent_rows"]
            m["dedup.useful_ratio"] = m["dedup.dropped_rows"] / resent if resent else 1.0
        m["unit_s"] = times.get(u, 0.0)
        return m

    cold = derive(0, layers.get(0, {}))
    warm = [derive(u, layers[u]) for u in traced]
    out = {}
    for n in names:
        if n.startswith("cold."):
            out[n] = cold.get(n[5:], 0.0)
        elif n.startswith("self."):
            out[n] = res.get("self_ms", {}).get(n[5:-3], 0.0) / max(1, len(layers))
        elif n in ("trace.overhead_pct", "error_rate"):
            continue
        else:
            out[n] = statistics.fmean(w.get(n, 0.0) for w in warm) if warm else 0.0
    # each traced warm unit, the tracer's own work included, against the mean
    # of its untraced neighbours, so a warm-up trend does not read as its cost;
    # the first warm unit still runs well slower than the later ones, so it is
    # no neighbour
    ratios = {u: times[u] / ((times[u - 1] + times[u + 1]) / 2) for u in traced
              if u - 1 in untraced and u + 1 in untraced and u - 1 > 1}
    out["trace.overhead_pct"] = 100 * (statistics.median(ratios.values()) - 1) if ratios else 0.0
    return out, cold, warm, ratios


def fingerprint(res, workload, seed, stamp, spec):
    """Host/config identity (what must match for two results to be compared),
    the code identity, and the seed. Results whose host or code differ are
    never merged into one sample."""
    mem = next((l.split()[1] for l in open("/proc/meminfo") if l.startswith("MemTotal:")), "?")
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    host = dict(res["fingerprint"], nproc=len(os.sched_getaffinity(0)), mem_total_kb=int(mem),
                driver_memory=DRIVER_MEM, data=spec, workload=workload,
                workload_hash=sha(json.dumps(WORKLOADS[workload], sort_keys=True),
                                  open(gen.__file__, "rb").read()))
    return {"host": host, "code": {"git_commit": commit, "source_stamp": stamp}, "seed": seed}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("run from the repository root: build.sbt and src/main/scala/graft are missing")
        return 2
    if a.self_test:
        return self_test()
    if not a.workload:
        ap.error("--workload is required")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp, stamp = build()
    start = time.time()     # a build may take long; the run's own time starts here
    wl = WORKLOADS[a.workload]
    run_dir = os.path.join(OUT, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cfg = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": bool(a.trace),
           "master": MASTER, "shuffle_partitions": PARTITIONS,
           "work": os.path.join(run_dir, "work"), "result": os.path.join(run_dir, "result.json"),
           "spans": os.path.join(run_dir, "spans.jsonl")}
    # a traced run adds warm units so that traced units 4 and 6 sit between
    # untraced ones past the first warm unit (see per_layer)
    expect = None
    if a.workload == "nagios_tick":
        cfg["data"] = os.path.join(run_dir, "input")
        ticks = wl["ticks"] + 2 * a.trace
        expect = gen.nagios(cfg["data"], a.seed, wl["hosts"], ticks,
                            wl["points_per_doc"], wl["overlap_points"], wl["step_s"])
        cfg.update(ticks=ticks, services=wl["services"])
        spec = {k: wl[k] for k in ("hosts", "ticks", "points_per_doc", "overlap_points", "step_s")}
    else:
        cfg["data"] = tables(wl["sf"], TABLE_SEED)
        cfg.update(queries=wl["queries"], min_warm=wl["min_warm"] + 3 * a.trace,
                   verify_out=os.path.join(run_dir, "verify"))
        spec = {"sf": wl["sf"], "table_seed": TABLE_SEED}
    log(f"inputs ready in {time.time() - start:.1f} s; running {a.workload}")
    t_jvm, steal0 = time.time(), steal_s()
    res = run_jvm(cfg, cp, run_dir, RUN_TIMEOUT_S - (t_jvm - start))
    t_check, steal = time.time(), steal_s() - steal0
    bad = (check_ticks(res, expect) if expect is not None
           else check_queries(cfg["data"], cfg["verify_out"], wl["queries"]))
    log(f"JVM {t_check - t_jvm:.1f} s (CPU steal {steal:.1f} s), "
        f"output checks {time.time() - t_check:.1f} s")
    failures = [f"{o['kind']} {o['name']} (unit {o['unit']}): {o['error']}"
                for o in res["ops"] if not o["ok"]] + [f"check {k}: {v}" for k, v in bad.items()]
    attempted = len(res["ops"])
    failed = sum(not o["ok"] for o in res["ops"]) + len(bad)
    e2e, shown, n_warm = end_to_end(res, a.workload)
    shown["error_rate"] = failed / attempted
    report = {"fingerprint": fingerprint(res, a.workload, a.seed, stamp, spec),
              "end_to_end": e2e, "shown": shown, "warm_units": n_warm,
              "unit_s": unit_times(res), "steal_s": steal,
              "storage": res.get("storage"),
              "op_s": {n: {"first": next((o["secs"] for o in res["ops"] if o["name"] == n
                                          and o["unit"] == 0), None),
                           "warm_median": statistics.median(
                               [o["secs"] for o in res["ops"] if o["name"] == n
                                and o["unit"] > 0 and o["ok"]] or [float("nan")])}
                       for n in sorted({o["name"] for o in res["ops"] if o["kind"] == "query"})},
              "attempted": attempted, "failed": failed, "failures": failures}
    if a.trace:
        names = [m["name"] for m in bench["per_layer"]]
        metrics, cold, warm, ratios = per_layer(res, a.workload, expect, names)
        metrics["error_rate"] = shown["error_rate"]
        report.update(per_layer=metrics, layers_cold=cold, layers_warm=warm, overhead_ratios=ratios,
                      self_ms=res.get("self_ms", {}))
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        useful = [w["dedup.useful_ratio"] for w in warm if "dedup.useful_ratio" in w]
        if any(abs(u - 1.0) > 1e-9 for u in useful):
            failures.append(f"check dedup.useful_ratio: {useful} (must be 1.0)")
            report["failed"] = failed = failed + 1
    else:
        metrics = e2e
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    if a.trace:
        shutil.copy(cfg["spans"], os.path.join(OUT, "results", tag + ".spans.jsonl"))
    json.dump(report, open(os.path.join(OUT, "results", tag + ".json"), "w"), indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        print(f"FAILED {f}")
    for k, v in shown.items():
        print(f"{k:>16} = {v:.4f}")
    if a.trace:
        for k in sorted(metrics):
            print(f"{k:>28} = {metrics[k]:.4f} {units.get(k, '')}")
    print(f"{'time':>16} = {time.time() - start:.1f} s total, {n_warm} warm units")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    return 0


def self_test():
    """Inject one failing operation per pass into a small query run and check
    that it is counted as failed, reported with its exception, and left out
    of every timing."""
    cp, _ = build()
    run_dir = os.path.join(OUT, "runs", f"selftest-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cfg = {"workload": "queries", "seed": 7, "seconds": 0, "trace": False, "master": MASTER,
           "shuffle_partitions": PARTITIONS, "min_warm": 2,
           "queries": ["q_semi_join", "q_rollup"], "inject_failure": True,
           "data": tables(0.001, 7), "work": os.path.join(run_dir, "work"),
           "result": os.path.join(run_dir, "result.json"),
           "verify_out": os.path.join(run_dir, "verify"), "spans": ""}
    res = run_jvm(cfg, cp, run_dir, RUN_TIMEOUT_S)
    injected = [o for o in res["ops"] if o["name"] == "injected_failure"]
    passes = sorted({o["unit"] for o in res["ops"]})
    ok_ops = [o for o in res["ops"] if o["ok"]]
    bad = check_queries(cfg["data"], cfg["verify_out"], cfg["queries"])
    assert len(injected) == len(passes) == 3, injected
    assert all(not o["ok"] and o["secs"] is None for o in injected), injected
    assert all("IllegalStateException" in o["error"] and "self-test" in o["error"] for o in injected)
    assert len(ok_ops) == 2 * len(passes) and not bad, (res["ops"], bad)
    times = unit_times(res)
    assert all(abs(times[u] - sum(o["secs"] for o in ok_ops if o["unit"] == u)) < 1e-9 for u in passes)
    failed = sum(not o["ok"] for o in res["ops"])
    assert failed / len(res["ops"]) == 1 / 3
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"self-test passed: {failed} injected failures counted (error_rate "
          f"{failed / len(res['ops']):.3f}), none timed; pass times "
          + ", ".join(f"{times[u]:.3f}" for u in passes) + " s exclude the 1.5 s failing op")
    return 0


if __name__ == "__main__":
    sys.exit(main())
