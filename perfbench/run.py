"""The repo benchmark: drives the engine's public entry points on one
named workload for a fixed time, checks every operation's output, and
prints the metrics as the last line of stdout (see README.md).

    python3 perfbench/run.py --workload star-sql|dedup-graph|etl-load \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Everything it builds, generates and
writes goes under $CARGO_TARGET_DIR (default `.bench_build`).
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

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_corpus  # noqa: E402
import gen_etl  # noqa: E402

# Query sets: relational star/event/quality queries (fixed cost per
# query dominates) and iterative LLM-tier dedup/similarity/graph/
# streaming queries (eager jobs, shuffle, expression kernels). Every
# query here has a DuckDB oracle that runs on the generated corpus.
WORKLOADS = {
    "star-sql": [
        "q01_pricing_summary", "q02_revenue_by_nation", "q03_order_priority",
        "q07_monthly_outliers", "q11_hourly_rollup", "q14_order_freshness",
        "q39_compat_mv", "q42_rollup", "q44_asof_join", "q45_range_join",
        "q56_etl_gates", "q74_custom_validations", "q118_interval_join",
        "q159_cube", "q162_activity_streaks"],
    "dedup-graph": [
        "q19_ngram_jaccard", "q20_minhash_lsh", "q21_simhash",
        "q23_cosine_topk", "q24_cosine_topk_lsh", "q46_ivf_topk",
        "q61_dedup_clusters", "q99_streaming_dedup",
        "q150_label_propagation", "q174_kcore", "q239_neardups_auto"],
    "etl-load": None,
}
# op_tail_s percentile per workload: the highest one that keeps at least
# ten of a run's operations beyond it (star-sql at --seconds 27: 60
# operations, so p83). Runs of the other two workloads have too few
# operations for any percentile above the median to keep ten beyond it;
# there op_tail_s is the slowest operation.
TAIL_PCT = {"star-sql": 83, "dedup-graph": 100, "etl-load": 100}
# Nominal pass wall per workload at local[4]: a run times
# round(seconds / nominal) whole passes (at least one), a count fixed by
# the arguments, so both sides of an A/B do the same work and the count
# cannot flip on small timing changes.
NOMINAL_PASS_S = {"star-sql": 7, "dedup-graph": 11, "etl-load": 13}
CORPUS_SF = 0.01

# Metrics by name and unit. The ETL_ ones are produced by etl-load only
# and printed only there; the query workloads print the others.
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"),
              ("op_tail_s", "s"), ("peak_rss_mb", "MB")]
ETL_END_TO_END = [("stored_bytes_per_row", "B/row")]
PER_LAYER = [
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"),
    ("plans.planning_s", "s"), ("plans.actions", "count"),
    ("plans.share_of_op", "frac"),
    ("operators.build_s", "s"), ("operators.eager_jobs", "count"),
    ("spark.execute_s", "s"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.idle_core_frac", "frac"), ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "B"), ("spark.shuffle_read_bytes", "B"),
    ("spark.spill_bytes", "B"), ("spark.peak_exec_mem_bytes", "B"),
    ("spark.result_bytes", "B"), ("spark.input_bytes", "B"),
    ("tables.load_s", "s"), ("self.op", "s"), ("self.operators", "s"),
    ("self.plans", "s"), ("self.spark", "s"),
    ("trace.overhead_frac", "frac")]
ETL_PER_LAYER = [
    ("sources.parse_s", "s"), ("functions.clean_s", "s"),
    ("pipeline.transform_s", "s"), ("warehouse.stage_s", "s"),
    ("warehouse.merge_s", "s"), ("warehouse.bytes_written", "B"),
    ("warehouse.write_amp", "ratio"),
    ("warehouse.partitions_rewritten", "count"),
    ("warehouse.files_per_partition", "count"), ("quality.gates_s", "s"),
    ("pipeline.cli_s", "s"), ("self.pipeline", "s"),
    ("self.warehouse", "s"), ("self.quality", "s")]

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java(cp, tmp, main, args, cwd, timeout, env=None, logfile=None):
    """Runs a JVM main to completion (killed at `timeout` seconds) and
    returns its wall time."""
    os.makedirs(tmp, exist_ok=True)
    # every scratch file stays in the run directory (no /tmp perf data)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", *JDK_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-cp", cp, main, *args]
    t0 = time.monotonic()
    with open(logfile or os.devnull, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=out,
                             env={**os.environ, **(env or {})})
        try:
            rc = p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"perfbench: {main} exceeded its time budget")
    if rc != 0:
        tail = open(logfile).read()[-3000:] if logfile else ""
        sys.exit(f"perfbench: {main} exited {rc}\n{tail}")
    return time.monotonic() - t0


def seed_dir(build_dir, seed):
    """Cache directory of the inputs for `seed`, keyed by the generators'
    source so a changed generator never reuses stale inputs."""
    h = hashlib.sha256()
    for g in (gen_corpus, gen_etl):
        with open(g.__file__, "rb") as f:
            h.update(f.read())
    return os.path.join(build_dir, "data", f"seed{seed}-{h.hexdigest()[:12]}")


def seed_data(d, seed, need_corpus, need_etl):
    """Generated inputs for `seed`, cached in `d`."""
    corpus, etl = os.path.join(d, "corpus"), os.path.join(d, "etl")
    for need, path, gen in ((need_corpus, corpus,
                             lambda p: gen_corpus.generate(p, seed, CORPUS_SF)),
                            (need_etl, etl, lambda p: gen_etl.generate(p, seed))):
        if need and not os.path.exists(path + ".done"):
            shutil.rmtree(path, ignore_errors=True)
            gen(path)
            open(path + ".done", "w").close()
    return corpus, etl


def oracle_expectations(root, corpus, oracles, cache):
    """Row count and value hash of each query's DuckDB oracle, hashed by
    `tools/check_oracle.py`'s canon/value_hash."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    import duckdb
    known = json.load(open(cache)) if os.path.exists(cache) else {}
    todo = {n: s for n, s in oracles.items()
            if known.get(n, {}).get("sql") != s}
    if todo:
        con = duckdb.connect()
        for t in check_oracle.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet')")
        for n, sql in todo.items():
            want = check_oracle.canon(con.sql(sql).df())
            known[n] = {"sql": sql, "rows": len(want),
                        "cols": list(want.columns),
                        "dtypes": [str(x) for x in want.dtypes],
                        "hash": check_oracle.value_hash(want)}
        with open(cache, "w") as f:
            json.dump(known, f)
    return known, check_oracle


def check_queries(root, out, corpus, data_dir, ops):
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    want, co = oracle_expectations(root, corpus, oracles,
                                   os.path.join(data_dir, "oracle.json"))
    hash_ok = {}
    for n, w in want.items():
        if n not in oracles:
            continue
        try:
            got = co.canon(pd.read_parquet(os.path.join(out, "dump", n)))
            hash_ok[n] = (len(got) == w["rows"] and list(got.columns) == w["cols"]
                          and [str(x) for x in got.dtypes] == w["dtypes"]
                          and co.value_hash(got) == w["hash"])
        except Exception as e:  # missing or unreadable dump
            log(f"{n}: result unreadable: {e}")
            hash_ok[n] = False
        if not hash_ok[n]:
            log(f"FAIL {n}: warm-pass result differs from its DuckDB oracle")
    for o in ops:
        w = want.get(o["name"])
        o["ok"] = (o["error"] is None and w is not None
                   and hash_ok.get(o["name"], False)
                   and o.get("rows") == w["rows"])
        if o["error"] is None and w is not None and o.get("rows") != w["rows"]:
            log(f"FAIL op {o['id']} {o['name']}: {o.get('rows')} rows, "
                f"oracle has {w['rows']}")


FACT_COLS = ["location_key", "date_key", "latitude", "longitude",
             "temp_max_c", "temp_min_c", "temp_mean_c", "precipitation_mm",
             "evapotranspiration_mm", "solar_radiation_mj_m2",
             "humidity_percent", "wind_speed_ms", "weather_code"]


def fact_matches(path, expected):
    """The loaded fact equals the generator's expected fact: same keys,
    same value in every column (nulls equal)."""
    got = pd.read_parquet(path)[FACT_COLS]
    keys = ["date_key", "latitude", "longitude"]
    got = got.sort_values(keys).reset_index(drop=True)
    exp = expected[FACT_COLS].sort_values(keys).reset_index(drop=True)
    if len(got) != len(exp):
        log(f"fact has {len(got)} rows, expected {len(exp)}")
        return False
    bad = []
    for c in FACT_COLS:
        if c in ("date_key", "location_key"):
            same = got[c].astype("int64") == exp[c].astype("int64")
        else:
            a = pd.to_numeric(got[c]).astype(float).to_numpy()
            b = pd.to_numeric(exp[c]).astype(float).to_numpy()
            same = (a == b) | (np.isnan(a) & np.isnan(b))
        if not same.all():
            bad.append(f"{c} ({int((~same).sum())} rows)")
    if bad:
        log(f"fact differs from expected in {', '.join(bad)}")
    return not bad


def check_etl(out, etl, summary, ops):
    exp = json.load(open(os.path.join(etl, "expected.json")))["batches"]
    fact = pd.read_parquet(os.path.join(etl, "expected_fact.parquet"))
    pass_ok = {}
    for st in summary["pass_stats"]:
        pass_ok[st["pass"]] = fact_matches(
            os.path.join(out, st["dir"], "fact_weather"), fact)
    for o in ops:
        e = exp[int(o["name"][len("batch"):])]
        checks = {"fact_rows": e["fact_rows"], "quarantined": e["quarantined"],
                  "unique_violations": 0, "range_violations": 0, "stale": 0}
        wrong = {k: o.get(k) for k, v in checks.items() if o.get(k) != v}
        if wrong:
            log(f"FAIL op {o['id']} {o['name']}: {wrong}, expected "
                f"{ {k: checks[k] for k in wrong} }")
        o["ok"] = o["error"] is None and not wrong and pass_ok.get(o["pass"], False)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build.build(root, build_dir)

    queries = WORKLOADS[a.workload]
    is_etl = queries is None
    data_dir = seed_dir(build_dir, a.seed)
    corpus, etl = seed_data(data_dir, a.seed, not is_etl, is_etl)
    # a run exits within 180 s once built and generated (a first run in
    # a checkout also compiles)
    deadline = time.monotonic() + 165
    out = os.path.join(build_dir, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cpus = len(os.sched_getaffinity(0))
    args = [f"workload={a.workload}", f"seed={a.seed}",
            f"passes={max(1, round(a.seconds / NOMINAL_PASS_S[a.workload]))}",
            f"trace={a.trace}", f"cpus={cpus}",
            f"out={out}"]
    if is_etl:
        batches = json.load(open(os.path.join(etl, "expected.json")))["batches"]
        args += ["batches=" + ",".join(os.path.join(etl, b["name"])
                                       for b in batches),
                 "asof=" + ",".join(b["as_of"] for b in batches)]
    else:
        args += [f"data={corpus}", "queries=" + ",".join(queries)]
    t_run = time.monotonic()
    java(cp, os.path.join(out, "tmp"), "perfbench.Runner", args, out,
         deadline - t_run - (40 if a.trace and is_etl else 5),
         logfile=os.path.join(out, "runner.log"))
    run_wall = time.monotonic() - t_run
    summary = json.load(open(os.path.join(out, "summary.json")))
    ops = [json.loads(l) for l in open(os.path.join(out, "ops.jsonl"))]

    if is_etl:
        check_etl(out, etl, summary, ops)
    else:
        check_queries(root, out, corpus, data_dir, ops)
    failed = sum(not o["ok"] for o in ops)
    untraced = [o["wall_s"] for o in ops if not o["traced"]]
    walls = {t: [p["wall_s"] for p in summary["passes"] if p["traced"] == t]
             for t in (False, True)}
    m = summary["machine"]
    print(json.dumps({"machine": {**m, "cpus": cpus, "run_wall_s": run_wall,
                                  "ops": len(ops), "passes": len(summary["passes"]),
                                  "tail_pct": TAIL_PCT[a.workload]}}))

    if a.trace:
        layers = dict(summary["layers"])
        if is_etl:
            # one cold run of the pipeline CLI, as its own process
            layers["pipeline.cli_s"] = java(
                cp, os.path.join(out, "tmp"), "graft.pipeline.PipelineMain",
                ["--mode", "full", "--fixtures",
                 os.path.join(etl, batches[-1]["name"]), "--out",
                 os.path.join(out, "cli", "warehouse")],
                out, deadline - time.monotonic(),
                env={"SPARK_MASTER": f"local[{cpus}]"},
                logfile=os.path.join(out, "cli.log"))
        layers["trace.overhead_frac"] = (statistics.median(walls[True]) /
                                         statistics.median(walls[False]) - 1)
        op_s = [o["wall_s"] for o in ops if o["traced"]]
        plan_s = sum(layers.get(f"plans.{p}_s", 0.0)
                     for p in ("analysis", "optimization", "planning"))
        layers["plans.share_of_op"] = plan_s / statistics.mean(op_s)
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER + (ETL_PER_LAYER if is_etl else [])}
        log(f"tracing overhead: {layers['trace.overhead_frac'] * 100:+.1f} % "
            f"of pass wall ({len(walls[False])} untraced vs "
            f"{len(walls[True])} traced passes)")
    else:
        vals = {
            "setup_s": summary["setup_s"],
            "wall_s": min(walls[False]),
            "op_p50_s": statistics.median(untraced),
            "op_tail_s": float(np.percentile(untraced, TAIL_PCT[a.workload])),
            "peak_rss_mb": summary["vm_hwm_kb"] / 1024.0}
        if is_etl:
            vals["stored_bytes_per_row"] = statistics.median(
                s["stored_bytes"] / max(1, s["fact_rows"])
                for s in summary["pass_stats"] if s["pass"] > 0)
        metrics = {n: {"value": vals[n], "unit": u}
                   for n, u in END_TO_END + (ETL_END_TO_END if is_etl else [])}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
