#!/usr/bin/env python3
"""graft's benchmark: one command runs a workload, prints every metric by name
with its unit, and checks the outputs.

    python3 perfbench/run.py --workload corpus_10x --seed 1 --seconds 15 --trace 0

Run it from the repository root. It builds graft and the benchmark JVM
(perfbench/build.sh, cached by source hash), generates the workload's inputs
from the seed (perfbench/gen.py, cached by seed and recipe, outside set-up),
runs the workload in one JVM with local[4] and one client or generator
thread, checks the outputs against DuckDB outside the timed region, and
prints one JSON object as the last line of stdout. --trace 1 reports the
per-layer metrics instead of the end-to-end ones and writes the span file
perfbench/.runs/spans-<workload>-s<seed>.json. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

RUNS = os.path.join(HERE, ".runs")
DEADLINE_S = 170  # the whole run, build excluded, ends well inside 180 s

CORPUS = ["d2_ngram_jaccard", "d6_dedup_clusters", "n3_ivf_ann",
          "a5_percentiles", "w11_gini"]
STREAM = dict(warm_files=60, rate_per_s=8.0, backlog_files=80,
              max_files_per_trigger=20)
STREAM_INPUT = dict(rows_per_file=200, dim_share=0.8, redeliver_share=0.1)


def stream_cfg(seconds):
    """The open-loop phase lands files at a fixed rate for ``seconds``."""
    return dict(STREAM, paced_files=int(round(seconds * STREAM["rate_per_s"])))


def stream_inputs(seed, seconds):
    c = stream_cfg(seconds)
    n = c["warm_files"] + c["paced_files"] + c["backlog_files"]
    return gen.stream(seed, n, **STREAM_INPUT)


WORKLOADS = {
    "corpus_10x": dict(
        inputs=lambda seed, seconds: gen.replica(seed, 10, 8),
        # at least 40 timed executions, so that p75 has 10 samples beyond it
        cfg=lambda seconds: dict(queries=CORPUS, warm_passes=2,
                                 min_passes=-(-40 // len(CORPUS)))),
    "sync_stream": dict(inputs=stream_inputs, cfg=stream_cfg),
}

# Spark 4 on JDK 17 outside spark-submit: the same flags build.sbt gives
# forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# The tail latency is the highest percentile with >= 10 samples beyond it at
# --seconds 15: corpus_10x times at least 40 queries, sync_stream 120 files.
TAIL_P = {"corpus_10x": 75, "sync_stream": 90}
E2E_UNITS = {"setup_s": "s", "lat_p50_ms": "ms", "lat_tail_ms": "ms",
             "throughput_per_s": "1/s", "geomean_ms": "ms"}
LAYER_UNITS = {
    "operators.construct_ms": "ms", "operators.construct_jobs": "count",
    "plan.ms": "ms", "exec.ms": "ms", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.task_ms": "ms",
    "exec.parallelism": "ratio", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "scan.files": "count", "scan.rows": "count", "scan.ms": "ms",
    "artifacts.build_s": "s", "artifacts.count": "count",
    "artifacts.bytes": "bytes", "stream.batch_ms_p50": "ms",
    "stream.sink_ms_p50": "ms", "stream.batches": "count",
    "stream.target_files": "count", "stream.write_amp": "ratio",
    "stream.state_rows_max": "count", "session.start_s": "s",
    "session.heap_peak_mb": "MB", "gen.late_ms_max": "ms"}


def log(msg):
    print(msg, flush=True)


def build():
    r = subprocess.run(["bash", os.path.join("perfbench", "build.sh")],
                       cwd=ROOT, stdout=subprocess.PIPE, timeout=850)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")
    return r.stdout.decode().strip().splitlines()[-1]


def source_hash(classpath):
    """The source hash build.sh puts in the classes directory's name."""
    return os.path.basename(classpath.split(":")[0]).rsplit("-", 1)[1]


def run_jvm(classpath, cfg, run_dir, timeout_s):
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.stream.error.file={run_dir}/derby.log",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main", cfg_path])
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=err, stderr=err)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"benchmark JVM exceeded {timeout_s:.0f} s")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"benchmark JVM exited {rc}:\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ checks

def duck(input_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in gen.TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def oracle_result(con, input_dir, sql):
    """(normalised types by column, table key) of an oracle query. The seed
    only moves rows between files, so the result is the same for every seed
    of a recipe: it is cached by recipe and SQL text."""
    from oracle_check import norm_type, table_key
    recipe = os.path.basename(input_dir).rsplit("-s", 1)[0]
    digest = hashlib.sha1(sql.encode()).hexdigest()[:16]
    path = os.path.join(HERE, ".cache", "oracle", f"{recipe}-{digest}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    rel = con.sql(sql)
    cols = [c.lower() for c in rel.columns]
    res = [{c: norm_type(t) for c, t in zip(cols, rel.types)},
           table_key(rel.fetchall(), cols)]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(res, fh)
    os.replace(path + ".tmp", path)
    return res


def check_queries(input_dir, run_dir):
    """{query: ok} for each query's reference output (its last timed
    execution), with the normalisation of tools/oracle_check.py."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_check import norm_type, table_key
    con = duck(input_dir)
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    out_dir = os.path.join(run_dir, "out")
    ok = {}
    for q in sorted(os.listdir(out_dir)):
        rel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{q}/*.parquet')")
        cols = [c.lower() for c in rel.columns]
        rows = rel.fetchall()
        if q not in oracles:
            ok[q] = len(rows) > 0
            continue
        try:
            otypes, okey = oracle_result(con, input_dir, oracles[q])
        except Exception as e:  # an oracle that cannot run is a failed check
            log(f"check {q}: oracle error {e}")
            ok[q] = False
            continue
        st = {c: norm_type(t) for c, t in zip(cols, rel.types)}
        good = st == otypes and table_key(rows, cols) == okey
        if not good:
            log(f"check {q}: MISMATCH ({len(rows)} rows vs oracle {len(okey)})")
        ok[q] = good
    return ok, {q: q in oracles for q in ok}


def check_stream(res, input_dir):
    """The sync target equals the batch latest-per-key over the deduped,
    dim-gated input that landed."""
    con = duck(input_dir)
    files = f"{res['input_dir']}/*.parquet"
    dim = os.path.join(input_dir, "dim.parquet")
    expected = con.sql(f"""
        WITH ev AS (SELECT DISTINCT ON (event_id) * FROM read_parquet('{files}')),
             gated AS (SELECT ev.* FROM ev JOIN read_parquet('{dim}') d USING (user_id)),
             ranked AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                          ORDER BY ts DESC, event_id DESC) AS rn FROM gated)
        SELECT user_id, event_type, value, ts FROM ranked WHERE rn = 1
        ORDER BY ALL""").fetchall()
    got = con.sql(f"""
        SELECT user_id, event_type, value, ts FROM read_parquet(
          '{res['target_dir']}/*/*.parquet', hive_partitioning = true)
        ORDER BY ALL""").fetchall()
    if got != expected:
        log(f"check sync target: MISMATCH ({len(got)} rows vs expected {len(expected)})")
    return got == expected


# ----------------------------------------------------------------- metrics

def query_metrics(res, ok, has_oracle):
    ops = res["ops"]
    attempted, failed = stats.count_failures(ops, ok, has_oracle)
    good = [o for o in ops if o["error"] is None]
    lat = [o["ms"] for o in good]
    by_q = {}
    for o in good:
        by_q.setdefault(o["q"], []).append(o["ms"])
    m = {
        "setup_s": res["setup_s"],
        # each query kind counts once: the median of per-query medians
        "lat_p50_ms": stats.median([stats.median(v) for v in by_q.values()]),
        "lat_tail_ms": stats.percentile(lat, TAIL_P["corpus_10x"]),
        "throughput_per_s": len(good) / sum(res["passes_s"]),
        "geomean_ms": stats.geomean([stats.median(v) for v in by_q.values()]),
    }
    counts = {"ops": len(lat), "passes": len(res["passes_s"]),
              "queries": len(by_q)}
    log("pass s: " + " ".join(f"{p:.2f}" for p in res["passes_s"]))
    log("per-query median ms: " + ", ".join(
        f"{q} {stats.median(v):.0f}" for q, v in sorted(by_q.items())))
    return m, attempted, failed, counts, lat


def stream_metrics(res, input_dir, target_ok):
    files = res["files"]
    lags, missing = stats.attribute_lags(files, res["batches"])
    paced = [lags[f["name"]] for f in files if f["phase"] == "paced" and f["name"] in lags]
    backlog = [f for f in files if f["phase"] == "backlog"]
    blag = [lags[f["name"]] for f in backlog if f["name"] in lags]
    rows = {}
    with open(os.path.join(input_dir, "manifest.json")) as fh:
        per_file = json.load(fh)["rows"]
    for i, n in enumerate(per_file):
        rows[f"f-{i:05d}.parquet"] = n
    drain_s = max(blag) / 1e3 if blag else float("inf")
    m = {
        "setup_s": res["setup_s"],
        "lat_p50_ms": stats.median(paced),
        "lat_tail_ms": stats.percentile(paced, TAIL_P["sync_stream"]),
        "throughput_per_s": sum(rows[f["name"]] for f in backlog) / drain_s,
        "geomean_ms": stats.geomean([stats.median(paced), stats.median(blag)]),
    }
    attempted, failed = stats.stream_failures(files, missing, target_ok)
    counts = {"paced_files": len(paced), "backlog_files": len(blag),
              "batches": len(res["batches"])}
    q = max(len(paced) // 4, 1)
    log("paced lag median ms by quarter of the phase: " + " ".join(
        f"{stats.median(paced[i:i + q]):.0f}" for i in range(0, q * 4, q) if paced[i:i + q]))
    return m, attempted, failed, counts, paced


def layer_metrics(res, spans):
    m = {k: 0.0 for k in LAYER_UNITS}
    timed = [o for o in res["ops"] if o["error"] is None and o["layers"]]
    if timed:
        def mean(k):
            return sum(o["layers"][k] for o in timed) / len(timed)
        for name, key in [("operators.construct_ms", "construct_ms"),
                          ("operators.construct_jobs", "construct_jobs"),
                          ("plan.ms", "plan_ms"), ("exec.ms", "exec_ms"),
                          ("exec.jobs", "exec_jobs"), ("exec.stages", "exec_stages"),
                          ("exec.tasks", "exec_tasks"), ("exec.task_ms", "exec_task_ms"),
                          ("exec.shuffle_read_bytes", "shuffle_read_bytes"),
                          ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
                          ("exec.spill_bytes", "spill_bytes"),
                          ("scan.files", "scan_files"), ("scan.rows", "scan_rows"),
                          ("scan.ms", "scan_ms")]:
            m[name] = mean(key)
        m["exec.parallelism"] = mean("exec_task_ms") / max(mean("exec_ms"), 1e-9)
        by_q = {}
        for o in timed:
            by_q.setdefault(o["q"], []).append(o["layers"])
        log("per-query mean exec ms / task ms / tasks / parallelism: " + ", ".join(
            f"{q} {e:.0f}/{t:.0f}/{n:.1f}/{t / max(e, 1e-9):.2f}"
            for q, ls in sorted(by_q.items())
            for e, t, n in [[sum(x[k] for x in ls) / len(ls)
                             for k in ("exec_ms", "exec_task_ms", "exec_tasks")]]))
    art = res.get("artifacts")
    if art:
        m["artifacts.build_s"] = art["build_s"]
        m["artifacts.count"] = art["count"]
        m["artifacts.bytes"] = art["bytes"]
    if res.get("batches"):
        b = res["batches"]
        m["stream.batch_ms_p50"] = stats.median([x["trigger_ms"] for x in b])
        m["stream.sink_ms_p50"] = stats.median([x["add_batch_ms"] for x in b])
        m["stream.batches"] = len(b)
        m["stream.target_files"] = res["target_files"]
        m["stream.write_amp"] = res.get("bytes_written", 0) / max(res["input_bytes"], 1)
        m["stream.state_rows_max"] = max(x["state_rows"] for x in b)
        m["gen.late_ms_max"] = max(f["landed_ms"] - f["due_ms"] for f in res["files"]
                                   if f["phase"] == "paced")
    m["session.start_s"] = res["session_start_s"]
    m["session.heap_peak_mb"] = res["heap_peak_mb"]
    return m


def self_time_by_layer(spans):
    out = {}
    for name, ms in stats.self_times(spans).items():
        layer = name.split(":")[0]
        out[layer] = out.get(layer, 0.0) + ms
    return out


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("run from a graft checkout: no src/main/scala")
    classpath = build()
    wl = WORKLOADS[a.workload]
    input_dir = wl["inputs"](a.seed, a.seconds)
    t_start = time.time()
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        cfg = dict(workload=a.workload, seed=a.seed, seconds=a.seconds,
                   trace=bool(a.trace), run_dir=run_dir, input_dir=input_dir,
                   **wl["cfg"](a.seconds))
        res = run_jvm(classpath, cfg, run_dir, DEADLINE_S - (time.time() - t_start))
        t_jvm = time.time() - t_start
        if a.workload == "sync_stream":
            e2e, attempted, failed, counts, lat = stream_metrics(
                res, input_dir, check_stream(res, input_dir))
        else:
            ok, has_oracle = check_queries(input_dir, run_dir)
            e2e, attempted, failed, counts, lat = query_metrics(res, ok, has_oracle)
        spans = []
        if a.trace:
            with open(os.path.join(run_dir, "spans.json")) as fh:
                spans = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    log(f"benchmark JVM {t_jvm:.1f} s, checks {time.time() - t_start - t_jvm:.1f} s; "
        f"set-up {res['setup_s']:.2f} s")
    log(f"workload {a.workload} seed {a.seed}: samples {counts}; "
        f"lat_tail_ms is p{TAIL_P[a.workload]}; highest percentile with "
        f">= 10 samples beyond it: p{stats.highest_percentile(len(lat))}")
    log(f"fail_ratio {failed}/{attempted} = {failed / attempted:.4f}")
    # the untraced baseline of the same code, workload, seed and length
    untraced = os.path.join(RUNS, f"untraced-{a.workload}-s{a.seed}-t{a.seconds:g}"
                                  f"-{source_hash(classpath)}.json")
    if a.trace:
        metrics = layer_metrics(res, spans)
        units = LAYER_UNITS
        overhead = None
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            overhead = {k: e2e[k] - base[k] for k in e2e}
        span_file = os.path.join(RUNS, f"spans-{a.workload}-s{a.seed}.json")
        with open(span_file, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "self_ms_by_layer": self_time_by_layer(spans),
                       "traced_e2e": e2e,
                       "tracing_overhead": overhead,
                       "spans": spans}, fh)
        log(f"span file {os.path.relpath(span_file, ROOT)}; tracing overhead "
            f"(traced - untraced run of the same code and seed): {overhead}")
    else:
        metrics, units = e2e, E2E_UNITS
        with open(untraced, "w") as fh:
            json.dump(e2e, fh)
    for k, v in metrics.items():
        log(f"  {k:28s} {v:14.4f} {units[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
