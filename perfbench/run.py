#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. It builds the engine and the benchmark
client from source (`build.py`, cached under `.bench_build/`), generates the
workload's inputs from the seed (cached per workload, size and seed), runs
the client JVM against `local[nproc]`, checks the outputs, and prints as its
last stdout line one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`). The line before it
holds the details: the workload's own named metrics, check outcomes, input
checksums and the host state. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics as M  # noqa: E402

DEADLINE_S = 175          # the whole invocation, build excluded
HEAP = "3g"
# The catalog's relational tables: a copy of the engine's sf0.01 testdata.
TABLES = os.path.join(HERE, "data", "sf0.01")

# Workload sizes. Changing any of these changes what the benchmark measures.
WORKLOADS = {
    "catalog-interactive": {"docs": "300"},
    "rag-serve-maintain": {"docs": "1200", "fresh": "300", "batch": "30", "pool": "32",
                           "queries": "8"},
}
PRIMARY = {"catalog-interactive": "query", "rag-serve-maintain": "serve"}
TAIL_WANTED = {"catalog-interactive": 90, "rag-serve-maintain": 80}

CATALOG_MODULES = ["Relational", "Extras", "AsOf", "Skew", "Sinks", "RedskinsPipeline"]
CURATION_LAYERS = ["Corpus.q154CurationFunnel", "Dedup.q53DedupClusters"]
NAMED = [("wall_s", "s"), ("query_p50_s", "s"), ("query_p90_s", "s"), ("queries_per_s", "1/s"),
         ("serve_p50_s", "s"), ("serve_p80_s", "s"), ("maintain_p50_s", "s"),
         ("compact_p50_s", "s"), ("build_s", "s"), ("store_ratio", "ratio"),
         ("failed_frac", "ratio")]

END_TO_END = [("setup_s", "s"), ("op_gmean_s", "s"), ("op_tail_s", "s"), ("ops_per_s", "1/s")]


def per_layer_names():
    """Every per-layer metric, in report order, with its unit."""
    out = []
    for m in CATALOG_MODULES:
        out += [(f"{m}.plan_s", "s"), (f"{m}.exec_s", "s"), (f"{m}.jobs", "count"),
                (f"{m}.gap_s", "s")]
    out += [("serve.plan_s", "s"), ("serve.exec_s", "s"), ("serve.jobs", "count"),
            ("serve.gap_s", "s"), ("serve.shuffle_mb", "MB"), ("Retrieval.segments", "count"),
            ("Similarity.cand_per_hit", "ratio"),
            ("DocStream.lexAppendBatch_s", "s"), ("DocStream.tombstoneBatch_s", "s"),
            ("VecStream.tombstoneBatch_s", "s"), ("Similarity.ivfPqAppend_s", "s"),
            ("maintain.jobs", "count"), ("maintain.written_mb", "MB"),
            ("Retrieval.maybeCompactLexVersioned_s", "s"),
            ("Similarity.maybeMaintainIvfVersioned_s", "s"), ("compact.written_mb", "MB"),
            ("RootPointer.live_versions", "count"),
            ("Retrieval.lexIndexSegment_s", "s"), ("Similarity.ivfPqIndex_s", "s"),
            ("Par.overlap", "ratio")]
    for c in CURATION_LAYERS:
        out += [(f"{c}_s", "s"), (f"{c}.task_s", "s"), (f"{c}.core_util", "ratio"),
                (f"{c}.task_skew", "ratio"), (f"{c}.shuffle_mb", "MB"),
                (f"{c}.spill_mb", "MB")]
    out += [("Corpus.kept_docs", "count"), ("Dedup.clusters", "count"),
            ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
            ("spark.jobs", "count"), ("spark.tasks", "count"),
            ("spark.gap_s", "s"), ("spark.core_util", "ratio")]
    out += [(f"{n}.traced", u) for n, u in END_TO_END]
    return out + NAMED


# --------------------------------------------------------------------- host

def host_state():
    own = {os.getpid()}
    others = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in own:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
        except OSError:
            continue
        if "java" in cmd.split(" ")[0] and ("spark" in cmd.lower() or "sbt" in cmd.lower()):
            others.append(int(pid))
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg()),
            "commit": commit, "other_spark_jvms": len(others)}


# ------------------------------------------------------------------- inputs

def file_sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def catalog_inputs(dirpath):
    """Copy the relational tables (the engine's sf0.01 testdata, committed
    under `data/`) beside the seeded documents table; returns checksums."""
    os.makedirs(dirpath, exist_ok=True)
    sums = {}
    for f in sorted(os.listdir(TABLES)):
        dst = os.path.join(dirpath, f)
        if not os.path.exists(dst):
            shutil.copyfile(os.path.join(TABLES, f), dst)
        sums[f[:-len(".parquet")]] = file_sha256(dst)
    return sums


# ------------------------------------------------------------------- checks

# The q154 funnel's DuckDB SQL needs 16-25 s on this corpus, more than a
# run can spend on checks; per run the funnel is checked by its stage
# algebra (funnel_check), and its SQL is compared once by the self-test.
SLOW_ORACLES = {"q154_curation_funnel"}


def funnel_check(inputs, outdir):
    """The q154 audit rows chain (n_in - n_dropped = n_out, n_out(k) =
    n_in(k+1)) and stage 1 reads the train slice (doc_id % 11 != 0) of the
    documents table. Returns the check and the exact curation counts:
    documents the funnel keeps, q53 clusters."""
    import pyarrow.parquet as pq
    rows = sorted(pq.read_table(os.path.join(outdir, "q154_curation_funnel")).to_pylist(),
                  key=lambda r: r["stage"])
    labels = pq.read_table(os.path.join(outdir, "q53_dedup_clusters")).to_pylist()
    ids = pq.read_table(os.path.join(inputs, "documents.parquet"), columns=["doc_id"])
    train = int((ids["doc_id"].to_numpy() % 11 != 0).sum())
    ok = rows[0]["n_in"] == train and \
        all(r["n_in"] - r["n_dropped"] == r["n_out"] for r in rows) and \
        all(x["n_out"] == y["n_in"] for x, y in zip(rows, rows[1:]))
    counts = {"kept_docs": rows[-1]["n_out"], "clusters": len({r["cluster_id"] for r in labels})}
    return ("q154_curation_funnel", ok,
            f"train {train} stages {[(r['n_in'], r['n_out']) for r in rows]}"), counts


def oracle_check(inputs, outdir, skip=()):
    """Each catalog entry's Spark output against its DuckDB SQL over the
    same input tables: columns, row count and values in order."""
    import duckdb
    import pyarrow.parquet as pq
    sqls = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in os.listdir(inputs):
        if t.endswith(".parquet"):
            path = os.path.join(inputs, t)
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{path}')")
    results = []
    for name, sql in sorted(sqls.items()):
        if name in skip:
            continue
        d = os.path.join(outdir, name)
        try:
            sdf = pq.read_table(d).to_pandas(date_as_object=False)
            ddf = con.execute(sql).arrow().to_pandas(date_as_object=False)
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            results.append((name, False, f"error: {e}"[:300]))
            continue
        cols = sorted(sdf.columns)
        if cols != sorted(ddf.columns):
            results.append((name, False, f"columns {cols} vs {sorted(ddf.columns)}"))
            continue
        if len(sdf) != len(ddf):
            results.append((name, False, f"rows {len(sdf)} vs {len(ddf)}"))
            continue
        bad = None
        for c in cols:
            for i, (x, y) in enumerate(zip(sdf[c].tolist(), ddf[c].tolist())):
                if x == y or (x is None or x != x) and (y is None or y != y):
                    continue
                bad = (c, i, x, y)
                break
            if bad:
                break
        results.append((name, bad is None, f"{len(sdf)} rows" if bad is None
                        else f"value diff {bad}"[:300]))
    return results


# ------------------------------------------------------------------ metrics

def end_to_end(workload, res):
    sm = res["samples"]
    prim = sm.get(PRIMARY[workload], [])
    rate = sum(len(v) for k, v in sm.items()
               if k in ("query", "serve", "maintain", "compact")) / res["values"]["wall_s"]
    tail_p = M.tail_percentile(len(prim), TAIL_WANTED[workload])
    return {
        "setup_s": res["values"]["setup_s"],
        "op_gmean_s": M.gmean(prim) if prim else 0.0,
        "op_tail_s": M.percentile(prim, tail_p) if prim else 0.0,
        "ops_per_s": rate,
    }, {"tail_pct": tail_p, "n": len(prim)}


def named(workload, res):
    """The workload's own end-to-end quantities (README.md); 0 where the
    workload has no such op."""
    sm, v = res["samples"], res["values"]
    out = {n: 0.0 for n, _ in NAMED}
    out.update(wall_s=v["wall_s"], failed_frac=M.failed_frac(res["attempted"], res["failed"]))

    def pct(k, p):
        return M.percentile(sm[k], p) if sm.get(k) else 0.0
    if workload == "catalog-interactive":
        q = sm.get("query", [])
        out.update(query_p50_s=pct("query", 50),
                   query_p90_s=pct("query", M.tail_percentile(len(q), 90)),
                   queries_per_s=len(q) / v["wall_s"])
    else:
        s = sm.get("serve", [])
        out.update(serve_p50_s=pct("serve", 50),
                   serve_p80_s=pct("serve", M.tail_percentile(len(s), 80)),
                   maintain_p50_s=pct("maintain", 50), compact_p50_s=pct("compact", 50),
                   build_s=v["build_s"],
                   store_ratio=v.get("store_bytes", 0.0) / v["input_bytes"]
                   if v.get("input_bytes") else 0.0)
    return out


def per_layer(workload, res, e2e):
    ops = sum(len(res["samples"].get(k, [])) for k in ("query", "serve", "maintain", "compact"))
    vals = {n: 0.0 for n, _ in per_layer_names()}
    cores = res["values"]["cores"]
    trace = res["trace"]
    ix, setup_ix = M.SpanIndex(trace), M.SpanIndex(res["setup_trace"])

    def lay(name, index=ix):
        return M.layer(index, name, cores)
    if workload == "catalog-interactive":
        for m in CATALOG_MODULES:
            p, x, call = lay(f"{m}.plan"), lay(f"{m}.exec"), lay(m)
            if call:
                vals[f"{m}.plan_s"] = p["mean_s"]
                vals[f"{m}.exec_s"] = x["mean_s"]
                vals[f"{m}.jobs"] = call["jobs"] / call["n"]
                vals[f"{m}.gap_s"] = call["gap_s"] / call["n"]
        for c in CURATION_LAYERS:
            x = lay(c, setup_ix)
            if x:
                vals[f"{c}_s"] = x["mean_s"]
                vals[f"{c}.task_s"] = x["task_s"] / x["n"]
                vals[f"{c}.core_util"] = x["core_util"]
                vals[f"{c}.task_skew"] = x["task_skew"]
                vals[f"{c}.shuffle_mb"] = x["shuffle_mb"] / x["n"]
                vals[f"{c}.spill_mb"] = x["spill_mb"] / x["n"]
        vals["Corpus.kept_docs"] = res["counts"].get("kept_docs", 0)
        vals["Dedup.clusters"] = res["counts"].get("clusters", 0)
    else:
        sv, pl, ex = lay("serve"), lay("serve.plan"), lay("serve.exec")
        if sv:
            vals.update({"serve.plan_s": pl["mean_s"], "serve.exec_s": ex["mean_s"],
                         "serve.jobs": sv["jobs"] / sv["n"], "serve.gap_s": sv["gap_s"] / sv["n"],
                         "serve.shuffle_mb": sv["shuffle_mb"] / sv["n"]})
        sm = res["samples"]
        if sm.get("segments"):
            vals["Retrieval.segments"] = statistics.mean(sm["segments"])
        vals["Similarity.cand_per_hit"] = M.cand_per_hit(sm.get("cands", []), sm.get("hits", []))
        for n in ("DocStream.lexAppendBatch", "DocStream.tombstoneBatch",
                  "VecStream.tombstoneBatch", "Similarity.ivfPqAppend",
                  "Retrieval.maybeCompactLexVersioned", "Similarity.maybeMaintainIvfVersioned"):
            x = lay(n)
            if x:
                vals[f"{n}_s"] = x["mean_s"]
        mt, cp = lay("maintain"), lay("compact")
        if mt:
            vals["maintain.jobs"] = mt["jobs"] / mt["n"]
            vals["maintain.written_mb"] = mt["written_mb"] / mt["n"]
        if cp:
            vals["compact.written_mb"] = cp["written_mb"] / cp["n"]
        if sm.get("live_versions"):
            vals["RootPointer.live_versions"] = statistics.mean(sm["live_versions"])
        for n in ("Retrieval.lexIndexSegment", "Similarity.ivfPqIndex", "Dedup.q53DedupClusters"):
            vals[f"{n}_s"] = res["values"][f"{n}.build_s"]
        vals["Par.overlap"] = res["values"]["par_overlap"]
    run = M.whole_run(trace, res["values"]["wall_s"], cores)
    per_op = max(1, ops)
    vals["jvm.gc_s"] = res["values"]["gc_s"] / per_op
    vals["jvm.heap_peak_mb"] = res["values"]["heap_peak_mb"]
    vals["spark.jobs"] = run["jobs"] / per_op
    vals["spark.tasks"] = run["tasks"] / per_op
    vals["spark.gap_s"] = run["gap_s"] / per_op
    vals["spark.core_util"] = run["core_util"]
    for n, _ in END_TO_END:
        vals[f"{n}.traced"] = e2e[n]
    vals.update(named(workload, res))
    return vals


# --------------------------------------------------------------------- main

def java_cmd(classes, extra):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jars = os.path.join(build.spark_jars(), "*")
    # -XX:-UsePerfData: no hsperfdata file under /tmp, outside the checkout
    return ["java"] + opens + [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
                               "-Dspark.ui.enabled=false",
                               "-cp", f"{classes}:{jars}"] + extra


def run_jvm(cmd, log_path, timeout_s):
    """Run the client JVM in its own process group; kill the group on
    timeout. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=ROOT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a full checkout")
    bdir = build.build_dir()
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "build.log"), "a") as blog:
        try:
            classes = build.build(log=blog)
        except (subprocess.SubprocessError, OSError) as e:
            fail(f"build failed ({e}); see {bdir}/build.log")
    if a.selftest:
        import selftest
        sys.exit(selftest.main(java_cmd(classes, []), bdir))
    if not a.workload:
        fail("--workload is required")
    t_start = time.monotonic()
    host = host_state()
    if host["other_spark_jvms"]:
        print(f"perfbench: WARNING {host['other_spark_jvms']} other Spark/sbt JVM(s) running; "
              "timings of this run are flagged", file=sys.stderr)
    params = WORKLOADS[a.workload]
    inputs = os.path.join(bdir, "inputs", f"{a.workload}-docs{params['docs']}-seed{a.seed}")
    checksums = {}
    if a.workload == "catalog-interactive":
        checksums = catalog_inputs(inputs)
    work = os.path.join(bdir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    extra = dict(params)
    extra["fixtures"] = os.path.join(ROOT, "src", "test", "resources", "fixtures")
    cores = host["nproc"]
    cmd = java_cmd(classes, [f"-Djava.io.tmpdir={work}/tmp", "graft.perfbench.Main",
                             "--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--inputs", inputs, "--work", work, "--out", out,
                             "--cores", str(cores)] + [f"{k}={v}" for k, v in extra.items()])
    log_path = os.path.join(bdir, f"client-{a.workload}.log")
    rc = run_jvm(cmd, log_path, DEADLINE_S - 20 - (time.monotonic() - t_start))
    if rc != 0 or not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"client exited with {rc}; see {log_path}")
    res = json.load(open(out))
    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    if a.workload == "catalog-interactive":
        oracle = os.path.join(work, "oracle")
        checks += oracle_check(inputs, oracle, skip=SLOW_ORACLES)
        try:
            check, counts = funnel_check(inputs, oracle)
            checks.append(check)
            res["counts"].update(counts)
        except (OSError, IndexError) as e:
            checks.append(("q154_curation_funnel", False, str(e)[:300]))
    for k, v in res["info"].items():
        if k.startswith("checksum."):
            checksums[k[len("checksum."):]] = v
    shutil.rmtree(work, ignore_errors=True)
    bad = [c for c in checks if not c[1]]
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + len(bad)
    res["attempted"], res["failed"] = attempted, failed
    e2e, tail = end_to_end(a.workload, res)
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "params": params,
              "tail": tail, "named": named(a.workload, res), "host": host,
              "jvm_flags": res["info"].get("jvm_flags", ""), "inputs": checksums,
              "inputs_cached": res["info"].get("inputs_cached", "true"),
              "gen_s": res["values"].get("gen_s"), "checks_total": len(checks),
              "checks_failed": [list(c) for c in bad],
              "counts": res["counts"], "samples": res["samples"], "values": res["values"]}
    if a.trace:
        vals, units = per_layer(a.workload, res, e2e), dict(per_layer_names())
    else:
        vals, units = e2e, dict(END_TO_END)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in vals.items()}}))


if __name__ == "__main__":
    main()
