#!/usr/bin/env python3
"""Benchmark runner for the Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark
from source (sbt, offline), generates the workload's inputs from the
seed under .bench_work/, runs one fresh JVM with a single client issuing
operations back to back in whole passes (one per 40 s of --seconds, at
least one), checks the outputs, and prints one JSON object as the last
line of stdout. --trace 0 prints the end-to-end metrics; --trace 1 runs
the same loop with tracing on, and prints the per-layer metrics plus the
tracing overhead. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ["roster_star", "vector_graph"]
# Input sizes (see README.md for why).
ROSTER_FILES, ROSTER_ROWS_PER_FILE = 12, 430
STAR_SF = 0.02
GRAPH_SF = 0.005
VECTORS, VECTOR_DIM, VECTOR_CLUSTERS = 4000, 64, 32
XMX = "2g"
DEADLINE_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ building

def source_hash():
    """Hash of everything the build reads, so an unchanged tree reuses the
    classpath of its earlier build."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"")
    return h.hexdigest()[:16]


def snapshot(cp, dest):
    """Copy every classpath entry inside the checkout (the engine's and the
    benchmark's class directories) to `dest` and return the classpath over
    the copies. sbt rewrites target/ on the next build of other sources, so
    a saved classpath must not point there; entries outside the checkout
    (Spark's and Scala's jars) are toolchain files and are kept as they are."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        p = Path(entry).resolve()
        if ROOT not in p.parents:
            out.append(entry)
            continue
        copy = dest / f"{i:03d}-{p.name}"
        if p.is_dir():
            shutil.copytree(p, copy)
        elif p.exists():
            shutil.copy2(p, copy)
        else:
            continue
        out.append(str(copy))
    return os.pathsep.join(out)


def build(work):
    """Compile the engine and the benchmark, unless this exact source tree
    was built before; returns a classpath over snapshots of the classes."""
    key = source_hash()
    stamp = work / "build" / f"{key}.classpath"
    if stamp.exists():
        return stamp.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("perfbench: building the engine and the benchmark (sbt compile)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    cp = lines[-1].strip() if lines else ""
    if r.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        log(r.stdout[-4000:])
        fail("build failed")
    # Snapshot into a fresh directory, then publish the stamp by rename, so
    # an interrupted copy is never found as a finished build.
    dest = work / "build" / key
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    cp = snapshot(cp, dest)
    tmp = stamp.with_suffix(".tmp")
    tmp.write_text(cp)
    tmp.replace(stamp)
    return cp


# --------------------------------------------------------------- environment

def cpu_ticks():
    f = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
    vals = [int(x) for x in f]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "unknown (not a git checkout)"


# ------------------------------------------------------------------- inputs

def make_inputs(workload, seed, inp):
    inp.mkdir(parents=True)
    if workload == "roster_star":
        facts = gen.roster_corpus(str(inp), seed, str(ROOT / "tools" / "golden"),
                                  ROSTER_FILES, ROSTER_ROWS_PER_FILE)
        facts.update(gen.star_tables(str(inp), seed, STAR_SF, skew=False))
        return facts
    facts = gen.vectors(str(inp), seed, VECTORS, VECTOR_DIM, VECTOR_CLUSTERS)
    facts.update(gen.star_tables(str(inp), seed, GRAPH_SF, skew=True))
    return facts


def oracle_checks(inp, results):
    """Compare each dumped result with its DuckDB oracle SQL, canonicalized
    as tools/check_oracle.py does (column types, then sorted rows)."""
    import duckdb
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    for t in Path(inp).glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    out = []
    sqls = json.loads((results / "oracle_sql.json").read_text())
    for name, sql in sorted(sqls.items()):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{results / name}/*.parquet')").arrow()
            exp = con.execute(sql).arrow()
        except Exception as e:  # a failed query is a failed check
            out.append((name, False, f"exec: {str(e)[:200]}"))
            continue

        def types(tbl):
            return {f.name: ("timestamp" if str(f.type).startswith("timestamp") else str(f.type))
                    for f in tbl.schema}
        g = canon([tuple(r.values()) for r in got.to_pylist()], got.schema.names)[1]
        e = canon([tuple(r.values()) for r in exp.to_pylist()], exp.schema.names)[1]
        ok = types(got) == types(exp) and g == e
        out.append((name, ok, f"{len(g)} rows vs oracle {len(e)}"))
    return out


# ------------------------------------------------------------------ metrics

# Request-sized operations: a headline query, a probe batch.
REQUESTS = {"relational.query", "vec.probe"}


def end_to_end(res):
    ms = [o["ms"] for o in res["ops"] if o["ms"] is not None]
    return {
        "setup_s": M.median([s["total_s"] for s in res["setup"]]),
        "peak_rss_mb": res["rss_hwm_kb"] / 1024.0,
        "pass_s": sum(ms) / 1e3 / res["passes"],
        "request_ms_p50": M.median([o["ms"] for o in res["ops"]
                                    if o["name"] in REQUESTS and o["ms"] is not None]),
    }


def ms_of(res, name):
    return [o["ms"] for o in res["ops"] if o["ms"] is not None and o["name"] == name]


def details(res, facts):
    """The figures of each part a workload ran."""
    d = {}
    names = {o["name"] for o in res["ops"]}
    if "etl.write_all" in names:
        t = M.median(ms_of(res, "etl.write_all")) / 1e3
        d["etl_rows_per_s"] = facts["tr_rows"] / t if t else 0.0
        d["etl_bytes_per_input_byte"] = facts["out_bytes"] / facts["in_bytes"]
    if "relational.query" in names:
        q = ms_of(res, "relational.query")
        d["star_queries_per_s"] = len(q) / (sum(q) / 1e3) if q else 0.0
        d["star_query_ms_p50"] = M.median(q)
        d["star_query_ms_p90"] = M.percentile(q, 90) if len(q) >= 100 else 0.0
    if "ivf.build" in names:
        d["vec_build_s"] = sum(M.median(ms_of(res, n)) for n in
                               ("ivf.build", "ivf.save", "pq.train", "pq.encode")) / 1e3
        d["vec_index_bytes_per_vector_byte"] = facts["index_bytes"] / facts["vector_bytes"]
        p = ms_of(res, "vec.probe")
        d["vec_probe_ms_p50"] = M.median(p)
        d["vec_probe_ms_p90"] = M.percentile(p, 90) if len(p) >= 100 else 0.0
        c = M.median(ms_of(res, "similarity.cosine_topk")) / 1e3
        d["vec_exact_pairs_per_s"] = facts["pairs_scored"] / c if c else 0.0
        d["vec_recall_at10"] = facts["recall_at10"] or 0.0
    g = [o for o in res["ops"] if o["ms"] is not None
         and o["name"].startswith("graphs.") and o["name"].rsplit(".", 1)[1].isdigit()]
    if g:
        iters = sum(int(o["name"].rsplit(".", 1)[1]) for o in g)
        d["graph_iters_per_s"] = iters / (sum(o["ms"] for o in g) / 1e3)
    return d


def per_layer(res, facts, spans, spec):
    """Every per-layer metric named in BENCHMARK.json; a layer the workload
    does not exercise reports 0."""
    out = {m["name"]: 0.0 for m in spec}
    out.update(details(res, facts))
    incl = M.inclusive(spans)
    traced_ops = [s for s in spans if s["parent"] == 0 and s["name"] in
                  {o["name"] for o in res["ops"]}]
    n = max(1, len(traced_ops))
    for c in M.COUNTERS:
        out[f"spark.{c}"] = sum(incl[s["id"]][c] for s in traced_ops) / n
    out["sessions.build_ms"] = M.median([s["build_ms"] for s in res["setup"]])
    out["sessions.warm_ms"] = M.median([s["warm_ms"] for s in res["setup"]])
    out["sessions.cold_start_s"] = res["setup"][0]["cold_s"]
    attempted = len(res["ops"]) + len(res["checks"])
    failed = sum(1 for o in res["ops"] if not o["ok"]) + sum(1 for c in res["checks"] if not c["ok"])
    out["ops_failed_ratio"] = failed / attempted
    out.update({k: v for k, v in res["probes"].items() if k in out})

    def named(name):
        return [s for s in spans if s["name"] == name]

    def med_ms(name):
        return M.median([s["end_ms"] - s["start_ms"] for s in named(name)])

    def mean_incl(names, c):
        ss = [s for s in spans if s["name"] in names]
        return sum(incl[s["id"]][c] for s in ss) / len(ss) if ss else 0.0

    names = {s["name"] for s in spans}
    if "etl.write_all" in names:
        stages = M.self_times([(n, med_ms(f"etl.stage.{n}"))
                               for n in ("grid_rows", "resolve", "tables", "write")])
        out["etl.grid_rows_ms"] = stages["grid_rows"]
        out["etl.resolve_self_ms"] = stages["resolve"]
        out["etl.tables_self_ms"] = stages["tables"]
        out["etl.write_self_ms"] = stages["write"]
        out["etl.fact_rows_per_data_row"] = facts["fact_rows"] / facts["data_rows"]
        out["etl.jobs"] = mean_incl({"etl.write_all"}, "jobs")
        out["etl.tasks"] = mean_incl({"etl.write_all"}, "tasks")
        out["etl.shuffle_write_bytes"] = mean_incl({"etl.write_all"}, "shuffle_write_bytes")
    if "relational.query" in names:
        q = {"relational.query"}
        out["relational.plan_ms_p50"] = med_ms("relational.plan")
        out["relational.exec_ms_p50"] = med_ms("relational.exec")
        out["relational.jobs_per_query"] = mean_incl(q, "jobs")
        out["relational.tasks_per_query"] = mean_incl(q, "tasks")
        out["relational.shuffle_bytes_per_query"] = mean_incl(q, "shuffle_write_bytes")
        out["relational.scheduler_delay_ms"] = mean_incl(q, "scheduler_delay_ms")
    if "ivf.build" in names:
        for n in ("ivf.build", "ivf.save", "pq.train", "pq.encode"):
            out[f"{n}_ms"] = med_ms(n)
        out["indexcommit.bytes_written"] = facts["index_bytes"]
        out["ivf.search_ms_p50"] = med_ms("ivf.search")
        out["pq.adc_ms_p50"] = med_ms("pq.adc")
        out["vec.jobs_per_batch"] = mean_incl({"vec.probe"}, "jobs")
        out["similarity.cosine_topk_ms"] = med_ms("similarity.cosine_topk")
        out["graphs.embedding_related_ms"] = med_ms("graphs.embedding_related")
        out["similarity.pairs_scored"] = facts["pairs_scored"]
    if "iterations" in facts:
        sums = {c: 0.0 for c in ("jobs", "tasks", "scheduler_delay_ms", "shuffle_write_bytes")}
        d_iters = 0
        for algo, metric in (("pagerank", "graphs.pagerank_ms_per_iter"),
                             ("hits", "graphs.hits_ms_per_iter"),
                             ("lpa", "graphs.lpa_ms_per_iter"),
                             ("kcore", "graphs.kcore_ms_per_round")):
            a, b = facts["iterations"][algo]
            na, nb = f"graphs.{algo}.{a}", f"graphs.{algo}.{b}"
            out[metric] = M.slope(a, med_ms(na), b, med_ms(nb))
            for c in sums:
                sums[c] += mean_incl({nb}, c) - mean_incl({na}, c)
            d_iters += b - a
        out["graphs.jobs_per_iter"] = sums["jobs"] / d_iters
        out["graphs.tasks_per_iter"] = sums["tasks"] / d_iters
        out["graphs.scheduler_delay_ms_per_iter"] = sums["scheduler_delay_ms"] / d_iters
        out["graphs.shuffle_bytes_per_iter"] = sums["shuffle_write_bytes"] / d_iters
        out["graphs.persistent_rdds_after_pass"] = facts["persistent_rdds_after_pass"]
    return {m["name"]: {"value": float(out[m["name"]]), "unit": m["unit"]} for m in spec}


# --------------------------------------------------------------------- main

def main():
    # A terminated run still stops its JVM and removes its inputs: the
    # exception unwinds through subprocess.run (which kills the child) and
    # the cleanup below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
                 ROOT / "tools" / "golden" / "personnel_cases.jsonl",
                 ROOT / "BENCHMARK.json"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} not found: run from the root of a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    work_root = ROOT / ".bench_work"
    cp = build(work_root)
    run_dir = work_root / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work = run_dir / "input", run_dir / "work"
    try:
        facts_in = make_inputs(a.workload, a.seed, inp)
        (work / "tmp").mkdir(parents=True)
        cpus = min(4, os.cpu_count() or 1)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                   SPARK_LOCAL_DIRS=str(work / "tmp"))
        cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", f"-Xms{XMX}", f"-Xmx{XMX}",
                f"-Djava.io.tmpdir={work / 'tmp'}",
                f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
                "-cp", cp, "graft.perfbench.Main", a.workload, str(inp), str(work),
                str(a.seconds), str(a.trace), str(a.seed)])
        load0 = Path("/proc/loadavg").read_text().split()[:3]
        tot0, steal0 = cpu_ticks()
        budget = DEADLINE_S - (time.time() - t_start)
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                               timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {DEADLINE_S} s")
        if r.returncode != 0:
            fail(f"JVM exited with {r.returncode}")
        tot1, steal1 = cpu_ticks()
        res = json.loads((work / "result.json").read_text())
        facts = dict(facts_in, **res["facts"])

        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        if (work / "results" / "oracle_sql.json").exists():
            oracle = oracle_checks(inp, work / "results")
            # the dump itself was a check; the oracle compare replaces it
            dumped = {n for n, _, _ in oracle}
            checks = [c for c in checks if c[0] not in dumped] + oracle
        res["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]
        for n, ok, d in checks:
            if not ok:
                log(f"perfbench: check failed: {n}: {d}")
        attempted = len(res["ops"]) + len(checks)
        failed = sum(1 for o in res["ops"] if not o["ok"]) + sum(1 for c in checks if not c[1])

        if a.trace:
            spans = [json.loads(ln) for ln in (work / "spans.jsonl").read_text().splitlines() if ln]
            out = per_layer(res, facts, spans, spec["per_layer"])
        else:
            e2e = end_to_end(res)
            out = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        print(json.dumps({"run_env": {
            "workload": a.workload, "seed": a.seed, "nproc": os.cpu_count(),
            "master": res["master"], "xmx_mb": res["xmx_mb"],
            "loadavg_start": load0, "loadavg_end": Path("/proc/loadavg").read_text().split()[:3],
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, tot1 - tot0),
            "git_commit": git_commit(), "inputs": facts_in,
            "cold_start_s": res["setup"][0]["cold_s"],
            "details": details(res, facts),
            "checks": res["checks"]}}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": out}))
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
