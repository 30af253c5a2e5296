#!/usr/bin/env python3
"""Benchmark for the graft genetics engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload heavy_queries --seed 1 --seconds 40 --trace 0

One run is one fresh JVM (`perfbench.Main`, compiled from
`perfbench/harness` against the library sources) driving `local[nproc]`.
The first run in a checkout builds both with sbt. The script prints a
table of every metric with its unit and sample count, then, as the last
line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones (and spans land in
`.perfbench/<workload>/spans.jsonl`). Outputs are checked outside the
timed region: pinned digests and row counts from `perfbench/expected.json`,
and for light_queries a DuckDB replay of the library's oracle SQL.
`--inject-mismatch` corrupts one expected value to show the gate fires.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")

# workload -> (data scale, passes the run must make after the cold one).
# light_queries is not in BENCHMARK.json: a run of it takes longer than
# the benchmark's time budget allows, so it is run by hand.
WORKLOADS = {
    "genetics_chain": ("sf0.01", 0),
    "heavy_queries": ("sf0.001", 1),
    "light_queries": ("sf0.01", 1),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_LIMIT_S = 170.0


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------------------
# host and build


def host():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    load1 = os.getloadavg()[0]
    # a quarter of memory for the heap, within [2, 8] GB
    heap_gb = max(2, min(8, mem_kb // (4 * 1024 * 1024)))
    return {"nproc": cores, "mem_gb": round(mem_kb / 1048576, 1),
            "heap_gb": heap_gb, "load1_at_start": load1}


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src:" + source_digest()[:16]


def classpath():
    # the harness build records where the Spark jars it compiled against are
    with open(os.path.join(HARNESS, "target", "spark-jars.txt")) as f:
        spark_jars = f.read().strip()
    return ":".join([os.path.join(HARNESS, "target", "scala-2.13", "classes"),
                     os.path.join(ROOT, "target", "scala-2.13", "classes"),
                     os.path.join(spark_jars, "*")])


def build():
    """Compile library and harness with sbt unless the sources are
    unchanged since the last build in this checkout."""
    for p in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"run from the root of a graft checkout: {p} is missing")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=850)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"perfbench: built in {time.time() - t0:.0f} s")


# ---------------------------------------------------------------------------
# one JVM


def run_jvm(workload, seed, seconds, trace, scale, min_steady, hw, deadline):
    work = os.path.join(WORK, workload + ("_traced" if trace else ""))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "record.json")
    cmd = ["java", f"-Xms{hw['heap_gb']}g", f"-Xmx{hw['heap_gb']}g", "-XX:ReservedCodeCacheSize=1g",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath(), "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--data", os.path.join(HERE, "data", scale), "--work", work,
            "--out", out, "--min-steady", str(min_steady)]
    env = dict(os.environ, SPARK_MASTER=f"local[{hw['nproc']}]",
               SPARK_SHUFFLE_PARTITIONS=str(hw["nproc"]))
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=jlog,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} JVM overran the run limit; see {work}/jvm.log")
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload} JVM exited {rc}; see {work}/jvm.log")
    with open(out) as f:
        rec = json.load(f)
    rec["work"] = work
    return rec


# ---------------------------------------------------------------------------
# correctness gate


def load_expected(scale, workload, inject):
    with open(os.path.join(HERE, "expected.json")) as f:
        exp = json.load(f)[scale].get(workload, {})
    if inject:
        if workload == "heavy_queries":
            q = sorted(exp)[0]
            exp[q] = "0:0000000000000000:0"
        elif workload == "genetics_chain":
            exp["rows"]["l2g_scores"] += 1
    return exp


CHAIN_OUTPUTS = ["sumstats", "clumped", "leads", "ld_index", "annotated",
                 "finemap_loci", "finemap_ld", "susie_credsets", "credible_sets",
                 "coloc", "distances", "l2g_matrix", "l2g_scores"]


def observe_chain(out):
    """Rows of every chain output, mean score of near and far genes, and
    the number of fine-mapped loci, read from the parquet with DuckDB."""
    import duckdb
    con = duckdb.connect()

    def scan(o):
        return f"read_parquet('{os.path.join(out, o)}/*.parquet')"
    rows = {o: con.execute(f"SELECT count(*) FROM {scan(o)}").fetchone()[0]
            for o in CHAIN_OUTPUTS}
    near, far = con.execute(
        "SELECT avg(score) FILTER (WHERE starts_with(geneId, 'gn_')), "
        f"avg(score) FILTER (WHERE starts_with(geneId, 'gf_')) FROM {scan('l2g_scores')}"
    ).fetchone()
    loci = con.execute(f"SELECT count(DISTINCT locusId) FROM {scan('finemap_loci')}").fetchone()[0]
    return {"rows": rows, "near": near, "far": far, "loci": loci}


def check_chain(obs, exp, seed):
    """Mismatches of the chain: exact rows and score means at the
    default seed, ChainBench's invariants at every seed."""
    rows = obs["rows"]
    bad = [f"{k} has no rows" for k, v in rows.items() if v <= 0]
    if rows["l2g_scores"] != rows["l2g_matrix"]:
        bad.append("score rows != matrix rows")
    near, far = obs["near"], obs["far"]
    if near is None or far is None or not near > far:
        bad.append(f"near-gene mean score {near} !> far {far}")
    if seed % 1000 == 0:
        bad += [f"{k}: {rows.get(k)} rows, expected {v}"
                for k, v in exp["rows"].items() if rows.get(k) != v]
        bad += [f"{k} mean {obs[k]}, expected {exp[k]}"
                for k in ("near", "far") if obs[k] is None or round(obs[k], 4) != exp[k]]
    return bad


def check_digests(rec, exp):
    got = rec.get("check", {})
    return [f"{q}: digest {got.get(q)}, expected {d}"
            for q, d in sorted(exp.items()) if got.get(q) != d]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    keyed = df.copy()
    for c in keyed.columns:
        if keyed[c].dtype.kind == "f":
            keyed[c] = keyed[c].fillna(float("inf"))
        else:
            keyed[c] = keyed[c].astype(object).where(~keyed[c].isna(), "\x00null").astype(str)
    return df.loc[keyed.sort_values(by=list(keyed.columns)).index].reset_index(drop=True)


def check_oracles(rec, scale, inject):
    """Replay each light query's oracle SQL in DuckDB over the same
    tables and compare with the Spark result, exactly."""
    import duckdb
    data = os.path.join(HERE, "data", scale)
    con = duckdb.connect()
    for t in os.listdir(data):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(data, t)}'")
    sql = rec.get("oracle_sql", {})
    bad = []
    for i, (q, path) in enumerate(sorted(rec.get("check", {}).items())):
        try:
            s = canon(con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf())
            d = canon(con.execute(sql[q]).fetchdf())
            n_oracle = len(d) + (1 if inject and i == 0 else 0)
            if list(s.columns) != list(d.columns):
                bad.append(f"{q}: columns {list(s.columns)} vs {list(d.columns)}")
            elif len(s) != n_oracle:
                bad.append(f"{q}: {len(s)} rows, oracle {n_oracle}")
            else:
                for c in s.columns:
                    a, b = s[c], d[c]
                    eq = (a.isna() & b.isna()) | (a.astype(object) == b.astype(object))
                    if not eq.all():
                        bad.append(f"{q}: column {c} differs in {int((~eq).sum())} rows")
                        break
        except Exception as e:  # noqa: BLE001 - every failure is a mismatch
            bad.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
    return bad


# ---------------------------------------------------------------------------
# metrics


def tail(xs):
    """Highest percentile with at least ten samples above it: the
    (n-10)-th smallest value; the maximum when n <= 10."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    k = n - 11
    return s[k], round(100.0 * (k + 1) / n, 1)


def end_to_end(rec, workload):
    passes = rec["passes"]
    steady = passes[1:] or passes
    op_s = [o.get("build_s", 0.0) + o["exec_s"]
            for p in steady for o in p["ops"] if not o.get("failed")]
    if workload == "genetics_chain":
        p = passes[0]
        wall, first, cpu = p["wall_s"], p["chain_wall_s"], p["cpu_s"]
        n_wall = 1
    else:
        wall = statistics.median(p["wall_s"] for p in steady)
        first, cpu = passes[0]["wall_s"], statistics.median(p["cpu_s"] for p in steady)
        n_wall = len(steady)
    t, pct = tail(op_s) if op_s else (0.0, 0.0)
    return {
        "setup_s": (rec["setup_s"], 1, "JVM start to ready session and inputs"),
        "wall_s": (wall, n_wall, "median steady pass" if workload != "genetics_chain"
                   else "sum of the seven step calls, cold"),
        "first_pass_s": (first, 1, "cold first pass" if workload != "genetics_chain"
                         else "whole cold chain, steps and glue"),
        "op_p50_s": (statistics.median(op_s) if op_s else 0.0, len(op_s), "p50"),
        "op_tail_s": (t, len(op_s), f"p{pct}"),
        "cpu_s": (cpu, n_wall, "process CPU per pass"),
        "peak_rss_mb": (rec["peak_rss_mb"], 1, "VmHWM"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", help="data scale (default: the workload's)")
    ap.add_argument("--min-steady", type=int, help="passes after the cold one")
    ap.add_argument("--inject-mismatch", action="store_true",
                    help="corrupt one expected value: the gate must fail")
    a = ap.parse_args()
    t_start = time.time()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json not found: run from the root of the checkout")
    hw = host()
    build()
    ticks0 = cpu_ticks()
    deadline = time.time() + RUN_LIMIT_S
    scale, min_steady = WORKLOADS[a.workload]
    scale = a.scale or scale
    if a.min_steady is not None:
        min_steady = a.min_steady

    # tracing overhead: the traced run's wall_s minus the median wall_s of
    # the untraced runs made in this checkout, or of an untraced twin
    hist_path = os.path.join(WORK, f"untraced_wall_{a.workload}_{scale}_{min_steady}.json")
    history = json.load(open(hist_path)) if os.path.exists(hist_path) else []
    if a.trace and not history:
        twin = run_jvm(a.workload, a.seed, a.seconds, 0, scale, min_steady, hw,
                       deadline - RUN_LIMIT_S / 2)
        history.append(end_to_end(twin, a.workload)["wall_s"][0])
    rec = run_jvm(a.workload, a.seed, a.seconds, a.trace, scale, min_steady, hw, deadline)

    exp = load_expected(scale, a.workload, a.inject_mismatch)
    layers = dict(rec.get("layers", {}))
    if a.workload == "genetics_chain":
        try:
            obs = observe_chain(rec["chain_out"])
            bad = check_chain(obs, exp, a.seed)
        except Exception as e:  # noqa: BLE001 - a missing output is a mismatch
            obs, bad = {"loci": 0}, [f"chain outputs: {type(e).__name__}: {str(e)[:200]}"]
        susie_s = layers.get("finemap.susie_step_s", 0.0)
        layers["finemap.loci"] = obs["loci"]
        layers["finemap.loci_per_s"] = obs["loci"] / susie_s if susie_s else 0.0
    elif a.workload == "heavy_queries":
        bad = check_digests(rec, exp)
    else:
        bad = check_oracles(rec, scale, a.inject_mismatch)
    if a.workload != "genetics_chain":
        layers.update({"finemap.loci": 0.0, "finemap.loci_per_s": 0.0})
    bad += rec.get("errors", [])
    ops = [o for p in rec["passes"] for o in p["ops"]]
    attempted = len(ops) + len(rec.get("check", {}) if a.workload != "genetics_chain" else [1])
    failed = min(attempted, len(bad))

    e2e = end_to_end(rec, a.workload)
    if a.trace:
        layers["trace.overhead_s"] = e2e["wall_s"][0] - statistics.median(history)
    elif not bad:
        with open(hist_path, "w") as f:
            json.dump(history + [e2e["wall_s"][0]], f)

    # CPU time the hypervisor gave to other guests while the JVMs ran: a
    # raw figure next to the raw timings, not a correction of them
    ticks1 = cpu_ticks()
    steal = 100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    cfg = dict(rec["config"], commit=commit(), steal_pct=round(steal, 2), **hw)
    print(f"# perfbench {a.workload} seed={a.seed} trace={a.trace} scale={scale} "
          f"run={time.time() - t_start:.1f}s")
    print("# config " + json.dumps(cfg, sort_keys=True))
    for b in bad:
        print(f"# MISMATCH {b}")
    print(f"# fail_ratio {failed}/{attempted} = {failed / attempted:.4f}")
    metrics = {}
    extra = {}
    if a.trace:
        print(f"# spans {rec.get('spans_file')}")
        # the series break against count()-based records: per heavy query,
        # count() timed next to the noop sink's exec time in the same run
        steady = rec["passes"][1:] or rec["passes"]
        for q, sb in sorted(rec.get("series_break", {}).items()):
            noop = statistics.median(o["exec_s"] for p in steady for o in p["ops"]
                                     if o["name"] == q and not o.get("failed"))
            extra[q] = dict(sb, noop_exec_s=noop)
            print(f"# series-break {q:<26} count()={sb['count_s']:.3f}s "
                  f"noop={noop:.3f}s rows={sb['rows']}")
        for m in spec["per_layer"]:
            v = layers.get(m["name"])
            if v is None:
                fail(f"per-layer metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"{m['name']:<44} {v:14.4f} {m['unit']}")
    else:
        bounded = {m["name"] for m in spec["end_to_end"]}
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": e2e[m["name"]][0], "unit": m["unit"]}
        for name, (v, n, how) in e2e.items():
            unit = "MB" if name.endswith("_mb") else "s"
            note = "" if name in bounded else "  (reported, not bounded)"
            print(f"{name:<16} {v:12.4f} {unit:<6} n={n:<4} {how}{note}")
    with open(os.path.join(rec["work"], "result.json"), "w") as f:
        json.dump({"config": cfg, "mismatches": bad, "metrics": metrics,
                   "series_break": extra}, f, indent=1)
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
