#!/usr/bin/env python3
"""Benchmark of the graft engine: the reference ETL pipeline under a growing
corpus, and a board of SQL query keys.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Builds the program from src/ and the harness from perfbench/jvm/ with the
Scala compiler shipped in Spark's jars, generates the fixture tables with
perfbench/datagen.py, runs one JVM on local[<cpus>], checks the outputs and
prints a report followed by one JSON line with the metrics.  Everything it
writes goes under .bench_build/ in the checkout.  See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # imports below must not write into the checkout
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
# Spark's jars: $SPARK_HOME/jars, else the same release's jars bundled with pyspark
_PYSPARK = importlib.util.find_spec("pyspark")
SPARK_JARS = (Path(os.environ["SPARK_HOME"]) / "jars" if os.environ.get("SPARK_HOME") else
              Path(_PYSPARK.origin).parent / "jars" if _PYSPARK else Path("jars"))
TIMED_SF, SMOKE_SF = "0.1", "0.001"
PIPELINE = {"buckets": 200, "base_buckets": 40, "triggers": 7,
            "base_files": 16, "delta_files": 4}
SMOKE_PIPELINE = {"buckets": 10, "base_buckets": 5, "triggers": 3,
                  "base_files": 2, "delta_files": 1}
SMOKE_KEYS = 3
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
DEADLINE_S = 170

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def main_sources():
    return sorted((ROOT / "src" / "main").rglob("*.scala"))


def build():
    """Compiles src/main and the harness into .bench_build/classes, once per
    distinct source tree."""
    srcs = main_sources() + sorted((HERE / "jvm").glob("*.scala"))
    out = BUILD / "classes"
    stamp = digest(srcs)
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return out
    log(f"compiling {len(srcs)} Scala files")
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
                   + [str(s) for s in srcs], check=True, stdout=sys.stderr)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def fixture(sf):
    """The generated tables at scale factor `sf`, made once per generator."""
    out = BUILD / "data" / f"sf{sf}"
    stamp = digest([HERE / "datagen.py"], sf)
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return out
    log(f"generating sf{sf} tables")
    sys.path.insert(0, str(HERE))
    import datagen
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.generate(str(tmp), float(sf))
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def proc_stat():
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def loadavg():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except (OSError, ValueError):
        return None


def source_state():
    """git HEAD and whether src/ differs from it; without git, only the
    content hash of src/ identifies the program."""
    state = {"git_head": None, "src_dirty": None,
             "src_sha256": digest(sorted(p for p in (ROOT / "src").rglob("*") if p.is_file()))}
    if (ROOT / ".git").exists():
        try:
            head = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                                  capture_output=True, text=True, timeout=20)
            dirty = subprocess.run(["git", "-C", str(ROOT), "status", "--porcelain", "--", "src"],
                                   capture_output=True, text=True, timeout=20)
            if head.returncode == 0:
                state["git_head"] = head.stdout.strip()
                state["src_dirty"] = bool(dirty.stdout.strip())
        except (OSError, subprocess.SubprocessError):
            pass
    return state


def board_keys(workload, seed, smoke):
    """The board's members in this seed's execution order."""
    keys = [k for mod in json.loads((HERE / "boards.json").read_text())[workload].values()
            for k in mod]
    if smoke:
        keys = sorted(keys)[:SMOKE_KEYS]
    random.Random(seed).shuffle(keys)
    return keys


def stage_corpus(sf_dir, seed, work, cfg):
    """Cuts `orders` into the pipeline's CSV batches: rows are dealt to
    seed-hashed buckets; buckets below base_buckets are the warm-up landing,
    each later bucket one trigger's batch. Returns the row counts."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"""CREATE TABLE o AS SELECT *, hash(o_orderkey, {seed}) % {cfg['buckets']} AS bucket,
                    hash(o_orderkey, {seed}, 1) AS h FROM read_parquet('{sf_dir}/orders.parquet')""")
    rows = []

    def write(name, cond, files):
        d = work / "staged" / name
        d.mkdir(parents=True)
        for j in range(files):
            con.execute(f"""COPY (SELECT * EXCLUDE (bucket, h) FROM o WHERE {cond} AND h % {files} = {j}
                            ORDER BY o_orderkey) TO '{d}/part-{j:03d}.csv' (HEADER)""")
        rows.append(con.execute(f"SELECT count(*) FROM o WHERE {cond}").fetchone()[0])

    base = cfg["base_buckets"]
    write("base", f"bucket < {base}", cfg["base_files"])
    for i in range(cfg["triggers"]):
        write(f"delta{i}", f"bucket = {base + i}", cfg["delta_files"])
    con.close()
    return rows


def run_jvm(args, work, classes, sf_dir, setup_start):
    cpus = len(os.sched_getaffinity(0))
    jvm_args = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "cpus": cpus, "work": work, "sf_dir": sf_dir,
                "out": work / "result.json",
                "spawn_ms": f"{setup_start * 1000:.3f}"}
    if args.workload == "pipeline_incremental":
        rows = stage_corpus(sf_dir, args.seed, work, SMOKE_PIPELINE if args.smoke else PIPELINE)
        jvm_args.update(staged=work / "staged", staged_rows=",".join(map(str, rows)))
    else:
        jvm_args["keys"] = ",".join(board_keys(args.workload, args.seed, args.smoke))
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    (work / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-XX:-UsePerfData"] + opens +
           ["-Xmx4g",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work / 'derby'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Harness"]
           + [f"{k}={v}" for k, v in jvm_args.items()])
    budget = max(30.0, DEADLINE_S - (time.time() - setup_start))
    with open(work / "jvm.out", "w") as out, open(work / "jvm.err", "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM exceeded {budget:.0f} s")
    if code != 0:
        tail = (work / "jvm.err").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"JVM exited with {code}:\n{tail}")
    return json.loads((work / "result.json").read_text()), cpus


def oracle_checks(res, sf_dir, vout):
    """DuckDB compare of each dumped key, by the rules of tools/diffcheck.py."""
    if not res["oracle_keys"]:
        return []
    import duckdb
    sys.path.insert(0, str(ROOT / "tools"))
    import diffcheck
    diffcheck.ORACLE = json.loads((vout / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in diffcheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = []
    for k in res["oracle_keys"]:
        try:
            r = diffcheck.compare(k, str(sf_dir), str(vout), con)
        except Exception as e:  # a crash of the comparison is a failed check
            r = f"FAIL {k}: {type(e).__name__}: {e}"
        out.append({"name": f"oracle:{k}", "error": r.strip() if r.startswith("FAIL") else None})
    con.close()
    return out


def end_to_end(res):
    by_name = {}
    for o in res["ops"]:
        if o["error"] is None:
            by_name.setdefault(o["name"], []).append(o["latency_s"])
    if not by_name:
        raise RuntimeError("every timed operation failed")
    lat = [x for v in by_name.values() for x in v]
    # Per-operation medians first: a median pooled over a few keys' repeated
    # runs jumps between neighbouring keys' latencies from run to run.
    per_op = [statistics.median(v) for v in by_name.values()]
    m = {"setup_s": res["setup_s"], "op_s_p50": statistics.median(per_op),
         "pass_s": sum(per_op)}
    # No tail metric: a pipeline run is 6 triggers, and a board run's top ten
    # are its slowest keys' passes; p90 is reported, not declared.
    p90 = statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0]
    return m, {"samples": len(lat), "passes": res["passes"], "p90_s": p90}


# ------------------------------------------------------------------ tracing

PARENT_LAYERS = ("root", "call.", "etl.", "stream.batch")


def attach(spans):
    """Gives each listener span (parent -1) the innermost benchmark span,
    root or micro-batch whose interval holds its start. Spans outside every
    root are dropped; returns the kept spans and a child index."""
    by_id = {s["id"]: s for s in spans}
    holders = sorted((s for s in spans if s["layer"].startswith(PARENT_LAYERS)),
                     key=lambda s: s["t1"] - s["t0"])
    for s in spans:
        if s["layer"] == "root" or s["parent"] != -1:
            continue
        for h in holders:
            if h is not s and h["t0"] - 1 <= s["t0"] <= h["t1"] + 1 and \
                    h["t1"] - h["t0"] >= s["t1"] - s["t0"]:
                s["parent"] = h["id"]
                break

    kept = [s for s in spans if ancestor(s, "root", by_id) is not None]
    children = {}
    for s in kept:
        children.setdefault(s["parent"], []).append(s)
    return kept, children


def ancestor(s, layer, by_id):
    """The innermost span of `layer` that holds `s` (itself included)."""
    for _ in range(64):
        if s is None or s["layer"] == layer:
            return s
        s = by_id.get(s["parent"])
    return None


def stage_work(spans, layer):
    """Per root id: the summed stage attributes under that root's `layer`
    spans (the program's own work inside the span, as its tasks report it)."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for st in spans:
        if st["layer"] != "sched.stage":
            continue
        holder = ancestor(st, layer, by_id)
        root = ancestor(holder, "root", by_id)
        if root is not None:
            acc = out.setdefault(root["id"], {})
            for k, v in st["attrs"].items():
                acc[k] = acc.get(k, 0.0) + v
    return out


def covered(t0, t1, intervals):
    """Length of [t0, t1] covered by the union of `intervals`."""
    total, end = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def per_layer(res, cpus):
    spans, children = attach(res["spans"])
    dur = lambda s: (s["t1"] - s["t0"]) / 1000.0
    layers = {}
    for s in spans:
        kids = [(c["t0"], c["t1"]) for c in children.get(s["id"], [])]
        self_s = dur(s) - covered(s["t0"], s["t1"], kids) / 1000.0
        row = layers.setdefault(s["layer"], [0, 0.0, 0.0])
        row[0] += 1
        row[1] += dur(s)
        row[2] += self_s
    of = lambda layer: [s for s in spans if s["layer"] == layer]
    tot = lambda layer: sum((dur(s) for s in of(layer)), 0.0)
    stages = of("sched.stage")
    st = lambda k: sum(s["attrs"][k] for s in stages)
    batches = of("stream.batch")
    ba = lambda *ks: sum(b["attrs"].get(k, 0.0) for b in batches for k in ks) / 1000.0
    roots = of("root")
    ra = lambda k: sum(r["attrs"].get(k, 0.0) for r in roots)
    etl_roots = [r for r in roots if "rows_new" in r["attrs"]]
    # Useful over attempted work, from the tasks inside the stage spans:
    # multiLine CSV inference reads one input record per file, and the JDBC
    # load reports the rows it wrote as output records.
    inferred = stage_work(spans, "etl.infer")
    loaded = stage_work(spans, "etl.load")
    for r in etl_roots:
        r["attrs"]["files_scanned"] = inferred.get(r["id"], {}).get("records_read", 0.0)
        r["attrs"]["rows_loaded"] = loaded.get(r["id"], {}).get("records_written", 0.0)
    unattributed = sum(
        dur(r) - covered(r["t0"], r["t1"], [(c["t0"], c["t1"]) for c in children.get(r["id"], [])
                                            if c["layer"].startswith("etl.")]) / 1000.0
        for r in etl_roots)
    wall = res["traced_wall_s"]
    root_sum = sum(dur(r) for r in roots)
    untraced = sum(o["latency_s"] for o in res["ops"])
    ratio = lambda a, b: ra(a) / ra(b) if ra(b) else 0.0
    mb = 1024.0 * 1024.0
    m = {
        "call.build_s": tot("call.build"), "call.action_s": tot("call.action"),
        "plan.analysis_s": tot("plan.analysis"), "plan.optimization_s": tot("plan.optimization"),
        "plan.planning_s": tot("plan.planning"),
        "codegen.classes": ra("codegen_classes"),
        "sched.jobs": len(of("sched.job")), "sched.stages": len(stages),
        "sched.tasks": st("tasks"), "sched.delay_s": st("sched_delay_ms") / 1000.0,
        "exec.run_s": st("run_ms") / 1000.0, "exec.cpu_s": st("cpu_ns") / 1e9,
        "exec.gc_s": st("gc_ms") / 1000.0,
        "exec.busy_frac": st("run_ms") / 1000.0 / (root_sum * cpus) if root_sum else 0.0,
        "exec.shuffle_read_mb": st("shuffle_read_bytes") / mb,
        "exec.shuffle_write_mb": st("shuffle_write_bytes") / mb,
        "exec.spill_mb": st("spill_bytes") / mb,
        "stream.batches": len(batches), "stream.batch_s": ba("triggerExecution"),
        "stream.plan_s": ba("queryPlanning"), "stream.commit_s": ba("walCommit", "commitOffsets"),
        "stream.offsets_s": ba("latestOffset", "getBatch"),
        "etl.infer_s": tot("etl.infer"), "etl.ingest_s": tot("etl.ingest"),
        "etl.crawl_s": tot("etl.crawl"), "etl.load_s": tot("etl.load"),
        "etl.query_s": tot("etl.query"), "etl.unattributed_s": unattributed,
        "etl.files_scanned_per_new_file": ratio("files_scanned", "files_new"),
        "etl.rows_loaded_per_new_row": ratio("rows_loaded", "rows_new"),
        "jvm.jit_s": res["jit_ms"] / 1000.0, "jvm.heap_peak_mb": res["heap_peak_bytes"] / mb,
        "trace.wall_s": wall, "trace.ops_s": root_sum, "trace.untraced_ops_s": untraced,
        "trace.overhead_s": root_sum - untraced,
    }
    report = ["traced run, per layer: count, total s, self s"]
    for layer in sorted(layers):
        n, t, s = layers[layer]
        report.append(f"  {layer:<18} {n:>6} {t:>10.3f} {s:>10.3f}")
    root_self = layers.get("root", [0, 0.0, 0.0])[2]
    report.append(f"  traced wall {wall:.3f} s; roots cover {root_sum:.3f} s; "
                  f"root self time (not under any layer span) {root_self:.3f} s; "
                  f"between roots {wall - root_sum:.3f} s")
    report.append(f"  the same operations untraced took {untraced:.3f} s (run interleaved "
                  f"with them, untraced, traced, traced, untraced, ...); "
                  f"tracing overhead {m['trace.overhead_s']:+.3f} s "
                  f"({100.0 * m['trace.overhead_s'] / untraced:+.1f}%)")
    for r in etl_roots:
        kids = {c["layer"]: dur(c) for c in children.get(r["id"], []) if c["layer"].startswith("etl.")}
        a = r["attrs"]
        report.append(
            f"  pass {int(a['pass'])} trigger {int(a['trigger'])}: {dur(r):.3f} s = "
            + " ".join(f"{k[4:]} {kids.get(k, 0.0):.3f}" for k in
                       ("etl.infer", "etl.ingest", "etl.crawl", "etl.load", "etl.query"))
            + f"; files scanned {int(a['files_scanned'])} for {int(a['files_new'])} new, "
              f"rows loaded {int(a['rows_loaded'])} for {int(a['rows_new'])} new")
    return m, report


# --------------------------------------------------------------------- main

def main():
    t_start = time.time()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["pipeline_incremental", "board_sql"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help=f"sf{SMOKE_SF}, {SMOKE_KEYS} keys or {SMOKE_PIPELINE['triggers']} triggers")
    args = p.parse_args()
    if not main_sources():
        log(f"no program sources under {ROOT / 'src' / 'main'}; nothing to benchmark")
        return 2
    stat0, load0 = proc_stat(), loadavg()
    t_built = time.time()
    classes = build()
    sf = SMOKE_SF if args.smoke else TIMED_SF
    sf_dir = fixture(sf)
    # set-up time runs from process start, less the one-time build and
    # fixture generation a checkout's first run pays
    setup_start = t_start + (time.time() - t_built)
    work = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res, cpus = run_jvm(args, work, classes, sf_dir, setup_start)
        checks = res["checks"] + oracle_checks(res, sf_dir, work / "vout")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stat1 = proc_stat()
    failures = [o for o in res["ops"] if o["error"]] + [c for c in checks if c["error"]]
    attempted = len(res["ops"]) + len(checks)
    for f in failures:
        log(f"FAILED {f['name']}: {f['error']}")
    e2e, shape = end_to_end(res)
    context = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus, "sf": float(sf),
        "action": "noop",
        "smoke": args.smoke, "traced": bool(args.trace), **source_state(),
        "loadavg_start": load0, "loadavg_end": loadavg(),
        "steal_pct": (round(100.0 * (stat1[0] - stat0[0]) / (stat1[1] - stat0[1]), 3)
                      if stat0 and stat1 and stat1[1] > stat0[1] else None),
        "session_s": res["session_s"], "untraced_wall_s": res["untraced_wall_s"], **shape,
        "checks": len(checks), "failed_frac": len(failures) / attempted,
    }
    print("context " + json.dumps(context))
    names = {"setup_s": "process start to first timed operation",
             "op_s_p50": "trigger_s_p50" if args.workload == "pipeline_incremental" else "query_s_p50",
             "pass_s": "episode trigger sum" if args.workload == "pipeline_incremental" else "board_s"}
    for k, v in e2e.items():
        print(f"  {k:<10} {v:10.4f} s   ({names[k]})")
    print(f"  p90        {shape['p90_s']:10.4f} s   (of {shape['samples']} operations)")
    for f in failures:
        print(f"  FAILED {f['name']}: {f['error']}")
    if args.workload == "pipeline_incremental":
        rows = sum(o["attrs"].get("rows_new", 0) for o in res["ops"])
        print(f"  pipeline_rows_per_s {rows / sum(o['latency_s'] for o in res['ops']):.1f} rows/s")
    if args.trace:
        metrics, report = per_layer(res, cpus)
        print("\n".join(report))
    else:
        metrics = e2e
    declared = SPEC["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared}}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line: the run failed
        log(f"error: {type(e).__name__}: {e}")
        sys.exit(1)
