#!/usr/bin/env python3
"""Benchmark of the graft engine: one command that builds the program from
source, generates the inputs, runs one workload, checks its outputs and
prints every metric by name with its unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --steady <runs> [--workload <name>] [--seconds <s>]

Run it from the root of a checkout. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1. The
full run record (machine, versions, ops, checks) goes to stderr and to
.bench_build/perfbench/records/. Traced runs also write their spans there.

--steady runs two sets of <runs> untraced runs (seeds 1..runs) plus one
traced run per set, and prints, for every end-to-end metric, each set's
quartile spread as a share of its median, the shift between the two
medians, the metric's bound, and the tracing overhead on wall_s.

Inputs: the sf0.1 tables under $PERFBENCH_TESTDATA (default
~/testdata, read only). Everything the benchmark writes stays under
.bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", os.path.expanduser("~/testdata"))
CORES = min(4, os.cpu_count() or 1)
XMX = "4g"
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
GEN_VERSION = "replicas-v5"
PIPELINE_DAYS = ("2024-01-01", "2024-01-02")
CDC_BATCHES = 2
WORKLOADS = ("pipeline_x16", "catalog_sf0.1")

# The fixture tables each lake cell reads (directly or through a view's
# source); a lake cell not listed here depends on every fixture table.
LAKE_FIXTURES = {
    "lake_mv_rewrite": ["orders_mv", "orders_lk"],
    "lake_mv_rewrite_join": ["orders_cd_mv", "orders_cd", "cust_dim"],
    "lake_skip_dpp": ["orders_pt", "years_dim"],
}

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{XMX}"]


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def java(classes, args, timeout):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)), "harness",
                         "log4j2.properties")
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}",
                                  f"-Dlog4j2.configurationFile={log4j}", "-cp",
           classes + ":" + os.path.join(build.spark_jars(ROOT), "*"), "perfbench.Main"] + args
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise RuntimeError(f"JVM exceeded {timeout:.0f} s")
    if p.returncode != 0:
        raise RuntimeError(f"JVM exited with {p.returncode}")


def tree_hash(d):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def prepare(classes, workload, seed):
    """Replicas, the pipeline's CDC batches for `seed`, and oracle hashes
    for every workload, cached by content. Returns (dirs, oracle hashes by
    workload, seconds spent here)."""
    t0 = time.time()
    sf = os.path.join(TESTDATA, "sf0.1")
    if not glob.glob(os.path.join(sf, "*.parquet")):
        raise RuntimeError(f"input tables missing under {sf}")
    key = tree_hash(sf)
    inputs = os.path.join(OUT, "inputs")
    x16 = os.path.join(inputs, f"x16-{GEN_VERSION}-{key}")
    sql_path = os.path.join(classes, "oracle_sql.json")
    if not (os.path.isfile(os.path.join(x16, "_READY")) and os.path.isfile(sql_path)):
        log(f"preparing replicas under {inputs} and the oracle SQL of this build")
        java(classes, ["--mode", "prepare", "--cores", str(CORES), "--sf", sf, "--x16", x16,
                       "--work", os.path.join(OUT, "work-prepare"),
                       "--out", sql_path + ".tmp"], timeout=800)
        os.replace(sql_path + ".tmp", sql_path)
    cdc = os.path.join(inputs, f"cdc-{GEN_VERSION}-{key}-seed{seed}")
    if workload == "pipeline_x16":
        gen.cdc(os.path.join(x16, "events.parquet"), PIPELINE_DAYS, seed, CDC_BATCHES, cdc)
    sqls = oracle.load_json(sql_path)
    tables = {"catalog_sf0.1": (sf, key), "pipeline_x16": (x16, "x16" + key)}
    hashes = {}
    for w, cells in sqls.items():
        d, k = tables[w]
        hashes[w] = oracle.oracle_hashes(
            d, k, {c: s for c, s in cells.items() if s}, os.path.join(OUT, "oracle"))
    dirs = {"sf": sf, "x16": x16, "cdc": cdc}
    return dirs, hashes, time.time() - t0


def preflight(cells):
    """Lake cells whose fixture sidecars point outside this checkout, with
    the reason. They are reported failed and never timed."""
    root = os.path.realpath(ROOT) + os.sep
    lake = os.path.join(ROOT, "fixtures", "lake")
    outside = {}
    for table in sorted(os.listdir(lake)) if os.path.isdir(lake) else []:
        for f in sorted(glob.glob(os.path.join(lake, table, "**", "*"), recursive=True)):
            name = os.path.basename(f)
            if (not os.path.isfile(f) or name.endswith((".parquet", ".crc"))
                    or os.path.getsize(f) > 65536):
                continue
            with open(f, "rb") as fh:
                data = fh.read()
            if b"\0" in data:  # bloom filters and other binary sidecars
                continue
            text = data.decode("utf-8", errors="replace")
            for p in re.findall(r"(?<![\w.])((?:/[\w.=-]+){2,})", text):
                if not os.path.realpath(p).startswith(root):
                    outside.setdefault(table, f"{os.path.relpath(f, ROOT)} points at {p}, "
                                              f"outside the checkout {ROOT}")
                    break
    skip = {}
    for c in cells:
        if not c.startswith("lake_"):
            continue
        deps = LAKE_FIXTURES.get(c, sorted(outside))
        bad = [outside[t] for t in deps if t in outside]
        if bad:
            skip[c] = "checkout-path preflight: " + bad[0]
    return skip


def pct_tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    if len(xs) < 11:
        return xs[-1], 100.0
    return xs[len(xs) - 11], 100.0 * (len(xs) - 10) / len(xs)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans):
    """Self time per layer: a span's duration minus the union of the
    intervals its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        covered, end = 0.0, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start_ms"]), min(b, s["end_ms"])
            if end is None or a > end:
                covered += max(0.0, b - a)
                end = b
            elif b > end:
                covered += b - end
                end = b
        own = max(0.0, s["end_ms"] - s["start_ms"] - covered)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own / 1e3
    return out


def end_to_end(rec, ok_ops):
    passes = rec["passes"]
    walls = [o["wall_s"] for o in ok_ops]
    tail, tail_pct = pct_tail(walls) if walls else (0.0, 0.0)
    m = {
        "wall_s": (med([p["wall_s"] for p in passes]), "s"),
        "setup_s": (rec["session_s"] + med(rec["setup_rounds_s"]), "s"),
        "op_p50_s": (med(walls), "s"),
        "cpu_s": (med([p["cpu_s"] for p in passes]), "s"),
        "live_heap_mb": (max(p["live_heap_mb"] for p in passes), "MB"),
    }
    # A run has 10 to 16 ops, so the highest percentile with ten ops beyond
    # it is a low one (p17 to p38) that moves too much between runs to hold
    # a regression bound: it is recorded, not reported as a metric.
    notes = {"ops": len(walls), "op_tail_s": tail, "op_tail_percentile": round(tail_pct, 1),
             "passes": len(passes)}
    return m, notes


def per_layer(rec, ok_ops):
    n = max(1, len(rec["passes"]))
    ext = rec.get("extra", {})

    def sel(layer=None, stage=None, prefix=None):
        return [o for o in ok_ops
                if (layer is None or o["layer"] == layer)
                and (stage is None or o["stage"] == stage)
                and (prefix is None or re.match(prefix, o["name"]))]

    def total(os_, k):
        return sum(o["attrs"].get(k, 0.0) for o in os_) / n

    def wall(os_):
        return med([o["wall_s"] for o in os_])

    def fs_ops(os_):
        return sum(o["attrs"].get(k, 0.0) for o in os_ for k in (
            "fs_probes", "fs_lists", "fs_opens", "fs_creates", "fs_renames",
            "fs_deletes", "fs_mkdirs"))

    days = sel("bronze", "backfill")
    bronze = sel("bronze")
    lake = sel("lake")
    changed = sel(stage="cdc") + sel(stage="dv")
    batches = rec.get("stream_batches", [])
    cat = sel("catalog")
    graph = sel(prefix=r"graph_")
    m = {
        "bronze.day_s": (wall(days), "s"),
        "bronze.skip_day_s": (wall(sel("bronze", "rerun")) / max(1, len(days) // n), "s"),
        "bronze.unified_s": (wall(sel("bronze", "unified")), "s"),
        "bronze.gold_refresh_s": (wall(sel("bronze", "gold_refresh")), "s"),
        "bronze.reconcile_s": (wall(sel("bronze", "reconcile")), "s"),
        "bronze.jobs_per_day": (med([o["attrs"].get("jobs", 0) for o in days]), "count"),
        "bronze.stages_per_day": (med([o["attrs"].get("stages", 0) for o in days]), "count"),
        "bronze.fs_ops": (fs_ops(bronze) / n, "count"),
        "bronze.bytes_written": (total(bronze, "fs_bytes_written"), "B"),
        "bronze.files_written": (total(bronze, "fs_creates"), "count"),
        "lake.publish_s": (wall(sel("lake", "publish")), "s"),
        "lake.dv_purge_s": (wall(sel("lake", "dv")), "s"),
        "lake.mv_catchup_s": (wall([o for o in lake if o["name"] == "mv_catchup"]), "s"),
        "lake.snapshot_read_s": (wall([o for o in lake if o["name"] == "snapshot_read"]), "s"),
        "lake.time_travel_s": (wall([o for o in lake if o["name"] == "time_travel"]), "s"),
        "lake.fs_ops_per_op": (fs_ops(lake) / max(1, len(lake)), "count"),
        "lake.files_written": (total(lake + sel("streaming"), "fs_creates"), "count"),
        "lake.bytes_written_per_changed_row": (
            sum(o["attrs"].get("fs_bytes_written", 0.0) for o in changed)
            / max(1.0, ext.get("changed_rows", 0.0) * n), "B"),
        "lake.space_amp": (ext.get("space_amp", 0.0), "ratio"),
        "streaming.batches": (len(batches) / n, "count"),
        "streaming.batch_s": (med([b["duration_s"] for b in batches]), "s"),
        "streaming.rows_per_s": (
            sum(b["rows"] for b in batches) / max(1e-9, sum(b["duration_s"] for b in batches))
            if batches else 0.0, "1/s"),
        "sql.history_s": (wall([o for o in sel("sql") if o["name"] == "history"]), "s"),
        "sql.rewrite_select_s": (wall([o for o in sel("sql") if o["name"] == "rewrite_select"]), "s"),
        "sql.plan_s": (total(sel("sql"), "plan_s"), "s"),
        "sql.mv_rewrite_hits": (
            ext.get("mv_rewrite_hits", 0.0) / max(1.0, ext.get("mv_rewrite_attempts", 0.0)),
            "ratio"),
        "catalog.plan_s": (total(cat, "plan_s"), "s"),
        "catalog.exec_s": (total(cat, "exec_s"), "s"),
        "catalog.jobs": (total(cat, "jobs"), "count"),
        "catalog.stages": (total(cat, "stages"), "count"),
        "catalog.tasks": (total(cat, "tasks"), "count"),
        "catalog.task_s": (total(cat, "task_s"), "s"),
        "catalog.sched_delay_s": (total(cat, "sched_delay_s"), "s"),
        "catalog.shuffle_read_bytes": (total(cat, "shuffle_read_bytes"), "B"),
        "catalog.shuffle_write_bytes": (total(cat, "shuffle_write_bytes"), "B"),
        "catalog.spill_bytes": (total(cat, "spill_bytes"), "B"),
    }
    for fam in ("graph", "dedup", "ann", "lake", "lm", "search", "text", "agg", "q",
                "events"):
        pat = r"q\d+_" if fam == "q" else fam + "_"
        m[f"catalog.family.{fam}_s"] = (
            sum(o["wall_s"] for o in cat if re.match(pat, o["name"])) / n, "s")
    m["ops.graph_s"] = (sum(o["wall_s"] for o in graph) / n, "s")
    m["ops.graph_stages"] = (total(graph, "stages"), "count")
    m["ops.graph_shuffle_bytes"] = (
        total(graph, "shuffle_read_bytes") + total(graph, "shuffle_write_bytes"), "B")
    warm = rec.get("warm_s", {})
    for fam in ("Vectors", "Search"):
        m[f"ops.warm.{fam}_s"] = (med(warm.get(f"warm.{fam}", [])), "s")
    m["ops.warm_cached_bytes"] = (ext.get("warm_cached_bytes", 0.0), "B")
    m["spark.stage_p50_s"] = (med(rec.get("stage_s", [])), "s")
    m["spark.gc_s"] = (med([p["gc_s"] for p in rec["passes"]]), "s")
    m["trace.wall_s"] = (med([p["wall_s"] for p in rec["passes"]]), "s")
    return m


def run_once(args):
    t_entry = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError(f"no program sources under {ROOT}/src/main/scala: "
                           "run from the root of a checkout")
    os.makedirs(OUT, exist_ok=True)
    load0 = loadavg()
    t_build = time.time()
    classes = build.build(ROOT, OUT)
    build_s = time.time() - t_build
    dirs, hashes, prep_s = prepare(classes, args.workload, args.seed)
    cells = list(oracle.load_json(os.path.join(classes, "oracle_sql.json"))
                 .get(args.workload, {}))
    skip = preflight(cells)
    for c, why in sorted(skip.items()):
        log(f"{c} FAILED (not timed): {why}")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    records = os.path.join(OUT, "records")
    os.makedirs(records, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    skip_file = os.path.join(work, "skip.tsv")
    with open(skip_file, "w") as f:
        f.writelines(f"{c}\t{r}\n" for c, r in sorted(skip.items()))
    rec_path = os.path.join(work, "record.json")
    spans_path = os.path.join(records, f"{args.workload}-seed{args.seed}-spans.jsonl")
    # a checkout's first run also builds and prepares, and may take longer
    limit = RUN_LIMIT_S if build_s + prep_s < 60 else FIRST_RUN_LIMIT_S
    remaining = limit - (time.time() - t_entry)
    try:
        java(classes, [
            "--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(CORES), "--sf", dirs["sf"], "--x16", dirs["x16"], "--cdc", dirs["cdc"],
            "--days", ",".join(PIPELINE_DAYS),
            "--work", work, "--outputs", os.path.join(work, "outputs"),
            "--skip", skip_file, "--out", rec_path, "--spans", spans_path],
            timeout=max(10, remaining))
        rec = oracle.load_json(rec_path)
        # outputs against the oracle; cells without an oracle twin were
        # already checked for identical output across passes
        want = {c: h for c, h in hashes.get(args.workload, {}).items()
                if not h.startswith("infeasible")}
        got = {}
        for o in rec["ops"]:
            if o["ok"] and o["check"] and o["name"] in want:
                if o["name"] not in got:
                    got[o["name"]] = oracle.output_hash(o["check"])
                if got[o["name"]] != want[o["name"]]:
                    o["ok"] = False
                    o["error"] = (f"output {got[o['name']]} differs from the DuckDB "
                                  f"oracle {want[o['name']]}")
                    log(f"{o['name']} check FAILED: {o['error']}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = rec["ops"]
    ok_ops = [o for o in ops if o["ok"]]
    failed = len(ops) - len(ok_ops)
    e2e, notes = end_to_end(rec, ok_ops)
    if args.trace:
        metrics = per_layer(rec, ok_ops)
        spans = [json.loads(l) for l in open(spans_path)] if os.path.isfile(spans_path) else []
        notes["self_s_by_layer"] = {k: round(v, 4) for k, v in sorted(self_times(spans).items())}
        notes["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics = e2e
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "local_n": CORES, "xmx": XMX,
        "loadavg_start": load0, "loadavg_end": loadavg(),
        "commit": git_commit(), "java": rec.get("java_version"),
        "spark": rec.get("spark_version"), "build_s": round(build_s, 2),
        "prepare_s": round(prep_s, 2),
        "session_s": rec["session_s"], "setup_rounds_s": rec["setup_rounds_s"],
        "timed_s": rec["timed_s"], "passes": rec["passes"], **notes,
        "failed_ops": {o["name"]: o["error"] for o in ops if not o["ok"]},
        "preflight_failed": skip, "fs_class": rec.get("fs_class"),
        "e2e_traced" if args.trace else "e2e": {k: v[0] for k, v in e2e.items()},
        "ops_detail": [{k: o[k] for k in ("name", "layer", "pass", "wall_s", "ok")}
                       for o in ops],
    }
    with open(os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    log("record: " + json.dumps({k: v for k, v in record.items() if k != "ops_detail"}))
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def steady(args):
    bench = oracle.load_json(os.path.join(ROOT, "BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = [args.workload] if args.workload else [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    me = [sys.executable, os.path.abspath(__file__)]

    def one(w, seed, trace):
        r = subprocess.run(me + ["--workload", w, "--seed", str(seed), "--seconds",
                                 str(seconds), "--trace", str(trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            raise RuntimeError(f"{w} seed {seed} trace {trace} exited {r.returncode}")
        return json.loads(r.stdout.strip().splitlines()[-1])

    ok = True
    for w in workloads:
        sets, traced = [], []
        for _ in range(2):
            runs = [one(w, s, 0) for s in range(1, args.steady + 1)]
            sets.append(runs)
            traced.append(one(w, 1, 1)["metrics"]["trace.wall_s"]["value"])
        print(f"== {w}: {args.steady} runs per set")
        for name, bound in bounds.items():
            a = [r["metrics"][name]["value"] for r in sets[0]]
            b = [r["metrics"][name]["value"] for r in sets[1]]
            sa, sb = spread(a), spread(b)
            shift = statistics.median(b) / statistics.median(a) - 1
            good = shift <= bound and (name == "setup_s" or max(sa, sb) <= bound)
            ok &= good
            print(f"  {name:14s} spread {sa:6.3f} {sb:6.3f}  shift {shift:+.3f}  "
                  f"bound {bound:.3f}  {'ok' if good else 'OUT OF BOUND'}")
        failed = sum(r["failed"] for s in sets for r in s)
        untraced = statistics.median([r["metrics"]["wall_s"]["value"] for s in sets for r in s])
        over = statistics.median(traced) - untraced
        print(f"  failed ops {failed}; tracing overhead on wall_s {over:+.3f} s "
              f"({over / untraced:+.1%})")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, metavar="RUNS")
    args = ap.parse_args()
    if args.steady:
        return steady(args)
    if not args.workload or not args.seconds:
        ap.error("--workload and --seconds are required")
    try:
        result = run_once(args)
    except Exception as e:  # noqa: BLE001 - any failure means no result
        log(f"ERROR: {e}")
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
