#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 bench/run.py --workload {interactive,etl} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The first run builds graft and the harness
(sbt, into .bench_build/) and generates the input tables; later runs reuse
both while the sources are unchanged. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}, with the end-to-end
metrics when --trace 0 and the per-layer metrics when --trace 1. The line
before it stamps the run (load average, cores, heap, commit, seed).

`--write-expected` re-records bench/expected/<workload>.json from this
run's outputs; do that only on a commit whose outputs are known good.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
# A run must end within 180 s; the harness JVM gets what is left of it.
DEADLINE_S = 170
START = time.monotonic()

# graft's loop-session queries, whose construction runs the loop eagerly;
# `interactive` runs q_pagerank_k.
LOOP_QUERIES = {"q_pagerank_k", "q_pagerank_personal", "q_kcore", "q_raking",
                "q_bfs_reach", "q_ann_graph"}

WORKLOADS = {
    # graft.Bench's Common64 relational queries, whose fixed per-query cost
    # (table resolution, DataFrame construction, planning, job scheduling)
    # is most of their wall time, plus two that lean on the other read-side
    # layers: q_dedup_ngram (Common64; the memoized shingle_table asset) and
    # q_pagerank_k (a loop-session operator; the purchase_edges asset).
    "interactive": {
        "queries": ["q_agg_hash", "q_join_inner", "q_join_left", "q_topk",
                    "q_window_rank", "q_dedup_ngram", "q_pagerank_k"],
        "scale": 0.01, "min_warm": 3, "min_warm_traced": 5,
    },
    # graft's write surface: the catalog, schema and Spark layers of the
    # reads, used in the other direction. Bypasses Tables.load, the loop
    # operators and the memoized assets.
    "etl": {
        "scale": 0.01, "min_warm": 4, "min_warm_traced": 5,
        "records": 1000, "chunks": 2, "upserts": 2, "batch": 200,
        "days": 2, "per_day": 300, "page_size": 200, "pages": 2,
        "stream_files": 2,
    },
}


def die(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    """Hash of the files under `paths` (files or directories)."""
    h = hashlib.sha256()
    for top in paths:
        walk = os.walk(top) if os.path.isdir(top) else [(os.path.dirname(top), [],
                                                          [os.path.basename(top)])]
        for d, dirs, files in sorted(walk):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the harness, and graft through the root build, unless the
    last build saw the same sources. Returns the source digest and the
    launch file: the harness JVM's classpath, then the root build's JVM
    options."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("graft's build not found: run from a full checkout of the repository")
    srcs_digest = digest([os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                          os.path.join(ROOT, "project", "build.properties"),
                          os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                          os.path.join(HERE, "project", "build.properties")])
    launch = os.path.join(BUILD, "launch.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == srcs_digest:
        return srcs_digest, launch
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "benchLaunch"],
                             cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        die(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(srcs_digest)
    return srcs_digest, launch


def tables(sf):
    """The query tables at scale `sf`, generated once per datagen version."""
    tag = digest([os.path.join(HERE, "datagen.py")])
    out = os.path.join(BUILD, "data", f"sf{sf}")
    stamp = os.path.join(out, ".stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == tag):
        shutil.rmtree(out, ignore_errors=True)
        datagen.write_tables(out, sf)
        with open(stamp, "w") as fh:
            fh.write(tag)
    return out


def etl_inputs(seed, spec, stage_dir):
    """The seeded ETL plan: the JVM's inputs and this side's model of the
    states they must produce."""
    t = datagen.etl_plan(seed, spec["records"], spec["chunks"], spec["upserts"], spec["batch"])
    d = datagen.dataset_plan(seed, spec["days"], spec["per_day"])

    def enc(rs):
        return [json.dumps(r) for r in rs]
    jvm = {
        "chunks": [enc(c) for c in t["chunks"]],
        "upserts": [enc(u) for u in t["upserts"]],
        "replace": enc(t["replace"]),
        "appends": [{"version": a["version"], "day": a["day"], "rows": enc(a["rows"])}
                    for a in d["appends"]],
        "page_size": spec["page_size"], "pages": spec["pages"], "stage_dir": stage_dir,
    }
    return jvm, {"tables": t, "dataset": d, "spec": spec}


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return None


def commit():
    """The checkout's git commit, or None outside a git work tree."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(launch, cfg_path, log_path):
    with open(launch) as fh:
        classpath, *jvm_opts = fh.read().splitlines()
    tmp = os.path.join(os.path.dirname(cfg_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The root build's options (module opens, Spark properties) first; the
    # fixed heap after them, so it overrides the root build's -Xmx.
    cmd = (["java"] + jvm_opts
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
              "-cp", classpath, "graftbench.Main", cfg_path])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - START)))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.readlines()[-30:]
        sys.stderr.write("".join(tail))
        die(f"harness JVM failed ({rc})")


# ---------------------------------------------------------------- checks

def check_queries(res, expected_path, write_expected):
    got = res["check"]
    if write_expected:
        with open(expected_path, "w") as fh:
            json.dump(got, fh, indent=1, sort_keys=True)
            fh.write("\n")
    if not os.path.exists(expected_path):
        die(f"no expected outputs at {expected_path}")
    exp = json.load(open(expected_path))
    bad = {}
    for q in sorted(exp):
        g = got.get(q, {"error": "not run"})
        if g != exp[q]:
            bad[q] = g.get("error") or f"output {g} != expected {exp[q]}"
    return bad, len(exp)


def check_etl(res, model, expected_path, write_expected):
    obs = res["check"]
    t, d = model["tables"], model["dataset"]
    bad = {}

    def expect(key, want, got):
        if want != got:
            bad[key] = f"got {str(got)[:200]} want {str(want)[:200]}"

    for i, keys in enumerate(t["expect"]["after_upsert"]):
        expect(f"after_upsert_{i}", keys, obs.get(f"after_upsert_{i}"))
    expect("after_replace", t["expect"]["after_replace"], obs.get("after_replace"))
    latest = sorted(d["appends"][-1]["rows"], key=lambda r: r["id"])
    got_latest = [json.loads(s) for s in obs.get("latest_rows", [])]
    expect("latest_rows", latest, [{k: v for k, v in r.items() if v is not None}
                                   for r in got_latest])
    expect("all_rows", d["expect"]["total_rows"], obs.get("all_rows"))
    expect("versions_rows", d["expect"]["total_rows"], obs.get("versions_rows"))
    expect("versions_columns", ["amount", "id", "kind", "version", "year", "month", "day",
                                "channel"], obs.get("versions_columns"))
    spec = model["spec"]
    n_pages = spec["pages"] * spec["page_size"]
    expect("page_ids", list(range(min(n_pages, d["expect"]["total_rows"]))),
           obs.get("page_ids"))
    if write_expected:
        with open(expected_path, "w") as fh:
            json.dump({"stream_rows_out": obs.get("stream_rows_out")}, fh, indent=1)
            fh.write("\n")
    if not os.path.exists(expected_path):
        die(f"no expected outputs at {expected_path}")
    expect("stream_rows_out", json.load(open(expected_path))["stream_rows_out"],
           obs.get("stream_rows_out"))
    return bad, len(t["expect"]["after_upsert"]) + 7


def etl_rows(model, obs):
    """Rows an ETL pass lands in tables and datasets: inserted, upserted,
    replaced, appended and streamed."""
    t, d = model["tables"], model["dataset"]
    return (sum(len(c) for c in t["chunks"]) + sum(len(u) for u in t["upserts"])
            + len(t["replace"]) + d["expect"]["total_rows"] + (obs.get("stream_rows_out") or 0))


# --------------------------------------------------------------- metrics

def warm_passes(res, traced=None):
    return [p for p in res["passes"] if p["kind"] == "warm"
            and (traced is None or p["traced"] == traced)]


def pass_s(p):
    return sum(op["ms"] for op in p["ops"]) / 1000.0


def end_to_end(res):
    """The end-to-end metrics, plus stamp-only facts about the latencies.

    Each operation of a pass gets its median over the warm passes, which
    damps one slow sample of one operation: pass_s is the sum of those
    medians and op_p50_ms their median. The tail is the highest percentile
    with at least ten samples above it; with the few samples a run holds
    it sits near the median, so it is stamped, not reported as a metric."""
    warm = warm_passes(res)
    per_op = {}
    for p in warm:
        seen = {}
        for o in p["ops"]:
            k = (o["name"], seen.setdefault(o["name"], 0))
            seen[o["name"]] += 1
            per_op.setdefault(k, []).append(o)
    ok = {k: [o["ms"] for o in v if o["ok"]] for k, v in per_op.items()}
    lat = [x for v in ok.values() for x in v]
    if not lat:
        die("no warm operation succeeded")
    # A failed op keeps its time in the pass (its median over all samples)
    # but is never a latency sample.
    pass_med = sum(stats.median([o["ms"] for o in v]) for v in per_op.values()) / 1000.0
    pct = stats.tail_percentile(len(lat))
    cold = next(p for p in res["passes"] if p["kind"] == "cold")
    m = {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (pass_s(cold), "s"),
        "pass_s": (pass_med, "s"),
        "op_p50_ms": (stats.median([stats.median(v) for v in ok.values() if v]), "ms"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }
    return m, {"latency_samples": len(lat), "tail_percentile": pct,
               "op_tail_ms": stats.percentile(lat, pct) if pct else None,
               "warm_passes": len(warm)}


def per_layer(res, workload, rows_out, failed_frac):
    """The per-layer metrics of a traced run: medians over its traced warm
    passes of per-pass sums, asset builds of the cold pass, and the self
    time of each layer's spans."""
    traced = warm_passes(res, traced=True)
    cold = next(p for p in res["passes"] if p["kind"] == "cold")
    cores = os.cpu_count() or 1
    spans = res["spans"]
    selfs = stats.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    # Which traced warm pass each span belongs to.
    pass_of = {}
    for s in spans:
        a = s
        while a["parent"] >= 0 and a["name"] != "pass":
            a = by_id[a["parent"]]
        pass_of[s["id"]] = a["id"]
    traced_ids = [s["id"] for s in spans if s["name"] == "pass" and s.get("kind") == "warm"]

    def med(f):
        return stats.median([f(p) for p in traced]) if traced else 0.0

    def ops(p, names=None):
        return [o for o in p["ops"] if names is None or o["name"] in names]

    def ssum(p, key, names=None):
        return sum(o.get(key, 0) for o in ops(p, names))

    def layer(s):
        if s["name"] == "op":
            return s["op"] if workload == "etl" else "op.remainder"
        if s["name"].startswith("catalyst."):
            return "catalyst.plan"
        if s["name"].startswith("assets.build."):
            return "assets.build"
        return s["name"]

    self_ms = {}
    for pid in traced_ids:
        acc = {}
        for s in spans:
            if pass_of[s["id"]] == pid and s["name"] not in ("pass", "tables.load"):
                acc[layer(s)] = acc.get(layer(s), 0) + selfs[s["id"]] / 1e6
        for k, v in acc.items():
            self_ms.setdefault(k, []).append(v)
    n_traced = max(1, len(traced_ids))
    self_med = {k: stats.median(v + [0.0] * (n_traced - len(v))) for k, v in self_ms.items()}

    loads = [x for p in traced for x in p["table_loads_ms"]]
    exec_ms = med(lambda p: ssum(p, "exec_ms") if workload != "etl" else ssum(p, "ms"))
    task_ms = med(lambda p: ssum(p, "task_run_ms"))
    cold_assets = {a: s for o in cold["ops"] for a, s in o["assets"].items()}
    warm_builds = sum(len(o["assets"]) for p in warm_passes(res) for o in p["ops"])
    stream = [o for p in traced for o in p["ops"] if o["name"] == "streaming.ingest"]
    batch_ms = [b for o in stream for b in o.get("stream_batch_ms", [])]

    m = {
        "tables.load_ms.p50": (stats.median(loads) if loads else 0.0, "ms"),
        "tables.load_ms.sum": (med(lambda p: sum(p["table_loads_ms"])), "ms"),
        "queries.construct_ms.p50": (stats.median(
            [o["construct_ms"] for p in traced for o in p["ops"] if "construct_ms" in o]
            or [0.0]), "ms"),
        "queries.construct_ms.sum": (med(lambda p: ssum(p, "construct_ms")), "ms"),
        "queries.construct_ms.loop_sum": (
            med(lambda p: ssum(p, "construct_ms", LOOP_QUERIES)), "ms"),
        "catalyst.plan_ms": (med(lambda p: ssum(p, "plan_ms")), "ms"),
        "spark.exec_ms": (exec_ms, "ms"),
        "spark.jobs": (med(lambda p: ssum(p, "jobs")), "count"),
        "spark.stages": (med(lambda p: ssum(p, "stages")), "count"),
        "spark.tasks": (med(lambda p: ssum(p, "tasks")), "count"),
        "spark.task_run_ms": (task_ms, "ms"),
        "spark.max_task_ms": (med(lambda p: max([o.get("max_task_ms", 0) for o in p["ops"]]
                                                or [0])), "ms"),
        "spark.core_util": (task_ms / (exec_ms * cores) if exec_ms else 0.0, "ratio"),
        "spark.single_task_stage_frac": (med(
            lambda p: ssum(p, "single_task_stages") / max(1, ssum(p, "stages"))), "ratio"),
        "spark.shuffle_read_bytes": (med(lambda p: ssum(p, "shuffle_read_bytes")), "bytes"),
        "spark.shuffle_write_bytes": (med(lambda p: ssum(p, "shuffle_write_bytes")), "bytes"),
        "spark.spill_bytes": (med(lambda p: ssum(p, "spill_bytes")), "bytes"),
        "assets.builds": (len(cold_assets), "count"),
        "assets.builds_warm": (warm_builds, "count"),
        "assets.build_s": (sum(cold_assets.values()), "s"),
        "jvm.gc_ms": (med(lambda p: ssum(p, "gc_ms")), "ms"),
        "failed_frac": (failed_frac, "ratio"),
        "trace.pass_s": (med(pass_s), "s"),
        "trace.overhead_s": (stats.paired_overhead(
            [(pass_s(p), p["traced"]) for p in warm_passes(res)]), "s"),
        "trace.remainder_ms": (self_med.get("op.remainder", 0.0), "ms"),
        "trace.accounted_frac": (sum(self_med.values()) / (1000 * med(pass_s))
                                 if traced else 0.0, "ratio"),
        "streaming.batches": (med(lambda p: ssum(p, "stream_batches")), "count"),
        "streaming.batch_ms.p50": (stats.median(batch_ms) if batch_ms else 0.0, "ms"),
        "streaming.batch_ms.max": (max(batch_ms) if batch_ms else 0.0, "ms"),
        "streaming.rows_in": (med(lambda p: ssum(p, "stream_rows_in")), "count"),
        "streaming.rows_out": (rows_out if workload == "etl" else 0, "count"),
    }
    for a in ASSETS:
        m[f"assets.build_s.{a}"] = (cold_assets.get(a, 0.0), "s")
    for name in ETL_OPS:
        m[f"{name}_ms"] = (med(lambda p: ssum(p, "ms", {name})), "ms")
    for name in SELF_LAYERS:
        m[f"self.{name}_ms"] = (self_med.get(name, 0.0), "ms")
    return m


# The assets graft.Assets.snapshot names on these workloads (all on
# interactive).
ASSETS = ["purchase_edges", "shingle_table"]
ETL_OPS = ["schema.infer", "tableops.create", "tableops.insert", "tableops.upsert",
           "tableops.replace", "convention.append", "convention.read_latest",
           "convention.read_all", "convention.read_schema", "convention.read_versions",
           "pagination.first_page", "pagination.next_page", "streaming.ingest"]
SELF_LAYERS = ["queries.construct", "assets.build", "spark.exec", "catalyst.plan",
               "op.remainder"] + ETL_OPS


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true")
    args = ap.parse_args()
    # On SIGTERM unwind normally, so the harness JVM is killed and the run's
    # temp root removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = WORKLOADS[args.workload]
    launch_load = loadavg()

    src_digest, launch = build()
    data = tables(spec["scale"])
    run_root = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    try:
        cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": bool(args.trace), "cores": os.cpu_count() or 1,
               "run_root": run_root, "data": data,
               "min_warm_passes": spec["min_warm_traced" if args.trace else "min_warm"]}
        model = None
        if args.workload == "etl":
            stage = os.path.join(data, f"stage{spec['stream_files']}")
            if not os.path.isdir(stage):
                tmp = stage + ".tmp"
                shutil.rmtree(tmp, ignore_errors=True)
                datagen.stage_documents(data, tmp, spec["stream_files"])
                os.replace(tmp, stage)
            cfg["etl"], model = etl_inputs(args.seed, spec, stage)
        else:
            cfg["queries"] = spec["queries"]
        cfg["out"] = os.path.join(run_root, "result.json")
        cfg_path = os.path.join(run_root, "config.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        run_jvm(launch, cfg_path, os.path.join(run_root, "jvm.log"))
        res = json.load(open(cfg["out"]))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    expected = os.path.join(HERE, "expected", f"{args.workload}.json")
    if args.workload == "etl":
        bad, n_checks = check_etl(res, model, expected, args.write_expected)
    else:
        bad, n_checks = check_queries(res, expected, args.write_expected)
    # An observation that threw during the checked (cold) pass fails its check.
    cold = next(p for p in res["passes"] if p["kind"] == "cold")
    for o in cold["ops"]:
        if "check_error" in o:
            bad[f"observe:{o['name']}"] = o["check_error"]
    failures = {}
    timed = [p for p in res["passes"] if p["kind"] in ("cold", "warm")]
    for p in timed:
        for o in p["ops"]:
            if not o["ok"]:
                failures.setdefault(o["name"], o.get("error"))
    failed_ops = sum(1 for p in timed for o in p["ops"] if not o["ok"])
    attempted = sum(len(p["ops"]) for p in timed) + n_checks
    failed = failed_ops + len(bad)
    for k, v in bad.items():
        failures[f"check:{k}"] = v
    e2e, e2e_info = end_to_end(res)
    if args.workload == "etl":
        # Rows landed per second of pass_s. The rows are fixed by the ETL
        # spec, so this is pass_s in other units: stamped, not a metric.
        e2e_info["etl_rows_per_s"] = etl_rows(model, res["check"]) / e2e["pass_s"][0]
    metrics = e2e if not args.trace else per_layer(
        res, args.workload, res["check"].get("stream_rows_out", 0), failed / attempted)

    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "loadavg_launch": launch_load,
             "nproc": os.cpu_count(), "xmx": HEAP, "commit": commit(),
             "source_digest": src_digest, "scale": spec["scale"],
             "measure_s": round(res["measure_s"], 3), "failed_frac": failed / attempted,
             "failures": failures, **e2e_info}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"stamp": stamp, "metrics": metrics, "passes": res["passes"],
                   "spans": res["spans"]}, fh)
    for k, v in failures.items():
        print(f"bench: FAILED {k}: {v}", file=sys.stderr)
    print(json.dumps({"stamp": stamp}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
