#!/usr/bin/env python3
"""The repo benchmark: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark's JVM side from source with sbt (offline) into `.bench_build/`,
and generates the query workload's tables there; later runs reuse both
while the sources are unchanged. Each run gets its own temp, Spark-local
and store directories, deleted at exit.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed`, and `metrics` (the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1). The lines before it print every metric
of the run by name and unit. Exit status is non-zero when any op fails or
returns a wrong answer. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import mabna_gen  # noqa: E402
import stats  # noqa: E402

CORES = 4
DATA_SF = 0.01
DATA_SEED = 42
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

WORKLOADS = ["llm_curation", "mabna_ingest"]

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s")]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build
def source_digest(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt")]
    for top in ("project", "src", os.path.join("perfbench", "src")):
        for d, dirs, fs in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile the engine plus perfbench/src; return the runtime classpath."""
    digest = source_digest(root)
    cp_file = os.path.join(work, "classpath.txt")
    with open(os.path.join(work, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = os.path.join(work, "build.stamp")
        if os.path.exists(cp_file) and open(stamp).read() == digest:
            return open(cp_file).read().strip(), digest
        log("building with sbt (offline) ...")
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
        repo_cfg = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repo_cfg):
            env["SBT_OPTS"] += f" -Dsbt.repository.config={repo_cfg}"
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               'set Compile / unmanagedSourceDirectories += '
               'baseDirectory.value / "perfbench" / "src"',
               'set target := baseDirectory.value / ".bench_build" / "target"',
               "compile", "export Runtime / fullClasspath"]
        p = subprocess.run(cmd, cwd=root, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
        lines = [ln for ln in p.stdout.splitlines()
                 if ".bench_build" in ln and "classes" in ln and ":" in ln
                 and not ln.startswith("[")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            raise SystemExit("perfbench: build failed")
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        with open(stamp, "w") as f:
            f.write(digest)
        return lines[-1].strip(), digest


def tables(work):
    d = os.path.join(work, f"data-sf{DATA_SF}-seed{DATA_SEED}")
    with open(os.path.join(work, "data.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(d, "_DONE")):
            shutil.rmtree(d, ignore_errors=True)
            gen_tables.write(d, DATA_SF, DATA_SEED)
            open(os.path.join(d, "_DONE"), "w").close()
    return d


# ------------------------------------------------------------------ run
def run_jvm(classpath, run_dir, jvm_args):
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + jvm_args)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_LOCAL_DIRS"] = local
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    return code


# ------------------------------------------------------------------ checks
def check_queries(raw, expected):
    """Names of the ops whose output hash differs from the expected one."""
    want = expected["queries"]
    bad = []
    for name, got in raw.get("checks", {}).items():
        exp = want.get(name)
        if exp is None or got.get("hash") != exp["hash"] or got.get("rows") != exp["rows"]:
            bad.append(name)
            log(f"check failed: {name}: got {got}, expected {exp}")
    return bad


def _same(a, b):
    if isinstance(b, float):
        a = float(a) if isinstance(a, (str, int, float)) else a
        if not isinstance(a, float):
            return False
        if math.isnan(b):
            return math.isnan(a)
        return a == b or abs(a - b) <= 1e-12 * max(abs(a), abs(b))
    return a == b


def _rows_equal(got, want):
    key = lambda r: (r["id"], r["meta_version"])  # noqa: E731
    g, w = sorted(got, key=key), sorted(want, key=key)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for x, y in zip(g, w):
        if set(x) != set(y):
            return f"row id={y['id']}: columns {sorted(x)}, expected {sorted(y)}"
        for c, v in y.items():
            if not _same(x.get(c), v):
                return f"row id={y['id']} column {c}: {x.get(c)!r} != {v!r}"
    return None


def check_mabna(raw, feed, run_dir):
    """Batch numbers whose fetch differs from the generator's, warm-up
    batches included, plus 'final' when production, the source keys or the
    dashboard are wrong."""
    bad = []
    for b in raw.get("batches", []):
        got = b["counts"].get("extract", {})
        want = mabna_gen.expected_fetch(feed, b["batch"])
        if got != want:
            bad.append(b["batch"])
            log(f"batch {b['batch']}: fetched {got}, generator produced {want}")
    last = raw.get("last_batch", 0)
    dump = os.path.join(run_dir, "out", "dump")
    prod = mabna_gen.expected_production(feed, last)
    problems = []
    for table, rows in prod.items():
        path = os.path.join(dump, f"{table}.jsonl")
        got = [json.loads(ln) for ln in open(path)] if os.path.exists(path) else []
        err = _rows_equal(got, rows)
        if err:
            problems.append(f"{table}: {err}")
    for table in mabna_gen.FACTS:
        path = os.path.join(dump, f"{table}.keys")
        got = sorted(tuple(map(int, ln.split())) for ln in open(path)) \
            if os.path.exists(path) else []
        want = sorted((r["id"], r["meta"]["version"]) for r in feed.served(table, last))
        if got != want:
            problems.append(f"{table}: source keys differ ({len(got)} vs {len(want)})")
    board = {(r[0], r[1], r[2]): (r[3], r[4]) for r in raw.get("dashboard", [])}
    if board != mabna_gen.expected_dashboard(prod):
        problems.append("dashboard differs")
    for p in problems:
        log(f"check failed: {p}")
    return bad + (["final"] if problems else [])


def mabna_failed_ops(raw, feed, run_dir):
    """Ids of the timed ops the mabna checks fail. A wrong timed batch fails
    its op; a wrong untimed (warm-up) batch or a wrong end state fails the
    last timed op, so that every mismatch shows in `failed`."""
    ops = raw["ops"]
    by_batch = {o["batch"]: o["id"] for o in ops}
    failed = set()
    for b in check_mabna(raw, feed, run_dir):
        if b in by_batch:
            failed.add(by_batch[b])
        elif ops:
            failed.add(ops[-1]["id"])
    return failed


# ------------------------------------------------------------------ metrics
def end_to_end(raw):
    """setup_s: median of the run's set-ups; wall_s: the timed region's wall
    time per pass (a pass runs each op once); op_p50_s: median op latency."""
    return {"setup_s": stats.median(raw["setup_s"]),
            "wall_s": raw["timed_s"] / max(1, len(raw["passes_s"])),
            "op_p50_s": stats.median([o["s"] for o in raw["ops"]])}


def per_layer(raw):
    """Every per-layer metric, per timed pass (a pass is one run of each op;
    on mabna_ingest one batch). Returns (name -> (value, unit)) and the
    self-time accounting of the traced ops."""
    passes = max(1, len(raw["passes_s"]))
    region = raw["region"]
    spans = raw.get("spans", [])
    jobs = raw.get("jobs", [])
    selfs = stats.self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def span_s(name):
        return sum(s["end_ms"] - s["start_ms"] for s in by_name.get(name, [])) / 1e3 / passes

    parent = {s["id"]: s["parent"] for s in spans}
    # a job without the benchmark's job group (a stream's micro-batch thread
    # sets its own) belongs to the innermost main-thread span open when it
    # began
    main_spans = [s for s in spans if s["name"] != "sources.fetch"]
    for j in jobs:
        if not j["span"]:
            open_at = [s for s in main_spans if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
            if open_at:
                j["span"] = max(open_at, key=lambda s: s["start_ms"])["id"]

    def under(span_id, root_ids):
        while span_id:
            if span_id in root_ids:
                return True
            span_id = parent.get(span_id, 0)
        return False

    # jobs launched inside each construct span or its descendants
    construct_ids = {s["id"] for s in by_name.get("SparkEntry.construct", [])}
    construct_jobs = [j for j in jobs if under(j["span"], construct_ids)]
    in_jobs = 0.0
    for s in by_name.get("SparkEntry.construct", []):
        ivs = [(j["start_ms"], j["end_ms"]) for j in construct_jobs
               if under(j["span"], {s["id"]})]
        in_jobs += stats.union_length(ivs, s["start_ms"], s["end_ms"])
    job_wall = stats.union_length([(j["start_ms"], j["end_ms"]) for j in jobs]) / 1e3
    r = lambda k, scale=1.0: region.get(k, 0.0) / scale / passes  # noqa: E731
    out = {
        "Engine.session_s": (stats.median(raw["session_s"]), "s"),
        "Engine.warmup_s": (raw["before_timed_s"], "s"),
        "materialized_mb": (r("block_put_b", 1e6), "MB"),
        "SparkEntry.construct_s": (span_s("SparkEntry.construct"), "s"),
        "SparkEntry.construct_self_s": (span_s("SparkEntry.construct") - in_jobs / 1e3 / passes, "s"),
        "SparkEntry.construct_jobs": (len(construct_jobs) / passes, "count"),
        "plans.analysis_s": (r("analysis_ms", 1e3), "s"),
        "plans.optimize_s": (r("optimize_ms", 1e3), "s"),
        "plans.physical_s": (r("physical_ms", 1e3), "s"),
        "plans.exchanges": (r("exchanges"), "count"),
        "operators.action_s": (span_s("operators.action") + span_s("operators.dashboard"), "s"),
        "operators.jobs": (r("jobs"), "count"),
        "operators.stages": (r("stages"), "count"),
        "operators.tasks": (r("tasks"), "count"),
        "operators.task_s": (r("task_ms", 1e3), "s"),
        "operators.cpu_s": (r("cpu_ns", 1e9), "s"),
        "operators.gc_s": (r("gc_ms", 1e3), "s"),
        "operators.wait_s": (r("delay_ms", 1e3), "s"),
        "operators.busy_ratio": (region.get("task_ms", 0.0) / 1e3 / (CORES * job_wall)
                                 if job_wall else 0.0, "ratio"),
        "operators.shuffle_write_mb": (r("shuffle_write_b", 1e6), "MB"),
        "operators.shuffle_read_mb": (r("shuffle_read_b", 1e6), "MB"),
        "operators.spill_mb": (r("spill_b", 1e6), "MB"),
        "operators.input_mb": (r("input_b", 1e6), "MB"),
        "operators.task_retries": (r("task_retries"), "count"),
        "streaming.batches": (r("stream_batches"), "count"),
        "streaming.empty_batches": (r("stream_empty_batches"), "count"),
        "streaming.trigger_s": (r("stream_trigger_ms", 1e3), "s"),
        "streaming.add_batch_s": (r("stream_add_batch_ms", 1e3), "s"),
        "streaming.commit_s": (r("stream_commit_ms", 1e3), "s"),
        "streaming.state_rows": (r("stream_state_rows"), "count"),
    }
    timed = [b for b in raw.get("batches", []) if b.get("timed")]
    tr = {k: sum(b["transport"].get(k, 0.0) for b in timed)
          for k in ("fetches", "json_b", "rows_served", "rows_useful")}
    new = {}
    for b in timed:
        for layer, v in b.get("new_files", {}).items():
            acc = new.setdefault(layer, {"files": 0, "bytes": 0})
            acc["files"] += v["files"]
            acc["bytes"] += v["bytes"]
    loads = [s["end_ms"] - s["start_ms"] for s in by_name.get("Pipeline.load", [])]
    phases = {s["id"] for n in ("Pipeline.extract", "Pipeline.transform", "Pipeline.load")
              for s in by_name.get(n, [])}
    writes = sum(1 for s in by_name.get("TableStore.write", []) if under(s["id"], phases))
    successes = sum(len(b["counts"].get(k, {})) for b in timed
                    for k in ("extract", "transform", "load"))
    written = sum(v["bytes"] for v in new.values())
    out.update({
        "sources.fetches": (tr["fetches"] / passes, "count"),
        "sources.fetch_s": (span_s("sources.fetch"), "s"),
        "sources.json_mb": (tr["json_b"] / 1e6 / passes, "MB"),
        "sources.rows": (tr["rows_served"] / passes, "count"),
        "sources.useful_ratio": (tr["rows_useful"] / tr["rows_served"]
                                 if tr["rows_served"] else 0.0, "ratio"),
        "Pipeline.extract_s": (span_s("Pipeline.extract"), "s"),
        "Pipeline.transform_s": (span_s("Pipeline.transform"), "s"),
        "Pipeline.load_s": (span_s("Pipeline.load"), "s"),
        "Pipeline.load_growth": (loads[-1] / loads[0] if len(loads) > 1 and loads[0] else 0.0,
                                 "ratio"),
        "Pipeline.attempt_ratio": (writes / successes if successes else 0.0, "ratio"),
        "TableStore.write_mb": (written / 1e6 / passes, "MB"),
        "TableStore.files_written": (sum(v["files"] for v in new.values()) / passes, "count"),
        "TableStore.rewrite_ratio": (new.get("production", {}).get("bytes", 0)
                                     / new["source"]["bytes"]
                                     if new.get("source", {}).get("bytes") else 0.0, "ratio"),
        "TableStore.read_s": (span_s("TableStore.read"), "s"),
        "store_write_amp": (written / tr["json_b"] if tr["json_b"] else 0.0, "ratio"),
    })
    # self-time accounting: every traced op's wall is the sum of the self
    # times of the spans under it; the op span's own self time is the gap
    layer_self = {}
    op_wall = 0.0
    for s in spans:
        if s["name"] == "op":
            op_wall += s["end_ms"] - s["start_ms"]
        layer = "gap" if s["name"] == "op" else s["name"].split(".")[0]
        layer_self[layer] = layer_self.get(layer, 0.0) + selfs[s["id"]]
    accounting = {k: v / 1e3 / passes for k, v in layer_self.items()}
    accounting["op_wall"] = op_wall / 1e3 / passes
    return out, accounting


# ------------------------------------------------------------------ main
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    ap.add_argument("--record", help="also write each query's output as parquet here, "
                                     "with oracle_sql.json, for tools/check.py")
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src")):
        raise SystemExit("perfbench: run from the repository root (no build.sbt/src here)")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    classpath, digest = build(root, work)
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--out", os.path.join(run_dir, "out")]
        feed = None
        if args.workload == "mabna_ingest":
            # enough batches for any run: 20 batches a second, plus 20
            feed = mabna_gen.Feed(args.seed, int(args.seconds * 20) + 20)
            feed.write(os.path.join(run_dir, "feed"))
            jvm_args += ["--mabna", os.path.join(run_dir, "feed")]
        else:
            jvm_args += ["--data", tables(work)]
            if args.record:
                os.makedirs(args.record, exist_ok=True)
                jvm_args += ["--record", os.path.abspath(args.record)]
        code = run_jvm(classpath, run_dir, jvm_args)
        raw_path = os.path.join(run_dir, "out", "raw.json")
        if code != 0 or not os.path.exists(raw_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: benchmark JVM failed ({code})")
        with open(raw_path) as f:
            raw = json.load(f)
        result = report(args, raw, feed, run_dir, digest)
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def report(args, raw, feed, run_dir, digest):
    ops = raw["ops"]
    attempted = len(ops)
    bad_ops = {o["id"] for o in ops if o.get("error")}
    if feed is None:
        with open(os.path.join(HERE, "expected_hashes.json")) as f:
            expected = json.load(f)
        if args.record:
            log("recording: " + json.dumps({"dataset": f"sf{DATA_SF}-seed{DATA_SEED}",
                                            "queries": raw["checks"]}, sort_keys=True))
        wrong = set(check_queries(raw, expected)) \
            if expected.get("dataset") == f"sf{DATA_SF}-seed{DATA_SEED}" else set(raw["checks"])
        bad_ops |= {o["id"] for o in ops if o["name"] in wrong}
    else:
        bad_ops |= mabna_failed_ops(raw, feed, run_dir)
    setup_errors = raw.get("setup_errors") or raw.get("warm_errors")
    if setup_errors:
        log(f"errors outside the timed region: {setup_errors}")
    failed = len(bad_ops)
    lat = [o["s"] for o in ops]
    n = len(lat)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} cores={raw['cores']} "
          f"source={digest} passes={len(raw['passes_s'])} ops={n} "
          f"setups={len(raw['setup_s'])} warm_passes={raw['warm_passes']}")
    print(f"# jvm: {' '.join(raw['jvm_args'])}")
    print("# confs: " + json.dumps(raw["confs"], sort_keys=True))
    e2e = end_to_end(raw)
    for name, unit in END_TO_END:
        print(f"{name} = {e2e[name]:.6f} {unit}")
    print(f"fail_ratio = {failed / attempted if attempted else 1.0:.6f} "
          f"({failed} of {attempted} ops)")
    p = stats.tail_percentile(n)
    if p is None or p <= 50:
        print(f"op_tail_s = n/a ({n} ops: no percentile above the median has 10 ops beyond it)")
    else:
        print(f"op_tail_s = {stats.percentile(lat, p):.6f} s (p{p} of {n} ops, "
              f"{stats.beyond(n, p)} beyond it)")
    layer, accounting = per_layer(raw)
    print(f"materialized_mb = {layer['materialized_mb'][0]:.6f} MB")
    if args.workload == "mabna_ingest":
        print(f"store_write_amp = {layer['store_write_amp'][0]:.6f} ratio")
    metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    if args.trace:
        for name, (v, unit) in layer.items():
            print(f"{name} = {v:.6f} {unit}")
        wall = accounting.pop("op_wall")
        parts = " + ".join(f"{k} {v:.4f}" for k, v in sorted(accounting.items()))
        covered = sum(accounting.values())
        print(f"# self-time accounting per pass: op wall {wall:.4f} s = {parts} "
              f"(sum {covered:.4f} s; gap is time in the op outside any layer span)")
        metrics = {k: {"value": layer[k][0], "unit": layer[k][1]} for k in PER_LAYER_JSON}
    correct = failed == 0 and not setup_errors and attempted > 0
    return {"correct": correct, "attempted": max(attempted, 1), "failed": failed,
            "metrics": metrics}


# per-layer metrics in the result line (BENCHMARK.json `per_layer`); all of
# them are printed above it
PER_LAYER_JSON = ["Engine.session_s", "Engine.warmup_s", "materialized_mb",
                  "SparkEntry.construct_jobs",
                  "plans.analysis_s", "plans.optimize_s", "plans.physical_s",
                  "plans.exchanges", "operators.jobs", "operators.stages",
                  "operators.tasks", "operators.task_s", "operators.cpu_s",
                  "operators.gc_s", "operators.wait_s", "operators.busy_ratio",
                  "operators.shuffle_write_mb", "operators.shuffle_read_mb",
                  "operators.input_mb", "streaming.batches", "sources.fetches",
                  "TableStore.files_written"]

if __name__ == "__main__":
    main()
