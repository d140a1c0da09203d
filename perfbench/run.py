#!/usr/bin/env python3
"""Benchmark of the Spark re-expression of ocs-duckdb-runner.

    python3 perfbench/run.py --workload <runner-ghttp|query-mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark harness from source with sbt (into `target/` and
`perfbench/harness/target/`); later runs rebuild only when a build input
changed since (see `fingerprint`). Each run
generates its inputs from the seed under `.bench_build/`, drives the
program from outside, checks every output, and prints one line per metric
followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` a
traced run reports the per-layer ones (see perfbench/README.md) and writes
its span dump to `.bench_build/trace-<workload>-<seed>.json`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build"
CORES = 4
HEAP = "3g"

# Mix tables: the repository's sf0.01 fixture shape (60 k lineitem rows).
# At sf0.1 a run took 69-119 s on a 4-vCPU VM, against 51-76 s here: too
# long for the run budget (see README.md, "Scale of the mix").
MIX_SF = 0.01
# Runner inputs: sf0.1-sized lineitem variants (600 k rows, ~10.8 MB each),
# all of them read by each runner process. An untraced run starts at least
# RUNNER_PROCS processes, one after another, and reports medians over them:
# every process is a fresh JVM, so one process is one sample of its cold
# start.
RUNNER_ROWS = 600_000
RUNNER_FILES = 6
RUNNER_PROCS = 2

# The query mix: (queries, flagship samples per warm pass). Scan, join,
# aggregate and sort queries through Catalyst and the graft.plans rules,
# then the LLM-pipeline queries: memo builds (dedup, sim, text), the
# k-means and PageRank driver gates, the graft.functions kernels and the
# streaming state store.
MIXES = {
    "query-mix": (["q_scan_flagship", "q_join_range_auto", "q_sort_multi",
                   "q_dedup_minhash", "q_cluster_kmeans", "q_graph_pagerank",
                   "q_bpe_apply", "q_stream_session"], 8),
}

# Every run ends within this many seconds of its start, builds excluded:
# a process still running then is killed and the run fails.
RUN_LIMIT_S = 170

# Spark's listener stamps events in whole milliseconds on its own reading
# of the clock; a job may appear this far outside the span that ran it.
CLOCK_SLACK_MS = 5

# The ops modules that declare the mix's queries.
MODULES = ["ScanFilterOps", "WarehouseOps", "SortSetOps", "DedupOps", "SimOps",
           "GraphOps", "TextOps", "StreamOps"]

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "cold_pass_s": "s", "flagship_p50_s": "s",
    "read_mb_per_pass": "MB", "peak_live_heap_mb": "MB",
}

PER_LAYER = {
    **{f"runner.{k}": u for k, u in [
        ("file_p50_s", "s"), ("file_p90_s", "s"), ("jobs_per_file", "count"),
        ("tasks_per_file", "count"), ("core_busy_frac", "ratio"),
        ("stdout_mb_per_file", "MB")]},
    **{f"io.{k}": u for k, u in [
        ("get_ops_per_file", "count"), ("head_ops_per_file", "count"),
        ("wire_mb_per_file", "MB"), ("consumed_mb_per_file", "MB"),
        ("read_amplification", "ratio"),
        ("get_p50_ms", "ms"), ("get_p90_ms", "ms"), ("server_busy_s", "s")]},
    **{f"ops.{m}.{k}": "s" for m in MODULES
       for k in ("wall_s", "task_s", "driver_s")},
    "plans.plan_s": "s", "plans.exchanges": "count", "plans.jobs": "count",
    **{f"memo.{k}": u for k, u in [
        ("build_s", "s"), ("builds", "count"), ("dedup_s", "s"),
        ("sim_s", "s"), ("graph_s", "s"), ("text_s", "s")]},
    **{f"spark.{k}": u for k, u in [
        ("scan_mb", "MB"), ("scan_rows", "count"), ("shuffle_write_mb", "MB"),
        ("shuffle_read_mb", "MB"), ("spill_mb", "MB"), ("tasks", "count"),
        ("task_s", "s"), ("core_busy_frac", "ratio")]},
    "jvm.gc_s": "s", "jvm.peak_heap_mb": "MB",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    **{f"self.{k}_s": "s" for k in (
        "pass", "query", "build", "plan", "execute", "memo",
        "file", "exec", "job")},
    "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
    "trace.reconcile_frac": "ratio",
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# Filled by a traced run: the span dump written at the end.
DUMP = {}


class Failure(Exception):
    """A wrong output or an accounting mismatch: the run is not correct."""


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# --------------------------------------------------------------- processes

_children = []


def _kill_children():
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for p in _children:
        p.wait()


def spawn(cmd, **kw):
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    return p


# The time.perf_counter() by which the run must end (see RUN_LIMIT_S).
deadline = math.inf


def time_left():
    return max(1.0, deadline - time.perf_counter())


def wait(p, timeout):
    timeout = min(timeout, time_left())
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ------------------------------------------------------------------- build

def classes():
    return [ROOT / "target" / "scala-2.13" / "classes",
            HERE / "harness" / "target" / "scala-2.13" / "classes"]


def fingerprint():
    """Hash of every build input: the program's sources and build
    definition, and the harness's. A tree whose hash differs from the one
    its classes were built from is rebuilt."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", *(ROOT / "src" / "main").rglob("*")]
    for top in (ROOT / "project", HERE / "harness"):
        files += [p for p in top.rglob("*")
                  if p.suffix in (".sbt", ".scala", ".java", ".properties")
                  and "target" not in p.relative_to(top).parts]
    for p in sorted(f for f in files if f.is_file()):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Compile the program and the harness, unless the classes were built
    from the same sources (see `fingerprint`). The stamp file holds that
    hash and the directory of Spark jars the program's build compiles
    against, which the JVMs run with."""
    stamp = WORK / "build.ok"
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("perfbench: no program sources next to perfbench/ "
                         "(run from the root of a full checkout)")
    fp = fingerprint()
    if (stamp.exists() and stamp.read_text().split()[:1] == [fp]
            and all(c.is_dir() for c in classes())):
        return
    WORK.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    (WORK / "sbt-tmp").mkdir(exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'sbt-tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building program and harness with sbt")
    with open(WORK / "build.log", "w") as out:
        p = spawn(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "print unmanagedBase"],
                  cwd=HERE / "harness", env=env, stdout=out,
                  stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        rc = wait(p, 800)
    words = (WORK / "build.log").read_text().split()
    jars = Path(words[-1]) if rc == 0 and words else None
    if jars is None or not jars.is_dir() or not all(c.is_dir() for c in classes()):
        raise SystemExit(f"perfbench: build failed, see {WORK / 'build.log'}")
    stamp.write_text(f"{fp}\n{jars}\n")


def java_cmd(work, main, extra=()):
    jars = (WORK / "build.ok").read_text().split()[1]
    cp = ":".join([str(c) for c in classes()] + [f"{jars}/*"])
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *extra, "-cp", cp, main]


def java_env():
    return dict(os.environ, SPARK_GRAFT_RAM_LOCAL="0",
                SPARK_GRAFT_CPUS=str(CORES), SPARK_MASTER=f"local[{CORES}]")


# ------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q / 100 * len(s) + 0.5)) - 1))]


def tail(xs):
    """The highest whole percentile above the median with at least ten
    samples beyond it, or None when there are too few samples."""
    q = int(100 * (1 - 10 / len(xs))) if xs else 0
    return (q, pct(xs, q)) if q > 50 else None


def union_len(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, clipped to [lo, hi]."""
    ivs = sorted((max(a, lo) if lo is not None else a,
                  min(b, hi) if hi is not None else b) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Per-kind self time: each span's duration minus the part of it that
    its child spans cover. `spans` are dicts with id, parent, kind, start,
    end (seconds)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = union_len([(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                          s["start"], s["end"])
        out[s["kind"]] = out.get(s["kind"], 0.0) + (s["end"] - s["start"] - cover)
    return out


# ------------------------------------------------------------ mix workloads

def check_mix(data, out_dir, queries, oracle):
    """Compare each query's Spark output with its DuckDB oracle from
    `SparkEntry.oracleSql` with the repository's own check
    (tools/check.py); return the problems found."""
    missing = [q for q in queries if q not in oracle]
    bad = [f"no oracle for {missing}"] if missing else []
    bad += [f"{q}: no output" for q in queries if not (out_dir / q).is_dir()]
    out_dir.mkdir(exist_ok=True)
    (out_dir / "oracle_sql.json").write_text(json.dumps(oracle))
    p = spawn([sys.executable, str(ROOT / "tools" / "check.py"), str(data),
               str(out_dir)], env=dict(os.environ, GRAFT_DUCK_THREADS=str(CORES)),
              stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
              stdin=subprocess.DEVNULL)
    out = p.communicate(timeout=time_left())[0].decode(errors="replace")
    if p.returncode != 0:
        bad += [ln[3:] for ln in out.splitlines() if ln.startswith("XX ")] or [
            f"tools/check.py exited {p.returncode}: {out[-300:]}"]
    return bad


def mix_jvm(work, args):
    """Run the mix harness to the end; return its seconds to READY."""
    ready = None
    with open(work / "mix.log", "w") as err:
        t0 = time.perf_counter()
        p = spawn(java_cmd(work, "perfbench.Mix") + args, cwd=work,
                  env=java_env(), stdout=subprocess.PIPE, stderr=err,
                  stdin=subprocess.DEVNULL)
        for line in p.stdout:
            if line.strip() == b"READY" and ready is None:
                ready = time.perf_counter() - t0
        rc = wait(p, 170)
    if rc != 0 or ready is None:
        raise Failure(f"mix harness failed: {tail_of(work / 'mix.log')}")
    return ready


def run_mix(workload, seed, seconds, trace, work):
    from datagen import tables
    data = work / "data"
    tables(seed, MIX_SF, data)
    queries, flagship = MIXES[workload]
    args = [str(data), str(work), str(seed), str(seconds), str(trace)]
    setup = mix_jvm(work, args + [",".join(queries), str(flagship)])
    res = json.loads((work / "result.json").read_text())
    bad = check_mix(data, work / "out", queries, res["oracle"])
    return (mix_metrics(res, setup, trace),
            res["attempted"], res["failures"], bad)


def tail_of(path, n=800):
    try:
        return path.read_text(errors="replace")[-n:]
    except OSError:
        return ""


def mix_metrics(res, setup, trace):
    spans = res["spans"]
    passes = [(i, s) for i, s in enumerate(spans) if s[1] == "pass"]
    cold = [i for i, s in passes if s[0] == "cold"]
    warm = [(i, s) for i, s in passes if s[0] == "warm" and not s[5]["traced"]]
    traced = [(i, s) for i, s in passes if s[0] == "warm" and s[5]["traced"]]
    wall = lambda s: (s[4] - s[3]) / 1e3

    def busy(i):
        """A pass's time inside its queries (flagship samples excluded)."""
        return sum(wall(c) for c in spans if c[2] == i and c[1] == "query")

    warm_idx = {s[5]["index"] for _, s in warm}
    flag = [wall(s) for s in spans if s[1] == "flagship" and s[5]["pass"] in warm_idx]
    probe = res["probe"]
    jobs = {j[0]: j for j in probe["jobs"]}
    tasks_by_tag = {}
    for t in probe["tasks"]:
        j = jobs.get(t[0])
        tasks_by_tag.setdefault(j[1] if j else "", []).append(t)
    jobs_by_tag = {}
    for j in probe["jobs"]:
        jobs_by_tag.setdefault(j[1], []).append(j)

    def pass_tasks(idx):
        pre = f"{idx}/"
        return [t for tag, ts in tasks_by_tag.items() if tag.startswith(pre)
                for t in ts]

    def read_mb(s):
        return sum(t[4] for t in pass_tasks(s[5]["index"])) / 1e6

    pass_s = [busy(i) for i, _ in warm]
    m = {
        "setup_s": setup,
        "pass_s": median(pass_s),
        "cold_pass_s": busy(cold[0]),
        "flagship_p50_s": median(flag),
        "read_mb_per_pass": median([read_mb(s) for _, s in warm]),
        "peak_live_heap_mb": res["peak_live_heap_mb"],
    }
    samples = {"setup_s": [setup], "pass_s": pass_s, "flagship_p50_s": flag,
               "cold_pass_s": [m["cold_pass_s"]],
               "queries": [{"pass": spans[c[2]][5]["index"], "query": c[0],
                            "s": wall(c)} for c in spans if c[1] == "query"]}
    if not trace:
        return m, samples

    # ---- per-layer, from the traced passes
    per = []
    for i, s in traced:
        idx = s[5]["index"]
        kids = [(k, c) for k, c in enumerate(spans) if c[2] == i]
        qspans = [c for _, c in kids if c[1] == "query"]
        ts = pass_tasks(idx)
        row = {}
        for mod in MODULES:
            mq = [c for c in qspans if c[5]["module"] == mod]
            mt = [t for c in mq for t in tasks_by_tag.get(f"{idx}/{c[0]}", [])]
            row[f"ops.{mod}.wall_s"] = sum(wall(c) for c in mq)
            row[f"ops.{mod}.task_s"] = sum(t[3] for t in mt) / 1e3
            row[f"ops.{mod}.driver_s"] = sum(
                wall(c) - union_len([(t[1], t[2]) for t in tasks_by_tag.get(
                    f"{idx}/{c[0]}", [])], c[3], c[4]) / 1e3 for c in mq)
        phases = [c for k, c in enumerate(spans)
                  if c[2] >= 0 and spans[c[2]][2] == i]
        row["plans.plan_s"] = sum(wall(c) for c in phases if c[1] == "plan")
        row["plans.exchanges"] = sum(max(0, c[5]["exchanges"]) for c in qspans)
        row["plans.jobs"] = sum(len(js) for tag, js in jobs_by_tag.items()
                                if tag.startswith(f"{idx}/"))
        builds = [b for b in res["memo"] if b[0] == idx]
        row["memo.build_s"] = sum(b[2] for b in builds)
        row["memo.builds"] = len(builds)
        for fam in ("dedup", "sim", "graph", "text"):
            row[f"memo.{fam}_s"] = sum(b[2] for b in builds
                                       if b[1].startswith(fam + "."))
        task_s = sum(t[3] for t in ts) / 1e3
        row.update({
            "spark.scan_mb": sum(t[4] for t in ts) / 1e6,
            "spark.scan_rows": sum(t[5] for t in ts),
            "spark.shuffle_write_mb": sum(t[6] for t in ts) / 1e6,
            "spark.shuffle_read_mb": sum(t[7] for t in ts) / 1e6,
            "spark.spill_mb": sum(t[8] for t in ts) / 1e6,
            "spark.tasks": len(ts),
            "spark.task_s": task_s,
            "spark.core_busy_frac": task_s / (res["cores"] * wall(s)),
            "jvm.gc_s": s[5]["gc_s"],
        })
        st = [x for x in res["stream"] if x[0] == idx]
        row["streaming.state_rows"] = sum(x[2] for x in st)
        row["streaming.state_mb"] = sum(x[3] for x in st) / 1e6
        # self times: pass -> query -> {build, plan, execute} -> memo
        dump = [{"id": i, "parent": -1, "kind": "pass",
                 "start": s[3] / 1e3, "end": s[4] / 1e3}]
        ids = {i}
        for k, c in enumerate(spans):
            if c[2] in ids and k not in ids:
                ids.add(k)
                dump.append({"id": k, "parent": c[2], "kind": c[1],
                             "start": c[3] / 1e3, "end": c[4] / 1e3})
        st_ = self_times(dump)
        memo_by_phase = {}
        for b in builds:
            phase = b[4].rsplit("/", 1)[-1]
            memo_by_phase[phase] = memo_by_phase.get(phase, 0.0) + b[2]
        for ph in ("build", "plan", "execute"):
            st_[ph] = st_.get(ph, 0.0) - memo_by_phase.get(ph, 0.0)
        st_["memo"] = row["memo.build_s"]
        for k in ("pass", "query", "build", "plan", "execute", "memo"):
            row[f"self.{k}_s"] = st_.get(k, 0.0)
        row["_busy"] = busy(i)
        # Cross-check of two clocks: the listener's jobs (Spark's event
        # times) must lie inside the harness's span of the query that ran
        # them. What the jobs and the plan spans cover is the share of the
        # pass that Spark execution and planning account for.
        row["_explained"] = 0.0
        for k, c in kids:
            if c[1] != "query":
                continue
            js = [(j[3], j[4]) for j in jobs_by_tag.get(f"{idx}/{c[0]}", [])
                  if j[4] > 0]
            if any(a < c[3] - CLOCK_SLACK_MS or b > c[4] + CLOCK_SLACK_MS
                   for a, b in js):
                raise Failure(f"{c[0]}: a Spark job ran outside the query's span")
            plan = [(p[3], p[4]) for p in spans if p[2] == k and p[1] == "plan"]
            row["_explained"] += union_len(js + plan) / 1e3
        DUMP.setdefault("spans", []).extend(dump)
        per.append(row)
    layer = {k: median([r.get(k, 0.0) for r in per]) for k in PER_LAYER}
    layer["jvm.peak_heap_mb"] = res["peak_heap_mb"]
    DUMP["memo"] = [dict(zip(("pass", "tag", "self_s", "total_s", "by"), b))
                    for b in res["memo"]]
    DUMP["jobs"] = [dict(zip(("id", "tag", "exec", "start_ms", "end_ms"), j))
                    for j in probe["jobs"]]
    # Each traced pass is set against the untraced pass that follows it:
    # the first warm passes are still warming up, so an untraced pass
    # before a traced one would make tracing look cheaper than it is.
    after = {s[5]["index"]: busy(i) for i, s in warm}
    untraced = median([after[s[5]["index"] + 1] for _, s in traced
                       if s[5]["index"] + 1 in after]) or m["pass_s"]
    tr = median([r["_busy"] for r in per])
    layer["trace.overhead_s"] = tr - untraced
    layer["trace.overhead_frac"] = (tr - untraced) / untraced
    layer["trace.reconcile_frac"] = median([r["_explained"] for r in per]) / untraced
    return layer, samples


# --------------------------------------------------------- runner workload

def runner_chunks(out):
    """The runner's stdout as a list of chunks of (VID, X, Y, Z, E) rows.
    A chunk is a `Chunk - ` header line, then one
    `- FLAT <TYPE>: n = [ v, v, ...]` line per column."""
    chunks, cols = [], None
    for line in out.splitlines():
        if line.startswith(b"Chunk - "):
            cols = []
            chunks.append(cols)
        elif line.startswith(b"- FLAT ") and cols is not None:
            body = line.split(b"= [", 1)[1].rsplit(b"]", 1)[0].split(b",")
            parse = int if not cols else float
            cols.append([None if v.strip() == b"NULL" else parse(v)
                         for v in body])
    return [list(zip(*c)) for c in chunks]


def check_rows(chunks, expected):
    """Every printed row must be one of DuckDB's rows for the batch's files,
    each printed once: VID, X, Y and Z exactly, E (an average, summed in
    another order by each engine) within a relative 1e-9. Each chunk holds
    one file's rows, and each file's rows, in print order, are sorted by E."""
    owner = {r[0]: (n, r) for n, rows in expected.items() for r in rows}
    seen, last = set(), {}
    for chunk in chunks:
        files = set()
        for row in chunk:
            name, want = owner.get(row[0], (None, None))
            if want is None or row[0] in seen:
                raise Failure(f"runner printed VID {row[0]}, which DuckDB "
                              "does not have or which was printed before")
            seen.add(row[0])
            if (row[1:4] != want[1:4] or row[4] is None
                    or not math.isclose(row[4], want[4], rel_tol=1e-9)):
                raise Failure(f"runner row {row} != DuckDB's {want}")
            if row[4] < last.get(name, -math.inf):
                raise Failure(f"{name}: rows not in ascending E order")
            last[name] = row[4]
            files.add(name)
        if len(files) > 1:
            raise Failure(f"one stdout chunk holds rows of {sorted(files)}")
    if len(seen) != len(owner):
        raise Failure(f"runner printed {len(seen)} rows, DuckDB has {len(owner)}")


def runner_batch(work, server, names, expected, projected, trace):
    """One runner process over `names`; returns its measurements, or raises
    Failure on a wrong answer or an accounting mismatch."""
    probe_out = work / f"probe-{time.time_ns()}.json"
    extra = ["-Dspark.extraListeners=perfbench.Probe",
             f"-Dperfbench.probe.out={probe_out}",
             f"-Dperfbench.probe.spans={'true' if trace else 'false'}"]
    cmd = java_cmd(work, "graft.runner.Main", extra) + ["-j", str(CORES)]
    mark = server.mark()
    t0 = time.perf_counter()
    p = spawn(cmd, cwd=work, env=java_env(), stdin=subprocess.PIPE,
              stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    # stdout is drained into memory and parsed after the process ends
    outbuf, errbuf = [], []
    th = threading.Thread(target=lambda: outbuf.append(p.stdout.read()))
    th.start()
    eth = threading.Thread(target=lambda: errbuf.append(p.stderr.read()))
    eth.start()
    p.stdin.write(("\n".join(server.url(n) for n in names) + "\n").encode())
    p.stdin.close()
    rc = wait(p, 170)
    wall = time.perf_counter() - t0
    th.join()
    eth.join()
    err = errbuf[0].decode(errors="replace")
    reqs = server.since(mark)
    stats = {}
    for line in err.splitlines():
        k, sep, v = line.partition(": ")
        if sep and k in ("Total Query time", "Total hits", "Total read ops",
                         "Total read bytes"):
            stats[k] = v.strip()
    if rc != 0 or "Done" not in err.splitlines():
        raise Failure(f"runner exited {rc} without its stat block: {err[-500:]}")
    errors = [ln for ln in err.splitlines() if ln.startswith("error processing")]
    if errors:
        raise Failure(f"runner reported {len(errors)} failed files: {errors[0]}")
    want = sum(len(expected[n]) for n in names)
    gets = [r for r in reqs if r[0] == "GET"]
    heads = [r for r in reqs if r[0] == "HEAD"]
    wire = sum(r[2] for r in gets)
    if int(stats["Total hits"]) != want:
        raise Failure(f"Total hits {stats['Total hits']} != DuckDB {want}")
    check_rows(runner_chunks(outbuf[0]), {n: expected[n] for n in names})
    if names and int(stats.get("Total read ops", -1)) != len(gets):
        raise Failure(f"Total read ops {stats.get('Total read ops')} != "
                      f"{len(gets)} GETs seen by the server")
    # The client reads ahead in 1 MiB windows and closes a window early
    # when it seeks away, so the server sends more than the runner
    # consumes: the runner's count must lie between the column chunks the
    # query needs (from the footers) and the bytes the server sent.
    consumed = int(stats["Total read bytes"])
    need = sum(projected[n] for n in names)
    if not need <= consumed <= wire:
        raise Failure(f"Total read bytes {consumed} outside [{need} projected "
                      f"chunk bytes, {wire} bytes sent by the server]")
    if any(r[5] >= 400 for r in reqs):
        raise Failure("the server answered a request with an error status")
    qtime = float(stats["Total Query time"].split()[0])
    probe = json.loads(probe_out.read_text()) if probe_out.exists() else None
    if probe is None:
        raise Failure("the probe listener wrote no record")
    return {"wall": wall, "query": qtime, "setup": wall - qtime,
            "files": len(names), "consumed": consumed, "gets": gets, "heads": heads, "wire": wire,
            "stdout": len(outbuf[0]), "probe": probe, "reqs": reqs}


def file_spans(b, names):
    """Per file of one runner process: (start, end, execution seconds).
    A file's span opens at its first request to the server (the footer
    read while planning) or its first SQL execution, whichever is first,
    and closes when its last SQL execution ends; the execution seconds are
    those from its first SQL execution's start to its last one's end."""
    by_file = {}
    for x in b["probe"]["execs"]:
        if x[3] > 0:
            by_file.setdefault(os.path.basename(x[1]), []).append(x)
    if sorted(by_file) != sorted(set(names)):
        raise Failure(f"SQL executions seen for {sorted(by_file)}, "
                      f"expected one or more for each of {sorted(set(names))}")
    first_req = {}
    for r in b["reqs"]:
        first_req[r[1]] = min(first_req.get(r[1], r[3]), r[3])
    out = {}
    for f, xs in by_file.items():
        x0 = min(x[2] for x in xs) / 1e3
        x1 = max(x[3] for x in xs) / 1e3
        out[f] = (min(x0, first_req.get(f, x0)), x1, x1 - x0)
    return out


def waves(spans):
    """Split a process's files into its first wave (the CORES files that
    start first, while the JVM is cold) and the rest."""
    order = sorted(spans, key=lambda f: spans[f][0])
    return order[:CORES], order[CORES:]


def run_runner(seed, seconds, trace, work):
    from datagen import runner_files, projected_chunk_bytes
    from objserver import ObjectServer
    objs = work / "objects"
    names, rows = runner_files(seed, RUNNER_FILES, RUNNER_ROWS, objs)
    expected = dict(zip(names, rows))
    projected = {n: projected_chunk_bytes(objs / n) for n in names}
    batches = []
    with ObjectServer(objs) as server:
        def batch(kind, traced=False):
            batches.append((kind, runner_batch(work, server, names, expected,
                                               projected, traced)))
        if not trace:
            t0 = time.perf_counter()
            while (len(batches) < RUNNER_PROCS
                   or time.perf_counter() - t0 < seconds):
                batch("pass")
        else:
            batch("pass")
            batch("traced", traced=True)
    attempted = sum(b["files"] for _, b in batches)
    passes = [b for k, b in batches if k == "pass"]
    if not trace:
        cold, warm = [], []
        for b in passes:
            spans = file_spans(b, names)
            first, rest = waves(spans)
            cold += [spans[f][1] - spans[f][0] for f in first]
            warm += [spans[f][2] for f in rest]
        m = {
            "setup_s": median([b["setup"] for b in passes]),
            "pass_s": median([b["query"] for b in passes]),
            "cold_pass_s": median(cold),
            "flagship_p50_s": median(warm),
            "read_mb_per_pass": median([b["wire"] / 1e6 for b in passes]),
            "peak_live_heap_mb": median([b["probe"]["peak_live_heap_mb"]
                                         for b in passes]),
        }
        print(f"# {median([b['files'] / b['query'] for b in passes]):.4g} "
              f"files/s over {RUNNER_FILES} files per process, "
              f"{len(passes)} processes "
              "(reference: one 46 MB object in 0.33 s, ~3 files/s)")
        return m, attempted, {"setup_s": [b["setup"] for b in passes],
                              "pass_s": [b["query"] for b in passes],
                              "cold_pass_s": cold, "flagship_p50_s": warm}
    b = batches[1][1]
    n = b["files"]
    probe = b["probe"]
    execs = [x for x in probe["execs"] if x[3] > 0]
    by_file = {}
    for x in execs:
        by_file.setdefault(os.path.basename(x[1]), []).append(x)
    exec_file = {x[0]: os.path.basename(x[1]) for x in execs}
    jobs = [j for j in probe["jobs"] if j[2] in exec_file]
    job_ids = {j[0] for j in jobs}
    tasks = [t for t in probe["tasks"] if t[0] in job_ids]
    fspan = {f: sp[:2] for f, sp in file_spans(b, names).items()}
    fdur = [e - s for s, e in fspan.values()]
    lo = min(s for s, _ in fspan.values())
    hi = max(e for _, e in fspan.values())
    get_ms = [(r[4] - r[3]) * 1e3 for r in b["gets"]]
    proj = sum(projected.values())
    layer = {k: 0.0 for k in PER_LAYER}
    layer.update({
        "runner.file_p50_s": median(fdur),
        "runner.file_p90_s": pct(fdur, 90),
        "runner.jobs_per_file": len(jobs) / n,
        "runner.tasks_per_file": len(tasks) / n,
        "runner.core_busy_frac": sum(t[3] for t in tasks) / 1e3 / (CORES * (hi - lo)),
        "runner.stdout_mb_per_file": b["stdout"] / 1e6 / n,
        "io.get_ops_per_file": len(b["gets"]) / n,
        "io.head_ops_per_file": len(b["heads"]) / n,
        "io.wire_mb_per_file": b["wire"] / 1e6 / n,
        "io.consumed_mb_per_file": b["consumed"] / 1e6 / n,
        "io.read_amplification": b["wire"] / proj,
        "io.get_p50_ms": median(get_ms),
        "io.get_p90_ms": pct(get_ms, 90),
        "io.server_busy_s": sum(r[4] - r[3] for r in b["reqs"]),
        "spark.scan_mb": sum(t[4] for t in tasks) / 1e6,
        "spark.scan_rows": sum(t[5] for t in tasks),
        "spark.shuffle_write_mb": sum(t[6] for t in tasks) / 1e6,
        "spark.shuffle_read_mb": sum(t[7] for t in tasks) / 1e6,
        "spark.spill_mb": sum(t[8] for t in tasks) / 1e6,
        "spark.tasks": len(tasks),
        "spark.task_s": sum(t[3] for t in tasks) / 1e3,
        "spark.core_busy_frac": sum(t[3] for t in tasks) / 1e3 / (CORES * (hi - lo)),
        "jvm.gc_s": probe["gc_s"],
        "jvm.peak_heap_mb": probe["peak_heap_mb"],
    })
    # spans: file -> SQL execution -> job
    dump = []
    for k, (f, xs) in enumerate(by_file.items()):
        fid = f"f{k}"
        dump.append({"id": fid, "parent": None, "kind": "file", "name": f,
                     "start": fspan[f][0], "end": fspan[f][1]})
        for x in xs:
            dump.append({"id": f"x{x[0]}", "parent": fid, "kind": "exec",
                         "start": x[2] / 1e3, "end": x[3] / 1e3})
        for r in b["reqs"]:
            if r[1] == f:
                dump.append({"id": f"g{len(dump)}", "parent": fid,
                             "kind": r[0].lower(), "bytes": r[2],
                             "start": r[3], "end": r[4]})
    for j in jobs:
        if j[4] > 0:
            dump.append({"id": f"j{j[0]}", "parent": f"x{j[2]}", "kind": "job",
                         "start": j[3] / 1e3, "end": j[4] / 1e3})
    st = self_times(dump)
    DUMP["spans"] = dump
    for k in ("file", "exec", "job"):
        layer[f"self.{k}_s"] = st.get(k, 0.0)
    untraced = batches[0][1]["query"]
    layer["trace.overhead_s"] = b["query"] - untraced
    layer["trace.overhead_frac"] = (b["query"] - untraced) / untraced
    layer["trace.reconcile_frac"] = (hi - lo) / untraced
    return layer, attempted, {}


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["runner-ghttp", *MIXES])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build()
    global deadline
    deadline = time.perf_counter() + RUN_LIMIT_S
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True)
    sys.path.insert(0, str(HERE))
    try:
        bad, failed = [], []
        if a.workload == "runner-ghttp":
            metrics, attempted, samples = run_runner(a.seed, a.seconds, a.trace, work)
        else:
            (metrics, samples), attempted, failed, bad = run_mix(
                a.workload, a.seed, a.seconds, a.trace, work)
        correct = not bad and not failed
        for b in bad + failed:
            log(f"INCORRECT: {b}")
    except Failure as e:
        log(f"INCORRECT: {e}")
        sys.exit(1)
    finally:
        _kill_children()
        shutil.rmtree(work, ignore_errors=True)
    if DUMP:
        (WORK / f"trace-{a.workload}-{a.seed}.json").write_text(json.dumps(DUMP))
    if samples:
        (WORK / f"samples-{a.workload}-{a.seed}.json").write_text(json.dumps(samples))
    units = END_TO_END if not a.trace else PER_LAYER
    out = {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}
    for k, v in out.items():
        line = f"{k} = {v['value']:.6g} {v['unit']}"
        if k in samples and len(samples[k]) > 1:
            t = tail(samples[k])
            line += f"  (median of {len(samples[k])}" + (
                f", p{t[0]:g} = {t[1]:.6g}" if t else "") + ")"
        print(line)
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": len(failed), "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
