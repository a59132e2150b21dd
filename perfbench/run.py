#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It builds the program and the harness from source (perfbench/build.py),
writes the batch fixture tables (perfbench/fixture.py), runs the harness JVM
(perfbench/scala) once, checks the outputs, and prints as its last stdout
line one JSON object with `correct`, `attempted`, `failed` and `metrics`.
The line before it carries the run's annotations (cores, /proc/loadavg at
start and end, CPU steal during the run, JVM flags, commit, seed). Build
output, fixtures and scratch files go under $CARGO_TARGET_DIR (default
.bench_build).

Workloads (sized for 4 cores: local[4], one JVM, one generator thread):

- batch_exec: closed loop over `graft.SparkEntry.queries` whose wall time is
  mostly execution (shuffle-heavy graph/basket/aggregate queries, sf0.1):
  one unmeasured pass, then ceil(seconds / 5) passes in seeded orders.
- batch_driver: the same over queries whose wall time is mostly DataFrame
  building (eager driver-side jobs) and Catalyst planning. Not listed in
  BENCHMARK.json (time budget); run it by name.
- stream_keyed_state: open-loop events into `Streams.userTotalsTws`
  (RocksDB ValueState, update mode); ~100k Zipf-skewed users.
- stream_cdc_upsert: the same generator into `Streams.foreachBatchUpsert`
  keyed on user_id (merge, parquet rewrite, rename publish, re-read).

End-to-end metrics (untraced runs; the same names on every workload):

- setup_s: median of three set-ups in the run (session, fixture loaders; for
  streams also starting a query and running its first batch).
- throughput_per_s: batch = queries per second of a full pass, from
  per-query median times; stream = sustained rows/s, the highest rate the
  engine processed on the rate ladder, which stops at the first rung whose
  backlog grows (metrics.ladder, stats.backlog_growing).
- latency_p50_ms: batch = median of every query x pass sample; stream = p50
  of per-event latency (due time -> end of the batch that emitted it) on
  the ladder's first rung, a fixed rate below saturation.
- latency_tail_ms: batch = the slowest query's median time (a run's ~12
  samples support no percentile above the median, as a percentile needs
  10 samples beyond it: stats.percentile); stream = p90 of per-event
  latency on the first rung.
- peak_rss_mb: the JVM's VmHWM.

Failed operations (a query that throws, a digest that differs from
digests.json, a lost/duplicated event or a wrong upsert row) are reported in
`failed` against `attempted`, so failed_frac = failed / attempted.

A traced run (--trace 1) reports per-layer metrics instead (see README.md
for the layer map); in one JVM it runs the workload traced, then untraced
(trace.overhead_frac) and at local[1] (trace.scaling_x) for half as long.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fixture  # noqa: E402
import metrics  # noqa: E402

FIXTURE_SEED = 42
CORES = 4
TIME_LIMIT_S = 170.0

BATCH_EXEC = [
    "graph_degree_hist", "sql_correlated_scalar", "ts_hourly_percentiles",
    "win_ntile_quartiles", "llm_dup_spans", "basket_lift_pairs",
]
BATCH_DRIVER = [
    "ts_forecast_mase", "llm_vocab_nucleus", "ts_holt_winters", "llm_mmr_rerank",
    "stats_ks_test", "ml_avg_precision", "llm_unigram_loss", "anomaly_esd_residual",
    "attribution_markov_removal", "llm_bpe_merges",
]

# The streaming rate ladder: (rows/s, share of --seconds). The first rung is
# the fixed rate below saturation where latency is measured; the second
# overloads stream_keyed_state, so its drain rate is the sustained rate.
RUNGS = [(10000, 0.65), (160000, 0.35)]
# Before the ladder, (rows/s, seconds): a burst that gets the JIT through the
# stateful and sink code paths, then a quiet stretch that drains it, so the
# first rung starts from a warm engine with no backlog.
WARMUP = [(50000, 1), (5000, 4)]
FIXTURE_SF = 0.1

WORKLOADS = {
    "batch_exec": dict(kind="batch", queries=BATCH_EXEC),
    "batch_driver": dict(kind="batch", queries=BATCH_DRIVER),
    "stream_keyed_state": dict(kind="stream", users=100000, zipf=1.0, rungs=RUNGS,
                               warmup=WARMUP),
    "stream_cdc_upsert": dict(kind="stream", users=100000, zipf=1.0, rungs=RUNGS,
                              warmup=WARMUP),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().split()[:3]
    except OSError:
        return None


def cpu_times():
    """The aggregate `cpu` line of /proc/stat (jiffies), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(t0, t1):
    """Share of CPU time a hypervisor took away between two cpu_times()
    readings: a run that lost cores to neighbouring guests shows it."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    total = sum(t1[:8]) - sum(t0[:8])
    return (t1[7] - t0[7]) / total if total > 0 else 0.0


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + build.source_key()


def jvm_command(classpath, work, main_class, args):
    """The java command line for a harness main; scratch files go to `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java"] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, main_class] + args


KEEP = {"raw.json", "result.json", "spans.jsonl", "jvm.log"}


def run_jvm(classpath, work, args, deadline):
    """Runs the harness; afterwards keeps only the small result files of
    `work` (shuffle files, state checkpoints and tables are ~100 MB a run)."""
    cmd = jvm_command(classpath, work, "perfbench.Main", args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    for name in os.listdir(work):
        if name not in KEEP:
            subprocess.run(["rm", "-rf", os.path.join(work, name)], check=True)
    if code != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise SystemExit(f"harness JVM failed ({code}); log tail:\n{tail}")
    return cmd


def fixture_key(sf):
    return f"sf{sf}-seed{FIXTURE_SEED}"


def fixture_dir(sf):
    """Writes (once per build directory) and returns the fixture for `sf`."""
    return fixture.ensure(os.path.join(build.build_dir(), "fixture", fixture_key(sf)),
                          sf, FIXTURE_SEED)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    load0 = loadavg()
    cpu0 = cpu_times()

    classpath = build.build()
    deadline = time.time() + TIME_LIMIT_S
    root = build.build_dir()
    work = os.path.join(root, "perfbench", f"{a.workload}-s{a.seed}-t{a.trace}")
    subprocess.run(["rm", "-rf", work], check=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(CORES),
            "--work", work, "--out", out]
    if wl["kind"] == "batch":
        args += ["--fixture", fixture_dir(FIXTURE_SF), "--queries", ",".join(wl["queries"])]
    else:
        args += ["--users", str(wl["users"]), "--zipf", str(wl["zipf"]),
                 "--rungs", ",".join(f"{r}:{f}" for r, f in wl["rungs"]),
                 "--warmup", ",".join(f"{r}:{s}" for r, s in wl["warmup"])]
    run_jvm(classpath, work, args, deadline)
    with open(out) as fh:
        raw = json.load(fh)

    if wl["kind"] == "batch":
        with open(os.path.join(HERE, "digests.json")) as fh:
            expected = json.load(fh)[fixture_key(FIXTURE_SF)]
        res = metrics.batch(raw, wl, expected, a.trace)
    else:
        res = metrics.stream(raw, wl, a.trace)
    annotations = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": CORES, "nproc": os.cpu_count(), "loadavg_start": load0,
        "loadavg_end": loadavg(), "cpu_steal_frac": steal_frac(cpu0, cpu_times()),
        "jvm_flags": raw.get("jvm_flags"), "commit": commit(),
        "details": res.pop("details"),
    }
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump({"annotations": annotations, **res}, fh, indent=1)
    print(json.dumps({"annotations": annotations}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
