"""Turns the harness JVM's raw measurements into benchmark metrics."""
import bisect

from stats import backlog_growing, median, percentile

MB = 1024.0 * 1024.0
FAILED_MS = float("inf")


def _pct(values, p, what):
    v = percentile(values, p)
    if v is None:
        raise SystemExit(f"{what}: {len(values)} samples cannot support p{p}")
    return v


def _metric(value, unit):
    return {"value": value, "unit": unit}


def _mean(values):
    return sum(values) / len(values) if values else 0.0


# ---------------------------------------------------------------- batch

def _failed(sample, expected):
    return bool(sample["error"]) or sample["digest"] != expected.get(sample["query"])


def _medians(samples, times=None):
    """Median time in ms of each query."""
    by = {}
    for s, t in zip(samples, times or [s["ms"] for s in samples]):
        by.setdefault(s["query"], []).append(t)
    return {q: median(v) for q, v in by.items()}


def _qps(samples):
    """Queries per second of one full pass, from per-query median times."""
    med = _medians(samples)
    return len(med) / (sum(med.values()) / 1e3)


def batch(raw, wl, expected, trace):
    samples = raw["samples"]
    phases = [samples] + [raw.get(k, []) for k in ("untraced", "single_core")]
    attempted = sum(len(p) for p in phases)
    bad = [s for p in phases for s in p if _failed(s, expected)]
    details = {"samples": len(samples), "passes": 1 + max(s["pass"] for s in samples),
               "failures": [(s["query"], s["pass"], s["error"][:200] or "digest mismatch")
                            for s in bad][:20],
               "setup_s": raw["setup_s"]}
    times = [FAILED_MS if _failed(s, expected) else s["ms"] for s in samples]
    if trace == 0:
        m = {
            "setup_s": _metric(median(raw["setup_s"]), "s"),
            "throughput_per_s": _metric(_qps(samples), "1/s"),
            "latency_p50_ms": _metric(median(times), "ms"),
            "latency_tail_ms": _metric(max(_medians(samples, times).values()), "ms"),
            "peak_rss_mb": _metric(raw["peak_rss_mb"], "MB"),
        }
    else:
        m = _batch_layers(raw, samples)
    return {"correct": not bad, "attempted": attempted, "failed": len(bad),
            "metrics": m, "details": details}


def _batch_layers(raw, samples):
    L = [s["layers"] for s in samples if "exec" in s["layers"]]
    ex = [l["exec"] for l in L]
    cores = raw["cores"]

    def med(key):
        return median([l[key] for l in L]) or 0.0

    def per_query(key, scale=1.0):
        return _mean([e[key] for e in ex]) / scale

    run_ms = sum(l["run_ms"] for l in L)
    m = {
        "tables.load_ms": (median(raw["loads_ms"]), "ms"),
        "tables.bytes_read_mb": (per_query("input_bytes", MB), "MB"),
        "tables.records_read": (per_query("input_records"), "count"),
        "ops.build_ms": (med("build_ms"), "ms"),
        "ops.build_jobs": (_mean([l["build_jobs"] for l in L]), "count"),
        "plans.plan_ms": (med("plan_ms"), "ms"),
        "plans.analysis_ms": (med("analysis_ms"), "ms"),
        "plans.optimization_ms": (med("optimization_ms"), "ms"),
        "plans.physical_ms": (med("physical_ms"), "ms"),
        "exec.run_ms": (med("run_ms"), "ms"),
    }
    m.update(_exec_layers(ex, run_ms, cores, len(L), raw["stage_skews"]))
    m["exec.gc_ms"] = (_mean([s["layers"]["gc_ms"] for s in samples]), "ms")
    m["exec.jit_ms"] = (_mean([s["layers"]["jit_ms"] for s in samples]), "ms")
    m.update(_zero_stream_layers())
    m["gen.lag_ms_max"] = (0.0, "ms")
    m["gen.events_sent"] = (0, "count")
    m["trace.overhead_frac"] = (_qps(raw["untraced"]) / _qps(samples) - 1.0, "fraction")
    m["trace.scaling_x"] = (_qps(raw["untraced"]) / _qps(raw["single_core"]), "x")
    return {k: _metric(v, u) for k, (v, u) in m.items()}


def _exec_layers(ex, run_ms, cores, n, skews):
    """Execution and shuffle metrics per request (query sample or batch)
    from listener totals; `run_ms` is the wall time they ran in."""
    def tot(key):
        return sum(e[key] for e in ex)
    tasks = tot("tasks")
    n = max(n, 1)
    return {
        "exec.jobs": (tot("jobs") / n, "count"),
        "exec.stages": (tot("stages") / n, "count"),
        "exec.tasks": (tasks / n, "count"),
        "exec.task_run_s": (tot("task_run_ms") / 1e3 / n, "s"),
        "exec.task_cpu_s": (tot("task_cpu_ns") / 1e9 / n, "s"),
        "exec.core_busy_frac": (tot("task_run_ms") / (run_ms * cores) if run_ms else 0.0,
                                "fraction"),
        "exec.sched_delay_ms": (tot("sched_delay_ms") / tasks if tasks else 0.0, "ms"),
        "exec.failed_tasks": (tot("failed_tasks"), "count"),
        "shuffle.read_mb": (tot("shuffle_read_bytes") / MB / n, "MB"),
        "shuffle.write_mb": (tot("shuffle_write_bytes") / MB / n, "MB"),
        "shuffle.fetch_wait_ms": (tot("fetch_wait_ms") / n, "ms"),
        "shuffle.write_ms": (tot("shuffle_write_ns") / 1e6 / n, "ms"),
        "shuffle.spill_mb": (tot("spill_bytes") / MB / n, "MB"),
        "shuffle.task_skew": (median(skews) or 0.0, "x"),
    }


def _zero_stream_layers():
    names = {
        "streaming.batches": "count", "streaming.batch_ms_p50": "ms",
        "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
        "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
        "streaming.backlog_rows_max": "count", "streaming.processed_rows_per_s": "1/s",
        "state.rows_total": "count", "state.mem_mb": "MB", "state.commit_ms": "ms",
        "state.update_ms": "ms", "state.rocksdb_flush_ms": "ms",
        "state.rocksdb_checkpoint_ms": "ms", "state.sst_mb": "MB",
        "sink.write_ms": "ms", "sink.bytes_written_mb": "MB", "sink.files_written": "count",
        "sink.table_rows": "count",
    }
    return {k: (0, u) for k, u in names.items()}


# ---------------------------------------------------------------- stream

class Timeline:
    """Per-event view of one streaming run: which batch emitted each event,
    when, and how far the engine lagged behind the generator."""

    def __init__(self, run):
        self.phases = run["phases"]
        self.rungs = [p for p in self.phases if p["name"].startswith("rung")]
        self.chunk_t = [c[0] for c in run["chunks"]]
        self.chunk_n = [int(c[1]) for c in run["chunks"]]
        self.batches = []
        for b in sorted(run["batches"], key=lambda b: b["id"]):
            lo = self._cum(b["start_offset"])
            hi = self._cum(b["end_offset"])
            end = b["start_ms"] + b["durations"].get("triggerExecution", 0)
            self.batches.append((lo, hi, end, b))

    def _cum(self, offset):
        return 0 if offset < 0 else self.chunk_n[offset]

    def sent_by(self, t_ms):
        i = bisect.bisect_right(self.chunk_t, t_ms)
        return self.chunk_n[i - 1] if i else 0

    def rung(self, name):
        return next(p for p in self.phases if p["name"] == name)

    def window(self, ph):
        return ph["start_ms"], ph["start_ms"] + ph["count"] / ph["rate"] * 1e3

    def latencies(self, ph):
        """Due time -> end of the emitting batch, per event of phase `ph`."""
        first, last = ph["first"], ph["first"] + ph["count"]
        step = 1e3 / ph["rate"]
        out = []
        for lo, hi, end, _ in self.batches:
            a, b = max(lo, first), min(hi, last)
            base = end - ph["start_ms"] + first * step
            out.extend(base - i * step for i in range(a, b))
        return out

    def backlog(self, ph):
        """(seconds into the phase, rows sent but not yet emitted) at each
        batch end inside the phase's window."""
        t0, t1 = self.window(ph)
        return [((end - t0) / 1e3, self.sent_by(end) - hi)
                for _, hi, end, _ in self.batches if t0 <= end < t1]

    def sent_rate(self, ph):
        """Measured input rate of a phase: its events over the time from the
        phase's start until the chunk holding its last event was sent."""
        i = bisect.bisect_left(self.chunk_n, ph["first"] + ph["count"])
        if i >= len(self.chunk_t):
            return ph["rate"]
        return ph["count"] / ((self.chunk_t[i] - ph["start_ms"]) / 1e3)

    def measured(self):
        """Batches ending after warm-up."""
        t0 = self.rungs[0]["start_ms"]
        return [x for x in self.batches if x[2] >= t0]


def ladder(tl):
    """Walks the rate ladder (every phase after warm-up) up to the first rung
    whose backlog grows. Returns (sustained rows/s, per-rung verdicts).

    A rung's processed rate is the rows of the batches that started during
    it over those batches' durations; the last rung also counts the batches
    that drain its backlog after the generator stopped. On a rung whose
    backlog does not grow that is its input rate; on a rung whose backlog
    grows it is the drain rate, the most the engine took. The sustained
    rate is the highest processed rate seen."""
    sustained = 0.0
    rungs = []
    ladder_phases = tl.rungs
    for i, ph in enumerate(ladder_phases):
        samples = tl.backlog(ph)
        grows = backlog_growing(samples, ph["rate"])
        t0 = ph["start_ms"]
        t1 = ladder_phases[i + 1]["start_ms"] if i + 1 < len(ladder_phases) else float("inf")
        inside = [b for _, _, _, b in tl.batches if t0 <= b["start_ms"] < t1]
        busy = sum(b["durations"].get("triggerExecution", 0) for b in inside) / 1e3
        processed = sum(b["rows"] for b in inside) / busy if busy else 0.0
        rungs.append({"name": ph["name"], "rate": ph["rate"], "sent_rate": tl.sent_rate(ph),
                      "processed_rate": processed, "growing": grows,
                      "batches": len(inside),
                      "backlog": [(round(t, 3), b) for t, b in samples]})
        sustained = max(sustained, processed)
        if grows:
            break
    return sustained, rungs


def stream(raw, wl, trace):
    run = raw["run"]
    runs = [run] + [raw[k] for k in ("untraced", "single_core") if k in raw]
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    tl = Timeline(run)
    sustained, rungs = ladder(tl)
    lat = tl.latencies(tl.rung("rung0"))
    details = {"setup_s": raw["setup_s"], "rungs": rungs, "check": run["check"],
               "latency_events": len(lat), "gen_lag_ms_max": run["gen_lag_ms_max"],
               "drain_ms": run["drain_ms"]}
    if not sustained:
        raise SystemExit(f"no batch completed on the rate ladder: {rungs}")
    if trace == 0:
        m = {
            "setup_s": _metric(median(raw["setup_s"]), "s"),
            "throughput_per_s": _metric(sustained, "1/s"),
            "latency_p50_ms": _metric(_pct(lat, 50, "event latency"), "ms"),
            "latency_tail_ms": _metric(_pct(lat, 90, "event latency"), "ms"),
            "peak_rss_mb": _metric(raw["peak_rss_mb"], "MB"),
        }
    else:
        m = _stream_layers(raw, tl, sustained)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": m, "details": details}


def _stream_layers(raw, tl, sustained):
    run = raw["run"]
    cores = raw["cores"]
    bs = [x[3] for x in tl.measured()]

    def dur(key):
        return median([b["durations"].get(key, 0) for b in bs]) or 0.0

    st = [b["state"] for b in bs if b["state"]]

    def state(key, scale=1.0):
        return (median([s[key] for s in st]) or 0.0) / scale

    def custom(key):
        return median([s["custom"].get(key, 0) for s in st]) or 0.0

    t0 = tl.rungs[0]["start_ms"]
    t_end = max(x[2] for x in tl.batches)
    rows = sum(b["rows"] for b in bs)
    upsert = not st
    ex = run["exec"]
    busy_ms = sum(x[3]["durations"].get("triggerExecution", 0) for x in tl.batches)
    n_batches = max(len(tl.batches), 1)
    m = {
        "tables.load_ms": (0, "ms"), "tables.bytes_read_mb": (0, "MB"),
        "tables.records_read": (0, "count"), "ops.build_ms": (run["build_ms"], "ms"),
        "ops.build_jobs": (0, "count"), "plans.plan_ms": (dur("queryPlanning"), "ms"),
        "plans.analysis_ms": (0, "ms"), "plans.optimization_ms": (0, "ms"),
        "plans.physical_ms": (0, "ms"), "exec.run_ms": (dur("addBatch"), "ms"),
        "exec.gc_ms": (run["gc_ms"] / n_batches, "ms"),
        "exec.jit_ms": (run["jit_ms"] / n_batches, "ms"),
    }
    m.update(_exec_layers([ex], busy_ms, cores, len(tl.batches), raw["stage_skews"]))
    backlog = [b for ph in tl.rungs for _, b in tl.backlog(ph)]
    m.update({
        "streaming.batches": (len(bs), "count"),
        "streaming.batch_ms_p50": (dur("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (dur("walCommit"), "ms"),
        "streaming.commit_offsets_ms": (dur("commitOffsets"), "ms"),
        "streaming.backlog_rows_max": (max(backlog, default=0), "count"),
        "streaming.processed_rows_per_s": (rows / ((t_end - t0) / 1e3), "1/s"),
        "state.rows_total": (st[-1]["rows_total"] if st else 0, "count"),
        "state.mem_mb": (max((s["mem_bytes"] for s in st), default=0) / MB, "MB"),
        "state.commit_ms": (state("commit_ms") / cores, "ms"),
        "state.update_ms": (state("update_ms") / cores, "ms"),
        "state.rocksdb_flush_ms": (custom("rocksdbCommitFlushLatency") / cores, "ms"),
        "state.rocksdb_checkpoint_ms": (custom("rocksdbCommitCheckpointLatency") / cores, "ms"),
        "state.sst_mb": (st[-1]["custom"].get("rocksdbSstFileSize", 0) / MB if st else 0, "MB"),
        "sink.write_ms": (dur("addBatch") if upsert
                          else median([b["sink_ms"] for b in bs]) or 0.0, "ms"),
        "sink.bytes_written_mb": (ex["output_bytes"] / MB / max(len(tl.batches), 1), "MB"),
        "sink.files_written": (ex["output_files"] / max(len(tl.batches), 1), "count"),
        "sink.table_rows": (run["check"]["table_rows"], "count"),
        "gen.lag_ms_max": (run["gen_lag_ms_max"], "ms"),
        "gen.events_sent": (run["attempted"], "count"),
    })
    # the comparison runs are half as long, so compare what does not depend
    # on run length: latency at the fixed rate, and throughput between them
    untraced = Timeline(raw["untraced"])
    m["trace.overhead_frac"] = (_p50_latency(tl) / _p50_latency(untraced) - 1.0, "fraction")
    m["trace.scaling_x"] = (ladder(untraced)[0] / ladder(Timeline(raw["single_core"]))[0], "x")
    return {k: _metric(v, u) for k, (v, u) in m.items()}


def _p50_latency(tl):
    return median(tl.latencies(tl.rungs[0]))
