"""Metric names, units and directions, and how each is computed from the
program's measurements. BENCHMARK.json lists the same metrics; the tests
check that the two agree."""
import math
import os
import re

from .stats import due_time_latencies, geomean, median, tail_percentile

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# (name, unit, better, bound): every workload reports every one of these.
# What each means per workload is in README.md.
# Bounds are the largest allowed: in a fresh JVM on a shared 4-core box,
# runs of one tree on different seeds spread by 5-12% (quartiles) and
# the box's speed drifts over an hour.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("latency_p50_s", "s", "lower", 0.25),
]

_INGEST = [
    ("ingest_rows_per_s", "rows/s", "higher"),
    ("ingest_latency_p50_s", "s", "lower"),
    ("ingest_latency_p90_s", "s", "lower"),
    ("ingest.sources.offset_ms", "ms", "lower"),
    ("ingest.streaming.plan_ms", "ms", "lower"),
    ("ingest.streaming.log_ms", "ms", "lower"),
    ("ingest.backlog_max_chunks", "count", "lower"),
    ("ingest.generator_late_ms", "ms", "lower"),
    ("ingest.sink.add_batch_ms", "ms", "lower"),
    ("ingest.etl.parse_rows_per_s", "rows/s", "higher"),
    ("ingest.sink.write_rows_per_s", "rows/s", "higher"),
    ("ingest.exec.tasks_per_trigger", "count", "lower"),
    ("ingest.exec.core_busy_ratio", "ratio", "higher"),
    ("ingest.sink.files", "count", "lower"),
    ("ingest.sink.bytes_per_input_byte", "ratio", "lower"),
    ("ingest.stats.get_ms", "ms", "lower"),
]
_LAKE = [
    ("lake_upsert_p50_s", "s", "lower"),
    ("lake_mor_p50_s", "s", "lower"),
    ("lake_lookup_p50_s", "s", "lower"),
    ("lake_scan_p50_s", "s", "lower"),
    ("lake_write_amp", "ratio", "lower"),
    ("lake.commit.jobs", "count", "lower"),
    ("lake.commit.stages", "count", "lower"),
    ("lake.commit.tasks", "count", "lower"),
    ("lake.commit.job_ms", "ms", "lower"),
    ("lake.commit.driver_ms", "ms", "lower"),
    ("lake.commit.shuffle_bytes", "bytes", "lower"),
    ("lake.commit.bytes_written", "bytes", "lower"),
    ("lake.commit.files_added", "count", "lower"),
    ("lake.commit.files_removed", "count", "lower"),
    ("lake.mor.jobs", "count", "lower"),
    ("lake.mor.bytes_written", "bytes", "lower"),
    ("lake.compact.s", "s", "lower"),
    ("lake.compact.bytes_rewritten", "bytes", "lower"),
    ("lake.read.plan_ms", "ms", "lower"),
    ("lake.read.jobs", "count", "lower"),
    ("lake.read.files_scanned_ratio", "ratio", "lower"),
    ("lake.read.rows_examined_per_row", "ratio", "lower"),
    ("lake.snapshot.files", "count", "lower"),
    ("lake.snapshot.dv_files", "count", "lower"),
    ("lake.space_amp", "ratio", "lower"),
]
_CLASS = [
    ("analysis_ms", "ms", "lower"), ("optimization_ms", "ms", "lower"),
    ("planning_ms", "ms", "lower"), ("first_minus_warm_ms", "ms", "lower"),
    ("exec_ms", "ms", "lower"), ("shuffle_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"), ("input_bytes", "bytes", "lower"),
    ("core_busy_ratio", "ratio", "higher"), ("max_task_over_median", "ratio", "lower"),
    ("jobs", "count", "lower"), ("stages", "count", "lower"), ("tasks", "count", "lower"),
]
_QUERY = [
    ("query_pass_s", "s", "lower"),
    ("query_geomean_s", "s", "lower"),
    ("query_first_pass_s", "s", "lower"),
] + [(f"query.{c}.{n}", u, b) for c in ("pair", "short") for n, u, b in _CLASS]

# (name, unit, better): every traced run reports every one of these; a
# layer the workload leaves idle reports 0.
PER_LAYER = ([(f"traced.{n}", u, b) for n, u, b, _ in END_TO_END]
             + _INGEST + _LAKE + _QUERY)


def render(values, traced):
    """The `metrics` object: exactly the listed metrics, each a finite number."""
    spec = PER_LAYER if traced else [m[:3] for m in END_TO_END]
    out = {}
    for name, unit, _ in spec:
        assert NAME.fullmatch(name), f"bad metric name {name!r}"
        v = values.get(name, 0.0)
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise ValueError(f"metric {name} is not a finite number: {v!r}")
        out[name] = {"value": v, "unit": unit}
    return out


def _setup(jvm, ctx, extra=0.0):
    return jvm["session_s"] + median(ctx["gen_s"]) + median(jvm["setup_s"]) + extra


def _med(xs, default=0.0):
    xs = list(xs)
    return median(xs) if xs else default


# ---------------------------------------------------------------- ingest

def _trigger_end(t):
    return t["start_ms"] + t["durations"].get("triggerExecution", 0)


def ingest_core(jvm, expected):
    """(drain rows/s, per-chunk due-time latencies in s, drain triggers)."""
    trig = sorted(jvm["triggers"], key=lambda t: t["batch"])
    drain = [t for t in trig if t["end_seq"] <= expected["drain_last_seq"]]
    if len(drain) < 3:
        raise ValueError(f"drain took {len(drain)} triggers; need at least 3")
    # rows committed per second of trigger time, over the triggers after
    # the first (cold) one. A ratio of sums, not a median of per-trigger
    # rates: those are quotients of whole milliseconds and repeat exactly.
    rows_per_s = (sum(t["rows"] for t in drain[1:]) * 1000.0
                  / sum(t["durations"]["triggerExecution"] for t in drain[1:]))
    # a chunk is done at the end of the first trigger whose committed
    # offset covers its last sequence number
    covered = [_trigger_end(next(t for t in trig if t["end_seq"] >= c["last_seq"]))
               for c in expected["paced"]]
    due = [g["due_ms"] for g in jvm["generator"]]
    return rows_per_s, [ms / 1000.0 for ms in due_time_latencies(due, covered)], drain


def _ingest_e2e(jvm, ctx):
    rows_per_s, lat, _ = ingest_core(jvm, ctx["expected"])
    return {"setup_s": _setup(jvm, ctx), "throughput_per_s": rows_per_s,
            "latency_p50_s": median(lat)}


def _ingest_layers(jvm, ctx):
    expected = ctx["expected"]
    rows_per_s, lat, drain = ingest_core(jvm, expected)
    trig = sorted(jvm["triggers"], key=lambda t: t["batch"])
    d = lambda t, *ks: sum(t["durations"].get(k, 0) for k in ks)  # noqa: E731
    gen_ = jvm["generator"]
    # backlog at each paced trigger's start: chunks appended, not yet committed
    backlog = []
    for t in trig:
        if t["end_seq"] <= expected["drain_last_seq"]:
            continue
        done_seq = max([u["end_seq"] for u in trig if _trigger_end(u) <= t["start_ms"]] or [""])
        backlog.append(sum(1 for c, g in zip(expected["paced"], gen_)
                           if g["appended_ms"] <= t["start_ms"] and c["last_seq"] > done_seq))
    files, out_bytes = 0, 0
    for root, dirs, fs in os.walk(ctx["work"] / "main" / "out"):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in fs:
            if not f.startswith((".", "_")):
                files += 1
                out_bytes += os.path.getsize(os.path.join(root, f))
    split = jvm["split"]
    busy = sum(t["task_run_ms"] for t in drain)
    wall = sum(d(t, "triggerExecution") for t in drain)
    p90 = tail_percentile(lat, 90)
    return {
        "ingest_rows_per_s": rows_per_s,
        "ingest_latency_p50_s": median(lat),
        "ingest_latency_p90_s": p90 if p90 is not None else 0.0,
        "ingest.sources.offset_ms": median([d(t, "latestOffset", "getBatch") for t in trig]),
        "ingest.streaming.plan_ms": median([d(t, "queryPlanning") for t in trig]),
        "ingest.streaming.log_ms": median([d(t, "walCommit", "commitOffsets") for t in trig]),
        "ingest.backlog_max_chunks": max(backlog or [0]),
        "ingest.generator_late_ms": max(g["appended_ms"] - g["due_ms"] for g in gen_),
        "ingest.sink.add_batch_ms": median([d(t, "addBatch") for t in trig]),
        "ingest.etl.parse_rows_per_s": split["rows"] / split["parse_s"],
        "ingest.sink.write_rows_per_s": split["rows"] / split["write_s"],
        "ingest.exec.tasks_per_trigger": median([t["tasks"] for t in trig]),
        "ingest.exec.core_busy_ratio": busy / (wall * ctx["cores"]) if wall else 0.0,
        "ingest.sink.files": files,
        "ingest.sink.bytes_per_input_byte": out_bytes / expected["input_bytes"],
        "ingest.stats.get_ms": median(jvm["stats_poll_ms"]),
    }


# ---------------------------------------------------------------- lake_rw

def _lake_walls(jvm, *kinds):
    return [o["wall_s"] for o in jvm["ops"] if o["kind"] in kinds]


LAKE_WRITES = ("upsert", "mor_delete", "mor_upsert")


def _lake_e2e(jvm, ctx):
    # write statements only, each kind by its best wall over the measured
    # cycles: the shared host slows the program in bursts of a few
    # seconds, which hit one statement of a kind far more often than all
    # of them, so the best of two is steadier than their mean
    best = [min(_lake_walls(jvm, k)) for k in LAKE_WRITES]
    return {"setup_s": _setup(jvm, ctx, jvm["warm_s"]),
            "throughput_per_s": len(best) / sum(best),
            "latency_p50_s": geomean(best)}


def _user_bytes(op):
    if op["kind"] in ("upsert", "mor_upsert"):
        return sum(24 + len(r[3]) for r in op["rows"])
    if op["kind"] == "mor_delete":
        return 8 * len(op["keys"])
    return 0


def _lake_layers(jvm, ctx):
    ops = ctx["ops"]
    recs = jvm["ops"]
    by = lambda *ks: [o for o in recs if o["kind"] in ks]  # noqa: E731
    cow, mor, comp, looks = by("upsert"), by("mor_delete", "mor_upsert"), by("compact"), by("lookup")
    writes = by("upsert", "mor_delete", "mor_upsert", "compact")
    user = sum(_user_bytes(ops[o["i"]]) for o in writes)
    prev_files = jvm["start_snapshot_files"]
    for o in recs:  # snapshot files before each write, for files removed
        o["files_before"] = prev_files
        if "snapshot_files" in o:
            prev_files = o["snapshot_files"]
    removed = [o["data_files_added"] - (o["snapshot_files"] - o["files_before"]) for o in cow]
    scans = by("scan")
    last_scan = scans[-1] if scans else None
    return {
        "lake_upsert_p50_s": _med(o["wall_s"] for o in cow),
        "lake_mor_p50_s": _med(o["wall_s"] for o in mor),
        "lake_lookup_p50_s": _med(o["wall_s"] for o in looks),
        "lake_scan_p50_s": _med(o["wall_s"] for o in by("scan", "read_version")),
        "lake_write_amp": sum(o["bytes_written"] for o in writes) / user if user else 0.0,
        "lake.commit.jobs": _med(o["jobs"] for o in cow),
        "lake.commit.stages": _med(o["stages"] for o in cow),
        "lake.commit.tasks": _med(o["tasks"] for o in cow),
        "lake.commit.job_ms": _med(o["job_ms"] for o in cow),
        "lake.commit.driver_ms": _med(o["wall_s"] * 1000 - o["job_ms"] for o in cow),
        "lake.commit.shuffle_bytes": _med(o["shuffle_bytes"] for o in cow),
        "lake.commit.bytes_written": _med(o["bytes_written"] for o in cow),
        "lake.commit.files_added": _med(o["data_files_added"] for o in cow),
        "lake.commit.files_removed": _med(removed),
        "lake.mor.jobs": _med(o["jobs"] for o in mor),
        "lake.mor.bytes_written": _med(o["bytes_written"] for o in mor),
        "lake.compact.s": _med(o["wall_s"] for o in comp),
        "lake.compact.bytes_rewritten": _med(o["bytes_written"] for o in comp),
        "lake.read.plan_ms": _med(o["analysis_ms"] + o["optimization_ms"] + o["planning_ms"]
                                  for o in looks),
        "lake.read.jobs": _med(o["jobs"] for o in looks),
        "lake.read.files_scanned_ratio": _med(o["files_scanned"] / o["snapshot_files"]
                                              for o in looks if o["snapshot_files"]),
        "lake.read.rows_examined_per_row": _med(o["input_records"] / max(1, len(o["result"]))
                                                for o in looks),
        "lake.snapshot.files": writes[-1]["snapshot_files"] if writes else 0,
        "lake.snapshot.dv_files": writes[-1]["dv_files"] if writes else 0,
        "lake.space_amp": (last_scan["table_bytes"] / last_scan["bytes_scanned"]
                           if last_scan and last_scan["bytes_scanned"] else 0.0),
    }


# ---------------------------------------------------------------- query_mix

def _warm_medians(jvm):
    return {n: median([w["wall_s"] for w in q["warm"]]) for n, q in jvm["queries"].items()}


def _query_e2e(jvm, ctx):
    warm = _warm_medians(jvm)
    return {"setup_s": _setup(jvm, ctx, jvm.get("oracle_s", 0.0)),
            "throughput_per_s": len(warm) / sum(warm.values()),
            "latency_p50_s": geomean(list(warm.values()))}


def _query_layers(jvm, ctx):
    warm = _warm_medians(jvm)
    qs = jvm["queries"]
    out = {"query_pass_s": sum(warm.values()),
           "query_geomean_s": geomean(list(warm.values())),
           "query_first_pass_s": sum(q["first"]["wall_s"] for q in qs.values())}
    for c in ("pair", "short"):
        names = ctx[c]
        m = lambda n, k: median([w[k] for w in qs[n]["warm"]])  # noqa: E731
        tot = lambda k: sum(m(n, k) for n in names)  # noqa: E731
        wall_ms = sum(warm[n] for n in names) * 1000
        for k in ("optimization_ms", "planning_ms", "shuffle_bytes",
                  "spill_bytes", "input_bytes", "jobs", "stages", "tasks"):
            out[f"query.{c}.{k}"] = tot(k)
        # the query's own analysis runs when its DataFrame is built
        out[f"query.{c}.analysis_ms"] = tot("analysis_ms") + tot("build_ms")
        out[f"query.{c}.exec_ms"] = tot("job_ms")
        out[f"query.{c}.first_minus_warm_ms"] = sum(
            (qs[n]["first"]["wall_s"] - warm[n]) * 1000 for n in names)
        out[f"query.{c}.core_busy_ratio"] = tot("task_run_ms") / (wall_ms * ctx["cores"])
        out[f"query.{c}.max_task_over_median"] = median(
            [m(n, "max_task_over_median") for n in names])
    return out


_E2E = {"ingest": _ingest_e2e, "lake_rw": _lake_e2e, "query_mix": _query_e2e}
_LAYERS = {"ingest": _ingest_layers, "lake_rw": _lake_layers, "query_mix": _query_layers}


def end_to_end(workload, jvm, ctx):
    return _E2E[workload](jvm, ctx)


def per_layer(workload, jvm, ctx):
    values = {f"traced.{k}": v for k, v in _E2E[workload](jvm, ctx).items()}
    values.update(_LAYERS[workload](jvm, ctx))
    return values

