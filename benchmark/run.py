#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measuring window.

    python3 benchmark/run.py --workload {ingest,lake_rw,query_mix} \
        --seed N --seconds S --trace {0,1}

Builds graft and the benchmark from the checkout's sources (once per
source state), generates the workload's inputs from the seed, runs the
workload in one JVM (`graftbench.Main`), checks every output against
the generated inputs, and prints ONE JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the
per-layer metrics of a traced run (listeners and spans on), including the
traced run's end-to-end values as `traced.*` for the tracing overhead.
Everything else (build log, JVM log, progress) goes to stderr.
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from harness import gates, gen, metrics  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("ingest", "lake_rw", "query_mix")
SETUP_REPS = 2   # JVM-side set-ups (seeding, warm-up) per run
GEN_REPS = 2     # input generations per run (timed, must be byte-identical)
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 150

# ingest: a drain of 48 chunks x 1000 records (maxChunksPerTrigger = cores),
# then an open loop of one 100-record chunk every 100 ms (1000 records/s).
INGEST = {"drain_chunks": 48, "drain_chunk_rows": 1000,
          "period_ms": 100, "paced_chunk_rows": 100,
          "warm_chunks": 16, "warm_chunk_rows": 1000,
          "interval_ms": 10, "poll_ms": 250}
# lake_rw: 16 buckets seeded with 5000 rows. The first cycle of the op
# sequence is the set-up's warm-up; the measured loop runs one whole cycle
# per LAKE_CYCLE_S seconds of the window (a warm cycle's statements take
# about 7-8.5 s on a 4-core box), a fixed count so every run has the same
# mix. Compaction rewrites every bucket holding 2 or more files or
# deletion vectors, i.e. every bucket a merge-on-read statement touched.
LAKE_CYCLE_S = 7.5
LAKE = {"buckets": 16, "seed_rows": 5000, "cycle": len(gen.CYCLE), "compact_min_files": 2}
# query_mix: the two classes, by explicit name. A cold first run of each
# listed query costs 2-4x its warm run (fresh JVM, per-query codegen), so
# the list is cut to what fits one run's time budget; see README.md.
PAIR = ["q224_symspell_join", "q297_sparse_user_similarity"]
SHORT = ["q01_pricing_summary", "q06_revenue_delta", "q13_topk_per_group", "q36_cookie_parse"]
# query_mix: warm medians over at least 3 passes; the untimed pass that
# writes the results for the oracle runs before them, as JIT ramp-up.
# Each class reads tables of its own scale (1.0 = sf0.01 row counts): the
# pair queries' inputs (documents, events) are made larger so that their
# execution, not the fixed per-query cost, dominates their time.
QUERY = {"min_warm_passes": 3,
         "scale": {"pair": 2.0, "short": 1.0},
         "tables": {"pair": ["documents", "events"], "short": None}}


_child = None  # the sbt or JVM process running now, stopped with us


def _kill_child():
    """Kills the child's whole process group (sbt starts a JVM of its own)."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()


def _stop(signum, _frame):
    _kill_child()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Runs one child process to completion (killed on timeout, or when
    this process is told to stop); returns its exit code or "timeout"."""
    global _child
    _child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill_child()
        return "timeout"
    finally:
        _child = None


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark (sbt, offline) and makes the
    class-data-sharing archive, unless the last build saw the same
    sources; returns (classpath, jvm options)."""
    stamp = BENCH / "target" / "launch" / "stamp"
    digest = source_digest()
    built = stamp.is_file() and stamp.read_text() == digest
    if not (built and archive().is_file()):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = Path.home() / ".sbt" / "repositories"
        if "SBT_OPTS" not in env and repos.is_file():
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx2g")
        (BENCH / "target").mkdir(exist_ok=True)
        build_log = BENCH / "target" / "build.log"
        log(f"building graft and the benchmark (log: {build_log})")
        t0 = time.time()
        with open(build_log, "w") as out:
            rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"], 600,
                           cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT)
        if rc != 0:
            sys.stderr.write(build_log.read_text()[-4000:])
            fail(f"build failed (sbt exit {rc})", 3)
        # one short training run of every workload in one JVM dumps the
        # classes it loaded into a class-data-sharing archive, which every
        # measured run maps; README.md gives the start-up time this saves
        cp, opts = launch_config()
        archive().unlink(missing_ok=True)
        with workdir("training", 0, keep=False) as work:
            for w in WORKLOADS:
                generate(w, 0, 1.0, work, 1)
                write_plans(w, work, 1.0, 1)
            run_jvm(cp, opts + [f"-XX:ArchiveClassesAtExit={archive()}"], ",".join(WORKLOADS),
                    0, 1.0, 0, work, 1)
        stamp.write_text(digest)
        log(f"built in {time.time() - t0:.1f} s")
    return launch_config()


def archive():
    return BENCH / "target" / "launch" / "classes.jsa"


def launch_config():
    launch = BENCH / "target" / "launch"
    cp = (launch / "classpath.txt").read_text().strip()
    opts = [o for o in (launch / "jvm_options.txt").read_text().split("\n") if o]
    return cp, opts


# ------------------------------------------------------------------ inputs

def tree_digest(d):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, seconds, work, reps):
    """Generates the inputs `reps` times (timed; every repetition must be
    byte-identical) and keeps the last one under `work`."""
    def once(dest):
        if workload == "ingest":
            paced = max(1, round(seconds * 1000 / INGEST["period_ms"]))
            gen.gen_ingest(seed, dest / "ingest", INGEST["drain_chunks"], INGEST["drain_chunk_rows"],
                           paced, INGEST["paced_chunk_rows"])
            gen.gen_warm_log(seed, dest / "ingest" / "warm", INGEST["warm_chunks"],
                             INGEST["warm_chunk_rows"])
        elif workload == "lake_rw":
            gen.gen_lake(seed, dest, LAKE["seed_rows"], len(gen.CYCLE) * (1 + lake_cycles(seconds)))
        else:
            for c in ("pair", "short"):
                gen.gen_tables(seed, dest / "tables" / c, QUERY["scale"][c], QUERY["tables"][c])

    times, digests = [], []
    for rep in range(reps):
        dest = work / f"gen{rep}"
        t0 = time.perf_counter()
        once(dest)
        times.append(time.perf_counter() - t0)
        digests.append(tree_digest(dest))
    if len(set(digests)) != 1:
        fail("input generation is not deterministic for this seed", 4)
    for rep in range(reps - 1):
        shutil.rmtree(work / f"gen{rep}")
    for p in (work / f"gen{reps - 1}").iterdir():
        p.rename(work / p.name)
    (work / f"gen{reps - 1}").rmdir()
    return times


def lake_cycles(seconds):
    return max(1, round(seconds / LAKE_CYCLE_S))


def write_plans(workload, work, seconds, min_warm_passes):
    if workload == "ingest":
        (work / "ingest_run.json").write_text(json.dumps(INGEST))
    elif workload == "lake_rw":
        (work / "lake_plan.json").write_text(json.dumps(LAKE | {"cycles": lake_cycles(seconds)}))
    else:
        (work / "query_plan.json").write_text(json.dumps(
            {"classes": {"pair": PAIR, "short": SHORT}, "min_warm_passes": min_warm_passes}))


# ------------------------------------------------------------------ run

def run_jvm(cp, opts, workload, seed, seconds, trace, work, setup_reps):
    cores = len(os.sched_getaffinity(0))
    (work / "tmp").mkdir()
    cmd = (["java"] + opts + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
                              "-cp", cp, "graftbench.Main",
                              "--workload", workload, "--work", str(work),
                              "--seconds", str(seconds), "--trace", str(trace),
                              "--cores", str(cores), "--setup-reps", str(setup_reps),
                              "--run", f"{workload}-{seed}"])
    jvm_log = work / "jvm.log"
    with open(jvm_log, "w") as out:
        rc = run_child(cmd, JVM_TIMEOUT_S, cwd=work, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not (work / "jvm.json").is_file():
        text = jvm_log.read_text(errors="replace")
        errs = [ln for ln in text.splitlines() if "Exception" in ln or "Error" in ln]
        sys.stderr.write("\n".join(errs[:20]) + "\n" + text[-3000:])
        fail(f"{workload} JVM failed (exit {rc})", 5)
    return json.loads((work / "jvm.json").read_text()), cores


def check(workload, work, jvm, ctx):
    """(attempted, failures) from the workload's correctness gate; keeps
    the generated expectations in `ctx` for the metrics."""
    if workload == "ingest":
        expected = ctx["expected"] = json.loads((work / "ingest" / "ingest_plan.json").read_text())
        fails = gates.check_ingest(expected, jvm, gates.sink_lines(work / "main" / "out"))
        return expected["rows"], fails
    if workload == "lake_rw":
        seed_rows = [json.loads(ln) for ln in open(work / "lake_seed.jsonl")]
        ops = ctx["ops"] = [json.loads(ln) for ln in open(work / "lake_ops.jsonl")]
        return len(jvm["warm"]) + len(jvm["ops"]), gates.check_lake(seed_rows, ops, jvm, gen.CYCLE)
    t0 = time.perf_counter()
    res = {}
    for c, names in (("pair", PAIR), ("short", SHORT)):
        res.update(gates.check_queries(work / "tables" / c, work / "results",
                                       {n: jvm["oracle_sql"][n] for n in names}))
    jvm["oracle_s"] = time.perf_counter() - t0
    runs = sum(1 + len(q["warm"]) for q in jvm["queries"].values())
    return runs, [f"{n}: {why}" for n, why in res.items() if why]


@contextlib.contextmanager
def workdir(workload, seed, keep):
    work = BENCH / ".work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        yield work
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def execute(workload, seed, seconds, trace, cp, opts, work):
    """Generate, run, return (jvm measurements, context for the metrics)."""
    gen_s = generate(workload, seed, seconds, work, GEN_REPS)
    write_plans(workload, work, seconds, QUERY["min_warm_passes"])
    jvm, cores = run_jvm(cp, opts, workload, seed, seconds, trace, work, SETUP_REPS)
    return jvm, {"work": work, "cores": cores, "gen_s": gen_s, "pair": PAIR, "short": SHORT}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala)")
    if a.seed < 0 or a.seconds <= 0:
        fail("--seed must be >= 0 and --seconds > 0")

    cp, opts = build()
    # -Xshare:on: a run that cannot map its archive fails instead of
    # starting without it
    opts = opts + [f"-XX:SharedArchiveFile={archive()}", "-Xshare:on"]
    with workdir(a.workload, a.seed, a.keep) as work:
        jvm, ctx = execute(a.workload, a.seed, a.seconds, a.trace, cp, opts, work)
        attempted, fails = check(a.workload, work, jvm, ctx)
        for f in fails[:20]:
            log(f"CHECK FAILED: {f}")
        if a.trace:
            shutil.copy(work / "spans.jsonl", BENCH / "target" / f"spans-{a.workload}-{a.seed}.jsonl")
            values = metrics.per_layer(a.workload, jvm, ctx)
        else:
            values = metrics.end_to_end(a.workload, jvm, ctx)
        out = {"correct": not fails, "attempted": attempted, "failed": len(fails),
               "metrics": metrics.render(values, traced=bool(a.trace))}
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
