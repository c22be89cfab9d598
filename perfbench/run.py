#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 21 --trace 0

The first run in a checkout builds the engine and the harness with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. The JVM side (perfbench.Harness) runs the seeded query sequence,
a fixed number of rounds per workload (perfbench/workloads.json), and
writes one JSON record per query; this script turns the records into
the end-to-end metrics (--trace 0) or the per-layer ledger (--trace 1),
checks every result digest against perfbench/digests.json, writes a result
file under perfbench/.work/results/ and prints one JSON line last.
--seconds is the time budget the rounds are sized for; a run whose rounds
take longer says so on standard error.

--record rewrites perfbench/digests.json from this run's results instead of
checking them (use it only on a commit whose results have been verified).
"""
import argparse
import collections
import hashlib
import json
import math
import os
import re
import signal
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
WORKLOADS = BENCH / "workloads.json"
DIGESTS = BENCH / "digests.json"

HARNESS_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- sequence

class SplitMix64:
    """A small, fully specified PRNG, so a seed replays the same sequence
    on any Python version."""

    def __init__(self, seed):
        self.state = seed & 0xFFFFFFFFFFFFFFFF

    def next(self):
        self.state = (self.state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)

    def below(self, n):
        return self.next() % n

    def shuffled(self, items):
        out = list(items)
        for i in range(len(out) - 1, 0, -1):
            j = self.below(i + 1)
            out[i], out[j] = out[j], out[i]
        return out


def zipf_counts(n, extra):
    """How often each of `n` ranked queries runs in one round: once each,
    plus `extra` repeats shared out by Zipf weight 1/rank (largest
    remainder, ties to the higher rank)."""
    weights = [1.0 / (r + 1) for r in range(n)]
    total = sum(weights)
    quotas = [extra * w / total for w in weights]
    counts = [math.floor(q) for q in quotas]
    order = sorted(range(n), key=lambda r: (-(quotas[r] - counts[r]), r))
    for r in order[:extra - sum(counts)]:
        counts[r] += 1
    return [1 + c for c in counts]


def rounds_for(spec, seed):
    """The seeded query sequence: the workload's `rounds` rounds, each a
    shuffled copy of its round multiset."""
    pool = spec["pool"]
    counts = zipf_counts(len(pool), spec.get("zipf_extra", 0))
    multiset = [q for q, c in zip(pool, counts) for _ in range(c)]
    rng = SplitMix64(seed)
    return [rng.shuffled(multiset) for _ in range(spec["rounds"])]


# ----------------------------------------------------------------- metrics

def tail(values):
    """The highest whole percentile that still has at least 10 samples
    above it, by nearest rank: (percentile, value). With 10 samples or
    fewer there is no such percentile; the maximum is reported as p100."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100, xs[-1]
    p = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1]


def ratio(a, b):
    return a / b if b else 0.0


def check(records, expected):
    """Mark each query record failed when it threw or its digest differs
    from the expected one; return the number failed."""
    failed = 0
    for r in records:
        want = expected.get(r["query"])
        r["ok"] = r["error"] is None and want is not None and r["digest"] == want
        failed += not r["ok"]
    return failed


# per-layer metrics that sum the per-query ledgers over a round
LAYER_SUMS = [
    "queries.build_s", "queries.build_jobs",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "plans.query_executions", "plans.catalyst_rule_s", "plans.graft_rule_s",
    "plans.graft_rule_runs", "plans.planning_jobs",
    "sources.files_read", "sources.scan_mb", "sources.metadata_s",
    "sources.bytes_written_mb", "sources.files_written",
    "streaming.batches", "streaming.trigger_s", "streaming.wal_s",
    "streaming.state_rows", "streaming.state_commit_s",
    "operators.codegen_s", "operators.agg_build_s", "operators.sort_s",
    "operators.broadcast_build_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.sched_delay_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "driver.residual_s",
]
# per-layer ratios of the summed ledgers
LAYER_RATIOS = {
    "plans.graft_rule_effective_ratio":
        lambda s, cores: ratio(s["plans.graft_rule_effective_runs"], s["plans.graft_rule_runs"]),
    "plans.skip_cache_hit_ratio":
        lambda s, cores: ratio(s["plans.skip_cache_hits"], s["plans.skip_cache_lookups"]),
    "sources.rows_read_per_row_out":
        lambda s, cores: ratio(s["sources.rows_read"], s["sources.rows_out"]),
    "spark.core_busy_ratio":
        lambda s, cores: ratio(s["spark.task_run_s"], s["spark.job_wall_s"] * cores),
}


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio") or "_per_" in name:
        return "ratio"
    return "count"


def summarize(recs, trace):
    """Turn the harness records into (metrics, details)."""
    queries = [r for r in recs if r["type"] == "query"]
    rounds = [r for r in recs if r["type"] == "round"]
    setup = next(r for r in recs if r["type"] == "setup")
    end = next(r for r in recs if r["type"] == "end")
    if not queries or not rounds:
        raise BenchError("the harness ran no query")
    n_rounds = len(rounds)
    walls = [q["wall_s"] for q in queries]
    total_s = sum(r["wall_s"] for r in rounds) / n_rounds
    p, tail_s = tail(walls)
    details = {"rounds": n_rounds, "samples": len(walls), "tail_percentile": p,
               "window_s": sum(r["wall_s"] for r in rounds), "setup": setup}
    if not trace:
        metrics = {
            "setup_s": setup["setup_s"],
            "total_s": total_s,
            "latency_p50_s": statistics.median(walls),
            "latency_tail_s": tail_s,
            "task_time_s": sum(q["task_cpu_s"] for q in queries) / n_rounds,
            "retained_heap_mb": end["retained_heap_mb"],
        }
        # executor run time, the counter graft.Bench reports, for comparison
        details["task_run_s"] = sum(q["task_run_s"] for q in queries) / n_rounds
        return metrics, details
    summed, self_s = collections.Counter(), collections.Counter()
    for q in queries:
        summed.update(q["ledger"])
        self_s.update(q["self_s"])
    metrics = {k: summed[k] / n_rounds for k in LAYER_SUMS}
    for k, f in LAYER_RATIOS.items():
        metrics[k] = f(summed, end["cores"])
    metrics["trace.total_s"] = total_s
    details["self_s"] = {k: v / n_rounds for k, v in sorted(self_s.items())}
    return metrics, details


# ------------------------------------------------------------------- build

def source_files():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BenchError(f"the engine sources are missing: {engine}")
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files += sorted((BENCH / "src" / "main").rglob("*.scala"))
    files += sorted(engine.rglob("*.scala"))
    return files


def build():
    """Compile with sbt unless the sources match the last build; return the
    runtime classpath."""
    h = hashlib.sha256(str(BENCH).encode())
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    stamp_file, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    WORK.mkdir(parents=True, exist_ok=True)
    with open(WORK / "build.log", "w") as log:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, stdout=log, timeout=BUILD_TIMEOUT_S)
    lines = (WORK / "build.log").read_text().splitlines()
    cp = next((l for l in reversed(lines) if l.startswith("/") and ".jar" in l), None)
    if rc != 0 or cp is None:
        raise BenchError(f"build failed (exit {rc}); see {WORK / 'build.log'}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, stamp


def run_child(cmd, cwd, stdout, timeout):
    """Run a child in its own process group; on timeout kill the whole
    group and wait for it."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


# ----------------------------------------------------------------- running

def data_dir():
    """The sf tables: SPARK_GRAFT_SF_DIR, else the default graft.Bench
    reads."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf:
        bench_src = (ROOT / "src/main/scala/graft/Bench.scala").read_text()
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', bench_src)
        if not m:
            raise BenchError("no data dir: set SPARK_GRAFT_SF_DIR")
        sf = m.group(1)
    if not (Path(sf) / "lineitem.parquet").exists():
        raise BenchError(f"no sf tables at {sf}")
    return sf


def run_harness(cp, plan_lines, tag, timeout):
    for d in ("tmp", "logs", "plans"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    plan = WORK / "plans" / f"{tag}.plan"
    out = WORK / "logs" / f"{tag}.jsonl"
    plan.write_text("\n".join(plan_lines + [f"out={out}"]) + "\n")
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap size, so that heap growth does not vary from run to run
    # q_scan_mv_rewrite stamps from_mv by finding the view's directory in
    # the executed plan's text, where Spark cuts a scan's location to
    # spark.sql.maxMetadataStringLength (100) characters; the relocated
    # view lives under WORK, so the limit grows by WORK's length, or a
    # long checkout path would hide the view's name and fail the digest
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.maxMetadataStringLength={100 + len(str(WORK))}",
           f"-Djava.io.tmpdir={WORK / 'tmp'}", f"-Dspark.local.dir={WORK / 'tmp'}",
           f"-Dderby.system.home={WORK}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", str(plan)]
    # in WORK, ${user.dir}/target (where the engine writes indexes and
    # stream checkpoints) is WORK/target, which the harness clears with
    # the rest of the derived data
    with open(WORK / "logs" / f"{tag}.log", "w") as log:
        rc = run_child(cmd, cwd=WORK, stdout=log, timeout=timeout)
    if rc != 0:
        raise BenchError(f"harness exited {rc}; see {WORK / 'logs' / (tag + '.log')}")
    return [json.loads(l) for l in out.read_text().splitlines() if l.strip()]


def host_facts(recs, stamp):
    end = next(r for r in recs if r["type"] == "end")
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": os.cpu_count(), "cores": end["cores"],
            "java": end["java_version"], "spark": end["spark_version"],
            "commit": commit, "source_sha256": stamp}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)
    try:
        specs = json.loads(WORKLOADS.read_text())["workloads"]
        if args.workload not in specs:
            raise BenchError(f"unknown workload {args.workload!r}; one of {sorted(specs)}")
        spec = specs[args.workload]
        sf = data_dir()
        cp, stamp = build()
        expected = json.loads(DIGESTS.read_text())
        seq = rounds_for(spec, args.seed)
        warm = sorted(set(spec["pool"]))
        cores = os.cpu_count()
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        plan = [f"sf={sf}", f"trace={args.trace}",
                f"cores={cores}", f"work={WORK}", "warm=" + ",".join(warm)]
        plan += ["round=" + ",".join(r) for r in seq]
        recs = run_harness(cp, plan, tag, HARNESS_TIMEOUT_S)
    except (BenchError, OSError, subprocess.SubprocessError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    queries = [r for r in recs if r["type"] == "query"]
    warm_recs = [r for r in recs if r["type"] == "warm"]
    if args.record:
        expected = record_digests(warm_recs + queries)
    failed = check(queries, expected)
    warm_failed = check(warm_recs, expected)
    metrics, details = summarize(recs, args.trace == 1)
    if details["window_s"] > args.seconds:
        print(f"perfbench: the {details['rounds']} round(s) took {details['window_s']:.1f} s, "
              f"more than --seconds {args.seconds:g}; lower the workload's rounds",
              file=sys.stderr)
    result = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host_facts(recs, stamp),
        "attempted": len(queries), "failed": failed,
        "failed_ratio": failed / len(queries), "warm_failed": warm_failed,
        "metrics": metrics, **details,
        "sequence": seq,
        "queries": [{k: q[k] for k in ("round", "index", "query", "wall_s", "build_s",
                                       "task_run_s", "task_cpu_s", "digest", "error", "ok")}
                    for q in queries],
    }
    if args.trace:
        result["spans"] = [s for q in queries for s in q["spans"]]
        result["ledger"] = [{"query": q["query"], "round": q["round"], "index": q["index"],
                             **q["ledger"]} for q in queries]
        untraced = WORK / "results" / f"{args.workload}-seed{args.seed}-trace0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["metrics"]["total_s"]
            result["tracing_overhead_s"] = metrics["trace.total_s"] - base
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    (WORK / "results" / f"{tag}.json").write_text(json.dumps(result, indent=1) + "\n")

    out = {"correct": failed == 0 and warm_failed == 0, "attempted": len(queries),
           "failed": failed,
           "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}
    print(json.dumps(out))
    return 0


def record_digests(recs):
    """Rewrite digests.json from `recs`; a query whose runs disagree is
    left out (and so fails every later check) and reported."""
    seen = json.loads(DIGESTS.read_text()) if DIGESTS.exists() else {}
    runs = {}
    for r in recs:
        if r["error"] is None:
            runs.setdefault(r["query"], set()).add(r["digest"])
    for q, ds in sorted(runs.items()):
        if q in seen:
            ds.add(seen[q])
        if len(ds) == 1:
            seen[q] = ds.pop()
        else:
            seen.pop(q, None)
            print(f"perfbench: {q} is not stable: {sorted(ds)}", file=sys.stderr)
    DIGESTS.write_text(json.dumps(dict(sorted(seen.items())), indent=1) + "\n")
    return seen


if __name__ == "__main__":
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
