#!/usr/bin/env python3
"""Per-change benchmark of the graft engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
                           [--record]

Workloads:
  virus_paper   the paper's pipeline on a generated API-log corpus: feature
                selection, k-means, artifact export, SGD-SVM sweep, entropy
  platform_mix  incremental curation (base, delta, serve) and registered
                queries for dedup, top-K serve, relational, streaming,
                multimodal and table stats, over generated tables

Builds the engine and the driver from source on first use (sbt, offline),
generates the workload's inputs from the seed, starts one JVM per run
with `local[<cpus>]` (SPARK_GRAFT_CPUS, else the number of usable cores),
and prints as its last line one JSON object with `correct`, `attempted`,
`failed` and `metrics`.

  --trace 0  end-to-end metrics, in CPU seconds of the driver process:
             run_cpu_s (median warm pass), first_run_cpu_s (first pass in
             a fresh JVM), setup_s (JVM start to a warmed session); and
             task_mem_mb (execution memory of a warm pass's tasks, each at
             its peak, summed; median), success_ratio. The wall-clock
             run_s, first_run_s and setup_wall_s go to the run summary.
  --trace 1  per-layer metrics `<layer>.<counter>` from traced warm
             passes, and trace_overhead_s (traced minus untraced pass).
             The spans go to perfbench/.work/traces/ as JSON lines.
  --record   after a correct run, store its output digest and job count
             for this seed and core count in perfbench/expected.json.

Outputs are checked in the same command: every pass must succeed and
yield the same digest, which must equal the recorded one when the seed
was recorded at this core count; platform_mix's query results are
compared with the DuckDB oracle SQL of each query. Warm passes whose job
count differs from the workload's reference count by more than JOB_SLACK
are flagged and left out of the warm-pass metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ["virus_paper", "platform_mix"]
# virus_paper reads a generated API-log corpus with this share of the
# FIXTURES.md section 1 files; platform_mix reads generated tables at this
# scale factor. Passes are bound by Spark's per-job cost far more than by
# data size, so smaller inputs buy little time and less work per job.
CORPUS_SCALE = 0.0625
TABLE_SCALE = 0.01
USES_CORPUS = {"virus_paper"}
USES_TABLES = {"platform_mix"}
RUN_LIMIT_S = 170    # seconds one run may take
# share of the reference job count by which a warm pass may differ before
# it counts as doing other work: platform_mix runs one job more in about
# one pass in ten, a race inside the engine
JOB_SLACK = 0.02
BUILD_LIMIT_S = 850
EXPECTED = os.path.join(BENCH, "expected.json")
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(BENCH, ".work")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "/target" not in d)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Compiles the engine and the driver unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    cp_file = os.path.join(TARGET, "perfbench-classpath.txt")
    stamp_file = os.path.join(TARGET, "perfbench-stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and driver (sbt, offline)")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp, SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]),
        # every JVM the build starts keeps its temporary files in the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in r.stdout.splitlines()
             if "perfbench/target/scala-2.13/classes" in ln and ":" in ln
             and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def calib_cpu():
    """Data-independent host-speed probe: seconds to hash 64 MiB, the
    median of three tries."""
    buf = bytes(range(256)) * 4096
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(64):
            h.update(buf)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def host_info(n_cpus):
    return {"nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "cpus": n_cpus, "calib_cpu_s": calib_cpu()}


def cpu_ticks():
    """Total and stolen CPU ticks of the host so far (/proc/stat): on a
    virtual machine, the stolen share of a run says how much of its time
    the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def java_cmd(cp, work, args):
    """The driver JVM's command line. The heap starts small and grows as
    the program needs; the process's peak RSS goes into the run summary
    (it follows the collector's sizing more than the program, so it is
    not a gated metric)."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.sql.warehouse.dir={work}/warehouse"]
            + opens + ["-cp", cp, "graft.perfbench.Driver"] + args)


def run_jvm(cp, work, args, deadline):
    """Runs the driver JVM in `work`; stops it if the run's deadline
    passes. Returns its exit code."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "ab") as logf:
        p = subprocess.Popen(java_cmd(cp, work, args), cwd=work,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("driver JVM stopped at the run's time limit")
            return -9
        finally:  # also when this process is told to stop
            if p.poll() is None:
                p.kill()
                p.wait()


def load_expected():
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            return json.load(f)
    return {"runs": {}}


def make_inputs(workload, seed, inputs):
    """Generates the workload's seeded inputs; returns the corpus stats
    (files, lines, distinct APIs), or None for a table-only workload."""
    stats = None
    if workload in USES_CORPUS:
        stats = gen_corpus.generate(os.path.join(inputs, "api_logs"), seed,
                                    CORPUS_SCALE)
    if workload in USES_TABLES:
        gen_tables.generate(os.path.join(inputs, "tables"), seed, TABLE_SCALE)
    return stats


def check_corpus(stats):
    """Every seed's corpus has the same files, lines and distinct APIs."""
    want = gen_corpus.expected_stats(CORPUS_SCALE)
    if stats is None or stats == want:
        return []
    return [f"corpus stats {stats} != {want}"]


def judge(passes, ops, recorded):
    """Applies the output and job-count checks to the passes of one run.

    A pass fails when it raised, when its output check raised, or when its
    digest differs from the recorded one (or, for an unrecorded seed, from
    the other passes'); all its operations then count as failed. A warm
    pass that succeeded with a job count more than JOB_SLACK away from the
    reference (recorded, else the most common among the warm passes) did
    other work: it is flagged and left out of run_s. The cold pass may run
    a few more jobs than a warm one (per-JVM caches fill once), so its
    count is not checked.
    Returns (kept warm passes, attempted, failed, problems, reference)."""
    digests = [p["digest"] for p in passes if p["ok"]]
    ref_digest = (recorded["digest"] if recorded
                  else statistics.mode(digests) if digests else None)
    warm = [p for p in passes if p["kind"] == "warm"]
    ref_jobs = (recorded["jobs"] if recorded
                else statistics.mode(p["jobs"] for p in warm) if warm
                else None)
    attempted = failed = 0
    kept, problems = [], []
    for p in passes:
        attempted += ops
        if not p["ok"] or p["digest"] != ref_digest:
            failed += ops
            problems.append(f"pass {p['index']} failed: "
                            f"{p['error'] or 'digest ' + p['digest']}")
        elif p["kind"] != "warm":
            continue
        elif abs(p["jobs"] - ref_jobs) > JOB_SLACK * ref_jobs:
            log(f"pass {p['index']} ran {p['jobs']} jobs, reference "
                f"{ref_jobs}: flagged, left out of run_s")
        else:
            kept.append(p)
    return kept, attempted, failed, problems, {"digest": ref_digest,
                                               "jobs": ref_jobs}


def declared(key):
    """Metric names BENCHMARK.json declares under `key`, or None."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return {m["name"] for m in json.load(f)[key]}


def unit_of(metric):
    c = metric.rsplit(".", 1)[-1]
    return {"jobs": "count", "tasks": "count", "output_files": "count",
            "shuffle_mb": "MB"}.get(c, "s")


def traced_metrics(events_path, passes, workload, seed):
    """Per-layer metrics from the traced passes, and the tracing overhead:
    median traced minus median untraced warm pass. Writes the derived
    spans as JSON lines under .work/traces/."""
    with open(events_path) as f:
        derived = spans.derive([json.loads(ln) for ln in f])
    metrics = {k: {"value": v, "unit": unit_of(k)}
               for k, v in spans.layer_metrics(derived).items()}
    traced = [p["wall_s"] for p in passes if p["traced"]]
    plain = [p["wall_s"] for p in passes if not p["traced"]]
    if traced and plain:
        metrics["trace_overhead_s"] = {
            "value": statistics.median(traced) - statistics.median(plain),
            "unit": "s"}
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    out = os.path.join(WORK, "traces", f"{workload}-seed{seed}.jsonl")
    with open(out, "w") as f:
        for d in derived:
            f.write(json.dumps(d) + "\n")
    log(f"spans written to {os.path.relpath(out, ROOT)}")
    return metrics


def driver_jvm(cp, work, name, args, deadline):
    """Runs one driver JVM in `work/name`; returns its report, or raises
    SystemExit with the tail of its log when it did not write one."""
    report = os.path.join(work, f"{name}.json")
    jvm_dir = os.path.join(work, name)
    t0 = time.time()
    code = run_jvm(cp, jvm_dir, args + ["--report", report,
                                        "--work", jvm_dir], deadline)
    log(f"JVM {name} ran {time.time() - t0:.1f} s")
    if code != 0 or not os.path.exists(report):
        with open(os.path.join(jvm_dir, "jvm.log"), "rb") as f:
            sys.stderr.write(f.read()[-3000:].decode(errors="replace"))
        raise SystemExit(f"driver JVM exited with {code}")
    with open(report) as f:
        return json.load(f)


def run_one(workload, seed, seconds, trace, record):
    deadline = time.time() + RUN_LIMIT_S
    n_cpus = cpus()
    cp = ensure_build()
    # a run that had to build gets the full limit after the build
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 20)
    recorded = load_expected()["runs"].get(str(n_cpus), {}).get(
        workload, {}).get(str(seed))
    work = os.path.join(WORK, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        stats = make_inputs(workload, seed, inputs)
        problems = check_corpus(stats)
        host = host_info(n_cpus)
        ticks0 = cpu_ticks()
        events_path = os.path.join(work, "events.jsonl")
        dump = os.path.join(work, "oracle")
        check_oracle = workload in USES_TABLES and not trace
        base = ["--workload", workload, "--inputs", inputs,
                "--cpus", str(n_cpus)]
        args = base + ["--seconds", str(seconds), "--min-warm", "1",
                       "--trace", str(trace)]
        if trace:
            args += ["--events", events_path]
        if check_oracle:
            os.makedirs(dump, exist_ok=True)
            args += ["--oracle-dump", dump]
        report = driver_jvm(cp, work, "run", args, deadline)
        total, stolen = (b - a for a, b in zip(ticks0, cpu_ticks()))
        host["steal_share"] = stolen / total if total else 0.0
        passes = report["passes"]
        kept, attempted, failed, pass_problems, ref = judge(
            passes, report["ops_per_pass"], recorded)
        problems += pass_problems
        if check_oracle:
            t0 = time.time()
            mismatches = oracle.compare(os.path.join(inputs, "tables"), dump)
            log(f"oracle compare took {time.time() - t0:.1f} s")
            attempted += len(oracle.queries(dump))
            failed += len(mismatches)
            problems += mismatches
        for p in problems:
            log(p)
        # a run whose checks failed still reports what it measured
        timed = kept or [p for p in passes if p["kind"] == "warm"]
        walls = [p["wall_s"] for p in timed]
        if trace:
            metrics = traced_metrics(events_path, timed, workload, seed)
            names = declared("per_layer")
        else:
            # the gated timings are CPU seconds of the driver process:
            # wall time here swings with the CPU time the hypervisor gives
            # to other guests; both are kept in the run summary
            metrics = {
                "run_cpu_s": {"value": statistics.median(
                    p["cpu_s"] for p in timed), "unit": "s"},
                "first_run_cpu_s": {"value": passes[0]["cpu_s"], "unit": "s"},
                "setup_s": {"value": report["setup_cpu_s"], "unit": "s"},
                "run_s": {"value": statistics.median(walls), "unit": "s"},
                "first_run_s": {"value": passes[0]["wall_s"], "unit": "s"},
                "setup_wall_s": {"value": report["setup_s"], "unit": "s"},
                "task_mem_mb": {"value": statistics.median(
                    p["task_mem_mb"] for p in timed), "unit": "MB"},
                "success_ratio": {"value": 1.0 - failed / attempted,
                                  "unit": "ratio"},
            }
            names = declared("end_to_end")
            log(f"run_s over {len(walls)} warm passes: median "
                f"{statistics.median(walls):.3f} s; with {len(walls)} "
                f"samples the highest percentile is p100, {max(walls):.3f} s")
        summary = {"workload": workload, "seed": seed, "trace": trace,
                   "host": host, "spark_version": report["spark_version"],
                   "java_version": report["java_version"],
                   "peak_rss_mb": report["peak_rss_kb"] / 1024.0,
                   "corpus": stats, "passes": passes,
                   "reference": ref, "problems": problems, "metrics": metrics}
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results",
                               f"{workload}-seed{seed}-trace{trace}.json"),
                  "w") as f:
            json.dump(summary, f, indent=1)
        correct = failed == 0 and not problems and bool(kept)
        if record and correct and not trace:
            save_record(workload, seed, n_cpus, ref)
        if names is not None:
            metrics = {k: v for k, v in metrics.items() if k in names}
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def save_record(workload, seed, n_cpus, ref):
    exp = load_expected()
    exp["runs"].setdefault(str(n_cpus), {}).setdefault(workload, {})[
        str(seed)] = ref
    with open(EXPECTED, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    # a stop request unwinds through the `finally` blocks, which stop the
    # driver JVM and remove the run's work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        log("no engine sources next to perfbench/: run it from the root "
            "of a full checkout")
        return 2
    names = WORKLOADS if a.workload == "all" else [a.workload]
    for name in names:
        res = run_one(name, a.seed, a.seconds, a.trace, a.record)
        if a.workload == "all":
            res = dict(workload=name, **res)
        print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
