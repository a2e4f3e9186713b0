#!/usr/bin/env python3
"""The repository benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run builds the program and the
harness from source when they changed (sbt, offline), makes its inputs
from the seed, runs the workload with one caller on local[4] in a fresh
JVM, checks every output and prints the metrics; the last line of stdout
is one JSON object. A workload is a fixed set of operations, so that two
versions of the program are measured over the same operations; its timed
part lasts 20-40 s at the commit that defined it, and `--seconds` is
printed but changes nothing. See README.md beside this file for the
workloads, the metrics and what each layer metric should move.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_wview  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("archive_daily", "query_suite")
DEADLINE_S = 170
BUILD_DEADLINE_S = 700
JVM_HEAP = "4g"

# archive_daily inputs: the history is pre-filled by one backfill, and
# each of the tick_days ticks appends and archives one more day. 40 days
# make a station file of about 2 MB, whose table b-tree is three levels
# deep, as in real multi-year archives; shorter histories split each scan
# into many tiny tasks. 10 ticks are two rounds of the generator's cycle
# of five tick days (one short), so every run has the same mix of
# passing, blocked and catch-up ticks, and no median rests on the cold
# first tick alone.
DAILY_SIZE = {"stations": 3, "history_days": 40, "tick_days": 10}

# query_suite runs a fixed sample of the registry on the sf0.01 tables
# under data/: two queries per group, taken from the first and the last
# of the group's queries, in alphabetical order, that read only the tables
# and the artifacts in BUILDS. This leaves out `multimodal` and every
# query that needs the IVF index, the PQ codebooks, the BPE merges, the
# dedup index or clusters, or the media fixture: those builds take 4-70 s
# each, more than one run can hold.
BUILDS = ["catalog", "html_fixture"]
QUERIES = [
    "q10_returned_items", "q9_product_profit",
    "q_above_avg_suppliers", "q_word_counts",
    "q_lake_agg_pushdown", "q_merge_upsert",
    "flagship_daily_gate", "s9_gate_all_stations",
    "text_chunks", "text_top_bigrams",
    "dedup_exact_summary", "dedup_url_groups",
    "knn_brute_cosine", "sim_range_search",
    "pipeline_domain_cap", "pipeline_quality_report",
]
SAMPLED_GROUPS = sorted({metrics.group_of(q) for q in QUERIES})

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# query_suite makes this many served passes over its queries; more
# would not fit the time all runs of the benchmark may take together.
SERVED_PASSES = 2

# Only CPU time and memory are bounded, besides setup_s. op_cpu_s is the
# CPU time of the whole JVM per timed operation, averaged over every
# operation of the run. Wall-clock times stretch with the CPU the host
# steals from the run, which changes from run to run on a shared host:
# over sets of 10 runs their spread reached 0.27-0.70 of the median,
# beyond the largest bound allowed; CPU time grows about a third as much. They are printed, not bounded, as are
# the tails: a run holds 10 ticks or 16 cold queries, too few for a
# percentile with 10 samples beyond it.
END_TO_END = [("setup_s", "s"), ("op_cpu_s", "s"), ("retained_heap_mb", "MB")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")) or "META-INF" in p:
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile the program and the harness with sbt when their sources
    changed; return the runtime classpath, the digest of the sources and
    whether it built."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"the program source ({need}) is not beside the benchmark")
    out = os.path.join(HERE, ".build")
    os.makedirs(out, exist_ok=True)
    digest = _sources_digest()
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read(), digest, False
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    with open(os.path.join(out, "sbt.log"), "w") as logf:
        rc, _ = _run([shutil.which("sbt") or "sbt", "--batch", "-Dsbt.log.noformat=true",
                      "export perfbench/Runtime/fullClasspath"],
                     cwd=HERE, env=env, stdout=logf, deadline=deadline)
    lines = [l.strip() for l in open(os.path.join(out, "sbt.log")) if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or not cp or any(not os.path.exists(p) for p in cp.split(os.pathsep)):
        raise BenchError(f"sbt build failed (rc={rc}); see {out}/sbt.log")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, digest, True


def _run(cmd, deadline, **kw):
    """Run a child in its own process group; kill the group at the
    deadline, or when this process is told to stop, and always wait for
    it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic())), False
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9, True
    finally:
        for s, h in old.items():
            signal.signal(s, h)


# --------------------------------------------------------------- inputs

def inputs_for(seed):
    """Generate (or reuse) the seeded wview inputs of archive_daily."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(DAILY_SIZE.items()))
    d = os.path.join(HERE, ".cache", f"wview-s{seed}-{tag}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        gen_wview.generate(d + ".tmp", seed, **DAILY_SIZE)
        os.replace(d + ".tmp", d)
    with open(manifest) as f:
        return d, json.load(f)


def cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


# --------------------------------------------------------------- checks

def _close(a, b, scale):
    return abs(a - b) <= 1e-9 * max(abs(b), scale, 1e-300)


def archive_mismatches(actual, manifest, days):
    """Differences between an archive's per-day aggregates and the
    manifest, for exactly the days `days`."""
    bad = []
    if set(actual) != set(days):
        bad.append(f"archive days {sorted(set(actual) ^ set(days))[:5]} differ")
    for d in days:
        a, e = actual.get(d), manifest["days"][d]
        if a is None:
            continue
        if a["rows"] != e["rows"]:
            bad.append(f"{d}: {a['rows']} rows, expected {e['rows']}")
        for col, s in e["sum"].items():
            if not _close(a["sum"][col], s, e["abs"][col]):
                bad.append(f"{d}.{col}: sum {a['sum'][col]!r}, expected {s!r}")
    return bad


def check(workload, raw, manifest, expected_rows):
    """Mark each timed operation failed when it raised or its output is
    wrong; return (ops, problems)."""
    ops = [dict(o) for o in raw["ops"]]
    problems = []

    def fail(o, why):
        o["ok"] = False
        problems.append(f"{o['kind']} {o['name']}: {why}")

    for o in ops:
        if "error" in o:
            problems.append(f"{o['kind']} {o['name']}: {o['error']}")
    if workload == "archive_daily":
        want = {t["yesterday"]: t for t in manifest["ticks"]}
        written = [d for d in manifest["days"] if d <= manifest["history_end"]]
        for o, c in zip(ops, raw["checks"]):
            t = want[c["yesterday"]]
            if t["status"] == 1:
                written += [d for d in manifest["days"]
                            if d <= c["yesterday"] and d not in written]
            if not o["ok"]:
                continue
            if (o["status"], o["days_written"]) != (t["status"], t["days_written"]):
                fail(o, f"status {o['status']} / {o['days_written']} days, "
                        f"expected {t['status']} / {t['days_written']}")
            if c["watermark"] != t["watermark"]:
                fail(o, f"watermark {c['watermark']}, expected {t['watermark']}")
            if c["prom_status"] != str(t["status"]):
                fail(o, f"aristoteles_status {c['prom_status']!r}, expected {t['status']}")
        bad = archive_mismatches(raw["archive"], manifest, sorted(written))
        if bad and ops:
            fail(ops[-1], "final archive: " + "; ".join(bad[:5]))
    else:
        for o in ops:
            if o["ok"] and o["kind"] in ("cold", "served") and o["rows"] != expected_rows[o["name"]]:
                fail(o, f"{o['rows']} rows, expected {expected_rows[o['name']]}")
        for name in raw["registered"]:
            try:
                metrics.group_of(name)
            except ValueError as e:
                problems.append(str(e))
    return ops, problems


def _next_day(yyyymmdd):
    import datetime as dt
    d = dt.datetime.strptime(yyyymmdd, "%Y%m%d").date() + dt.timedelta(days=1)
    return d.strftime("%Y%m%d")


# -------------------------------------------------------------- metrics

MAIN_OP = {"archive_daily": "tick", "query_suite": "cold"}


def served_medians(ops):
    """Each served query's median time over the served passes."""
    by_name = {}
    for o in ops:
        if o["kind"] == "served":
            by_name.setdefault(o["name"], []).append(o["s"])
    return {q: metrics.median(v) for q, v in by_name.items()}


def end_to_end(workload, raw, ops):
    """Every end-to-end figure of a run: the bounded ones in END_TO_END
    and the wall-clock ones that are only printed."""
    main = [o["s"] for o in ops if o["kind"] == MAIN_OP[workload]]
    if not main:
        raise BenchError("the workload ran no operation")
    return {
        "setup_s": raw["setup_s"],
        "op_cpu_s": sum(o["cpu_s"] for o in ops) / len(ops),
        "retained_heap_mb": raw["retained_heap_mb"],
        "op_p50_s": metrics.median(main),
        "op_mean_s": sum(o["s"] for o in ops) / len(ops),
    }


def workload_report(workload, raw, ops, manifest):
    """The workload's own end-to-end figures, by the names the
    benchmark's README uses; printed, not part of the JSON contract."""
    main = [o["s"] for o in ops if o["kind"] == MAIN_OP[workload]]
    label, tail_v = metrics.tail_or_max(main)
    rep = {}
    if workload == "archive_daily":
        rows = manifest["history_rows"]
        rep["backfill_rows_per_s (pre-fill)"] = (rows / raw["prefill_s"], "rows/s")
        rep["archive_bytes_per_row (pre-fill)"] = (raw["prefill_bytes"] / rows, "B")
        rep["tick_p50_s"] = (metrics.median(main), "s")
        rep[f"tick_tail_s ({label} of {len(main)} ticks)"] = (tail_v, "s")
    else:
        rep["artifact_build_s"] = (sum(o["s"] for o in ops if o["kind"] == "build"), "s")
        rep["suite_cold_s"] = (sum(main), "s")
        rep[f"suite_served_s (median of {SERVED_PASSES} passes per query)"] = (
            sum(served_medians(ops).values()), "s")
        rep["query_cold_p50_s"] = (metrics.median(main), "s")
        rep[f"query_cold_tail_s ({label} of {len(main)} queries)"] = (tail_v, "s")
    return rep


def per_layer(workload, raw, ops, manifest, steal_pct, untraced_p50):
    """Every per-layer metric, 0 where the layer does not run in this
    workload."""
    timed = ops
    n = max(1, len(timed))

    def cnt(o, key):
        return raw["counters"].get(str(o["id"]), {}).get(key, 0)

    spans = raw["spans"]
    jobs_by_op = {}
    for s in spans:
        if s["kind"] == "job":
            jobs_by_op.setdefault(s["op"], []).append(s)
    phases = [s for s in spans if s["kind"] == "phase"]

    def phase_ms(o, name):
        return sum(p["end_ms"] - p["start_ms"] for p in phases
                   if p["name"] == name and o["start_ms"] <= p["start_ms"] <= o["end_ms"])

    def outside_jobs_ms(o):
        return metrics.self_time(o, jobs_by_op.get(o["id"], []))

    def probe_ms(name):
        return metrics.median([p["s"] * 1000 for p in raw["probes"] if p["name"] == name])

    m = {}
    # graft.sources.sqlite, UnitConversions, ArchiveJob gate and sink
    scan = [p for p in raw["probes"] if p["name"] == "sqlite.scan"]
    m["sqlite.scan_ms"] = probe_ms("sqlite.scan")
    m["sqlite.rows_per_s"] = scan[0]["rows"] / scan[0]["s"] if scan else 0.0
    rows_archived = archived_rows(workload, timed, manifest)
    m["sqlite.rows_read_per_row_archived"] = (
        sum(cnt(o, "input_records") for o in timed) / rows_archived if rows_archived else 0.0)
    m["pipeline.convert_ms"] = probe_ms("pipeline.output") - probe_ms("pipeline.filter")
    m["pipeline.gate_ms"] = probe_ms("pipeline.gate")
    m["pipeline.ticks_blocked"] = sum(1 for o in timed if o.get("status") == 2)
    m["pipeline.days_written"] = sum(o.get("days_written", 0) for o in timed)
    m["sink.write_ms"] = sum(cnt(o, "write_stage_ms") for o in timed) / n
    m["sink.files"] = raw.get("files", 0)
    m["commitlog.versions"] = raw.get("commitlog_versions", 0)
    m["commitlog.snapshot_ms"] = probe_ms("commitlog.snapshot")
    # driver, graft.plans / GraftSession, Spark tasks: per timed operation
    m["driver.analysis_ms"] = sum(phase_ms(o, "analysis") for o in timed) / n
    m["driver.optimization_ms"] = sum(phase_ms(o, "optimization") for o in timed) / n
    m["driver.planning_ms"] = sum(phase_ms(o, "planning") for o in timed) / n
    m["driver.outside_jobs_ms"] = sum(outside_jobs_ms(o) for o in timed) / n
    for key, name in [("jobs", "spark.jobs"), ("stages", "spark.stages"),
                      ("tasks", "spark.tasks"), ("run_ms", "task.run_ms"),
                      ("cpu_ms", "task.cpu_ms"), ("gc_ms", "task.gc_ms"),
                      ("sched_wait_ms", "task.sched_wait_ms"),
                      ("shuffle_bytes", "shuffle.bytes"), ("spill_bytes", "spill.bytes"),
                      ("input_records", "input.records")]:
        m[name] = sum(cnt(o, key) for o in timed) / n
    # the JVM under the program: JIT compilation (of Spark's generated
    # code too) and garbage collection, per timed operation
    m["jvm.jit_ms"] = sum(o["jit_ms"] for o in timed) / n
    m["jvm.gc_ms"] = sum(o["gc_ms"] for o in timed) / n
    m["log.warn_lines"] = raw["log"]["warn_lines"]
    m["log.fn_reregistrations"] = raw["log"]["fn_reregistrations"]
    m["log.codegen_fallbacks"] = raw["log"]["codegen_fallbacks"]
    m["host.steal_pct"] = steal_pct
    # artifact builders and query families
    served = served_medians(timed)
    for b in BUILDS:
        m[f"build.{b}_s"] = sum(o["s"] for o in timed if o["kind"] == "build" and o["name"] == b)
    for g in SAMPLED_GROUPS:
        cold = [o for o in timed if o["kind"] == "cold" and metrics.group_of(o["name"]) == g]
        m[f"{g}.cold_s"] = sum(o["s"] for o in cold)
        m[f"{g}.served_s"] = sum(s for q, s in served.items() if metrics.group_of(q) == g)
        m[f"{g}.task_ms"] = sum(cnt(o, "run_ms") for o in cold)
        m[f"{g}.driver_ms"] = sum(outside_jobs_ms(o) for o in cold)
        m[f"{g}.jobs"] = sum(cnt(o, "jobs") for o in cold)
    main = [o["s"] for o in timed if o["kind"] == MAIN_OP[workload]]
    m["trace.op_p50_s"] = metrics.median(main)
    m["trace.overhead_pct"] = 100.0 * (metrics.median(main) / untraced_p50 - 1)
    return m


def self_time_by_kind(spans):
    """Summed self time of the spans of each kind (workload, op, job,
    stage); a span's children are the spans naming it as parent."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["kind"] != "phase":
            out[s["kind"]] = out.get(s["kind"], 0.0) + metrics.self_time(s, kids.get(s["id"], []))
    return out


def archived_rows(workload, ops, manifest):
    """Rows the timed operations archived, from the manifest."""
    if workload != "archive_daily":
        return 0
    total, wm = 0, _next_day(manifest["history_end"])
    for o in ops:
        if o["ok"] and o.get("status") == 1:
            y = o["name"]
            total += sum(v["rows"] for d, v in manifest["days"].items() if wm <= d <= y)
            wm = _next_day(y)
    return total


# ----------------------------------------------------------------- main

def run_jvm(workload, trace, cp, work, extra, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else (shutil.which("java") or "java")
    out = os.path.join(work, "raw.json")
    cmd = [java] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main", f"workload={workload}", f"trace={trace}",
        f"work={work}", f"out={out}",
    ] + [f"{k}={v}" for k, v in extra.items()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as logf:
        rc, timed_out = _run(cmd, deadline, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        raise BenchError("the workload timed out" if timed_out else f"the JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def measure(workload, trace, cp, extra, deadline, manifest, expected_rows):
    """Run the workload once in a fresh JVM and check its outputs:
    (raw, ops, problems, steal_pct)."""
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        j0 = cpu_jiffies()
        raw = run_jvm(workload, trace, cp, work, extra, deadline)
        j1 = cpu_jiffies()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops, problems = check(workload, raw, manifest, expected_rows)
    return raw, ops, problems, 100.0 * (j1[1] - j0[1]) / max(1, j1[0] - j0[0])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()
    # the first run in a checkout also builds, and gets its own time for it
    cp, digest, built = build(started + BUILD_DEADLINE_S)
    deadline = (time.monotonic() if built else started) + DEADLINE_S

    manifest = None
    if args.workload == "query_suite":
        extra = {"data": os.path.join(HERE, "data", "sf0.01"),
                 "builds": ",".join(BUILDS), "queries": ",".join(QUERIES),
                 "served_passes": SERVED_PASSES}
        with open(os.path.join(HERE, "data", "expected_rows.json")) as f:
            expected_rows = json.load(f)
    else:
        inputs, manifest = inputs_for(args.seed)
        expected_rows = None
        extra = {"inputs": inputs, "first": manifest["first_day"],
                 "last": manifest["history_end"],
                 "stations": ",".join(s["name"] for s in manifest["stations"]),
                 "ticks": ",".join(t["yesterday"] for t in manifest["ticks"]),
                 "python": sys.executable, "gen": os.path.join(HERE, "gen_wview.py")}

    def run_once(trace):
        return measure(args.workload, trace, cp, extra, deadline, manifest, expected_rows)

    # The tracing overhead compares the traced median with an untraced run
    # of the same seed and the same build; without one, it is made here.
    untraced_path = os.path.join(
        HERE, ".results", f"{args.workload}-s{args.seed}-{digest[:16]}-untraced.json")
    os.makedirs(os.path.dirname(untraced_path), exist_ok=True)
    problems = []
    if args.trace and not os.path.exists(untraced_path):
        log("no untraced run of this seed and build yet: making one for the tracing overhead")
        raw, ops, base_problems, _ = run_once(0)
        problems += [f"untraced baseline: {p}" for p in base_problems]
        with open(untraced_path, "w") as f:
            json.dump(end_to_end(args.workload, raw, ops), f)

    raw, ops, run_problems, steal_pct = run_once(args.trace)
    problems += run_problems
    failed = sum(1 for o in ops if not o["ok"])
    attempted = len(ops)
    correct = failed == 0 and not problems and attempted > 0
    for p in problems[:20]:
        log(f"check failed: {p}")

    values = end_to_end(args.workload, raw, ops)
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"seconds {args.seconds:g} (fixed operations)  steal {steal_pct:.1f}%  "
          f"ops {attempted}  failed {failed}")
    for k, (v, u) in workload_report(args.workload, raw, ops, manifest).items():
        print(f"  {k:<44} {v:14.4f} {u}")
    print(f"  {'error_rate':<44} {failed / max(1, attempted):14.4f} 1")
    for k in ("op_p50_s", "op_mean_s"):
        print(f"  {k + ' (wall clock, not bounded)':<44} {values[k]:14.4f} s")

    if args.trace:
        with open(os.path.join(HERE, ".results", f"{args.workload}-s{args.seed}-trace.json"), "w") as f:
            json.dump({"ops": raw["ops"], "probes": raw["probes"], "spans": raw["spans"]}, f)
        for kind, ms in self_time_by_kind(raw["spans"]).items():
            print(f"  {'self time in ' + kind + ' spans':<44} {ms:14.1f} ms")
        with open(untraced_path) as f:
            untraced_p50 = json.load(f)["op_p50_s"]
        layer = per_layer(args.workload, raw, ops, manifest, steal_pct, untraced_p50)
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        with open(untraced_path, "w") as f:
            json.dump(values, f)
        out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    for k, v in out.items():
        print(f"  {k:<44} {v['value']:14.4f} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


def unit_of(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("bytes"):
        return "B"
    if name.endswith("per_row_archived"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(str(e))
        sys.exit(2)
