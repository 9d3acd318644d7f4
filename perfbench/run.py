#!/usr/bin/env python3
"""Job-level benchmark of graft.Main: one nightly job per fresh JVM.

    python3 perfbench/run.py --workload curate --seed 0 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness from source (sbt, offline) into perfbench/target. Every job
runs in its own JVM and its own scratch directory under perfbench/.work,
delivers to local file targets, and has its delivered bytes checked.
The last line of stdout is one JSON object: correct, attempted, failed
and the end-to-end metrics (--trace 0) or the per-layer metrics of one
traced run (--trace 1). Every run also appends its raw samples to
perfbench/.work/records/<workload>.jsonl. See perfbench/README.md.
"""

import argparse
import datetime
import gzip
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
PINS = os.path.join(BENCH, "digests.json")

# workload -> (graft.Main JOB, number of targets)
WORKLOADS = {
    "curate": ("curate_corpus", 1),
    "snapshot_fanout": ("upload_snapshot", 3),
    "maintain_fresh": ("maintain_indexes", 1),
}
# fact tables of the seeded subsample and the key each is sampled by;
# lineitem shares the order key so every kept line keeps its order
FACT_KEYS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
SLOTS = len(os.sched_getaffinity(0))
HEAP = "3g"
SETUP_SAMPLES = 2
RUN_LIMIT_S = 170  # one invocation's wall budget, build excluded
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
DAILY = re.compile(r"[0-9a-f]{32}-\d{4}-\d{2}-\d{2}")
LEFTOVER = re.compile(r"__(incoming|old)$")


class BenchError(Exception):
    """A failure of the benchmark itself, not of the program."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------

def spark_home():
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError(f"no Spark jars under SPARK_HOME={home!r}")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(REPO, "src", "main", "scala", "graft",
                                       "Main.scala")):
        raise BenchError(f"no graft sources under {REPO}/src/main")
    stamp_file = os.path.join(BENCH, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    build_log = os.path.join(BENCH, "target", "build.log")
    log(f"building program and harness (log: {build_log})")
    with open(build_log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=BENCH, stdout=out,
                           stderr=subprocess.STDOUT, timeout=840,
                           env=dict(os.environ, SPARK_HOME=spark_home()))
    if r.returncode != 0:
        raise BenchError(f"build failed (exit {r.returncode}), see {build_log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


# ---- seeded inputs ----------------------------------------------------

def fixtures():
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser(
        "~/testdata/sf0.1")
    if not os.path.isfile(os.path.join(d, "orders.parquet")):
        raise BenchError(f"no sf0.1 fixtures at {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def run_date(seed):
    return (datetime.date(2025, 1, 1) +
            datetime.timedelta(days=seed % 365)).isoformat()


def keep_mask(keys, seed):
    """~90% of keys, chosen by a splitmix64 hash of key and seed."""
    import numpy as np

    def mix(x):
        x = (x + np.uint64(0x9E3779B97F4A7C15))
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))

    with np.errstate(over="ignore"):
        salt = mix(np.array([seed % 2**64], dtype=np.uint64))[0]
        return mix(keys.astype(np.uint64) ^ salt) % np.uint64(10) != 0


def data_dir(seed):
    """Seed 0: the fixtures as they are. Any other seed: a keyed ~90%
    subsample of the fact tables, dimensions whole, written once."""
    src = fixtures()
    if seed == 0:
        return src
    import pyarrow as pa
    import pyarrow.parquet as pq
    dst = os.path.join(WORK, "data", f"seed-{seed}")
    if os.path.isfile(os.path.join(dst, "_DONE")):
        return dst
    tmp = f"{dst}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        name = f[:-len(".parquet")]
        if name not in FACT_KEYS:
            shutil.copyfile(os.path.join(src, f), os.path.join(tmp, f))
            continue
        pf = pq.ParquetFile(os.path.join(src, f))
        table = pf.read()
        mask = keep_mask(table.column(FACT_KEYS[name]).to_numpy(), seed)
        pq.write_table(table.filter(pa.array(mask)), os.path.join(tmp, f),
                       compression=pf.metadata.row_group(0).column(0)
                       .compression)
        if not pq.ParquetFile(os.path.join(tmp, f)).schema.equals(pf.schema):
            raise BenchError(f"subsample of {f} changed its parquet schema")
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return dst


# ---- one JVM ------------------------------------------------------------

def runs_dir():
    """This invocation's run directories; removed when it ends."""
    return os.path.join(WORK, "runs", str(os.getpid()))


def launch(mode, workload, data, date, deadline):
    """Run perfbench.JobRun in a fresh JVM and a fresh directory. Returns
    (run dir, targets, parsed output or None, launch epoch seconds)."""
    job, ntargets = WORKLOADS[workload]
    rundir = os.path.join(runs_dir(), f"{workload}-{mode}-{time.time_ns()}")
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(rundir, d))
    targets = [os.path.join(rundir, f"target{i}") for i in range(ntargets)]
    out = os.path.join(rundir, "out.json")
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            f"-Dspark.master=local[{SLOTS}]",
            f"-Dspark.sql.shuffle.partitions={SLOTS}",
            f"-Dspark.sql.warehouse.dir={rundir}/warehouse",
            f"-Dspark.local.dir={rundir}/local",
            f"-Djava.io.tmpdir={rundir}/tmp",
            "-cp", f"{CLASSES}:{REPO}/src/main/resources:{spark_home()}/jars/*",
            "perfbench.JobRun", mode, out, job, data, date] + targets
    launched = time.time()
    with open(os.path.join(rundir, "jvm.log"), "w") as jl:
        try:
            r = subprocess.run(cmd, cwd=rundir, stdout=jl,
                               stderr=subprocess.STDOUT,
                               timeout=max(1.0, deadline - time.time()))
            rc = r.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.isfile(out):
        log(f"{mode} JVM of {workload} failed ({rc}); log tail:")
        with open(os.path.join(rundir, "jvm.log"), errors="replace") as jl:
            sys.stderr.write("".join(jl.readlines()[-20:]))
        return rundir, targets, None, launched
    with open(out) as f:
        return rundir, targets, json.load(f), launched


# ---- output check -------------------------------------------------------

def extract_digest(key_dir):
    """sha256 of an extract's decompressed CSV: its part files in name
    order, each gunzipped. None when no part file was committed."""
    parts = sorted(f for f in os.listdir(key_dir)
                   if f.startswith("part-") and f.endswith(".gz"))
    if not parts:
        return None, 0
    h = hashlib.sha256()
    size = 0
    for p in parts:
        path = os.path.join(key_dir, p)
        size += os.path.getsize(path)
        with gzip.open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest(), size


def scan_target(target):
    """{key: (digest, gzip bytes)} for every extract delivered to one
    target, plus the keys of leftover `__incoming`/`__old` siblings.
    Keys are paths under the target with the dated daily component
    written as {daily}, so they compare across run dates."""
    found, leftovers = {}, []
    for d, dirs, _ in os.walk(target):
        for name in list(dirs):
            rel = DAILY.sub("{daily}",
                            os.path.relpath(os.path.join(d, name), target))
            if LEFTOVER.search(name):
                leftovers.append(LEFTOVER.sub("", rel))
                dirs.remove(name)
            elif name.endswith(".gz"):
                try:
                    found[rel] = extract_digest(os.path.join(d, name))
                except (OSError, EOFError, gzip.BadGzipFile) as e:
                    log(f"unreadable extract {rel}: {e}")
                    found[rel] = (None, 0)
                dirs.remove(name)
    return found, leftovers


def audit(out, targets, pins):
    """Check one job run's deliveries. Returns a dict with `attempted`
    and `failed` (extract x target deliveries), the digests of target 0
    and each failure's reason. A delivery fails when the job reported
    ok=false for it, when its key is missing, empty or unreadable,
    when a `__incoming`/`__old` sibling survived, when its bytes differ
    from those most targets delivered, or when a pinned digest differs."""
    scans = [scan_target(t) for t in targets]
    reported = {}
    for r in (out or {}).get("results", []):
        reported[(r["extract"], r["target"])] = r["ok"]
    keys = set(pins) if pins else set()
    for found, _ in scans:
        keys |= set(found)
    reasons = []
    failed = attempted = 0
    for key in sorted(keys):
        extract = os.path.basename(key)[:-len(".gz")]
        seen = [found.get(key, (None, 0))[0] for found, _ in scans]
        # the bytes most targets agree on; a pin overrides the vote
        agreed = max(seen, key=lambda d: (d is not None, seen.count(d)))
        for t, (found, leftovers) in zip(targets, scans):
            attempted += 1
            digest = found.get(key, (None, 0))[0]
            why = None
            if not reported.get((extract, t), False):
                why = "job reported ok=false or no outcome"
            elif digest is None:
                why = "missing, empty or unreadable"
            elif key in leftovers:
                why = "__incoming/__old key survived"
            elif digest != agreed:
                why = "bytes differ from the other targets'"
            elif pins and digest != pins.get(key):
                why = "digest differs from the pinned seed-0 digest"
            if why:
                failed += 1
                reasons.append(f"{key} @ target{targets.index(t)}: {why}")
    for i, (_, leftovers) in enumerate(scans):
        for key in leftovers:
            if key not in keys:
                attempted += 1
                failed += 1
                reasons.append(f"{key} @ target{i}: orphan __incoming/__old")
    if out is None:
        # the JVM died: every expected delivery failed
        attempted = max(attempted, len(pins) * len(targets), 1)
        failed = attempted
        reasons.append("job JVM failed")
    return {
        "attempted": attempted, "failed": failed, "reasons": reasons,
        "digests": {k: v[0] for k, v in scans[0][0].items()},
        "bytes_out": sum(v[1] for v in scans[0][0].values()),
    }


# ---- statistics and records ---------------------------------------------

def quartiles(xs):
    if len(xs) == 1:
        return [xs[0]] * 3
    return statistics.quantiles(xs, n=4)


def steal_s():
    """Seconds of CPU time the hypervisor gave to other guests, summed
    over CPUs since boot (/proc/stat); None where not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def host_facts():
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        head = None
    return {"nproc": SLOTS, "loadavg_start": os.getloadavg(),
            "git_head": head, "heap": HEAP, "steal_s": []}


def append_record(workload, record):
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(WORK, "records", f"{workload}.jsonl")
    with open(path, "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
    return path


def previous_records(workload):
    path = os.path.join(WORK, "records", f"{workload}.jsonl")
    if not os.path.isfile(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# ---- the two kinds of run -------------------------------------------------

def job_run(mode, workload, data, date, pins, deadline, rec):
    """One job JVM plus its output check; the run dir is removed after."""
    steal0 = steal_s()
    rundir, targets, out, launched = launch(mode, workload, data, date,
                                            deadline)
    if steal0 is not None:
        rec["host"]["steal_s"].append(steal_s() - steal0)
    try:
        a = audit(out, targets, pins)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    rec["attempted"] += a["attempted"]
    rec["failed"] += a["failed"]
    rec["failures"] += a["reasons"]
    rec["digests"].append(a["digests"])
    if out is not None:
        rec["jvm_flags"] = out["jvm_flags"]
        rec["samples"]["setup_s"].append(out["ready_ms"] / 1e3 - launched)
    return out, a


def timed(args, data, date, pins, deadline, rec):
    s = rec["samples"]
    for k in ("job_s", "job_cpu_s", "peak_rss_mb"):
        s[k] = []
    start = time.time()
    while True:
        out, _ = job_run("timed", args.workload, data, date, pins, deadline,
                         rec)
        if out is None:
            break
        s["job_s"].append(out["job_s"])
        s["job_cpu_s"].append(out["job_cpu_s"])
        s["peak_rss_mb"].append(out["peak_rss_kb"] / 1024.0)
        per_job = (time.time() - start) / len(s["job_s"])
        if (time.time() - start >= args.seconds or
                time.time() + 1.5 * per_job > deadline):
            break
    while (len(s["setup_s"]) < SETUP_SAMPLES and s["job_s"] and
           time.time() + 30 < deadline):
        rundir, _, out, launched = launch("setup", args.workload, data, date,
                                          deadline)
        shutil.rmtree(rundir, ignore_errors=True)
        if out is None:
            break
        s["setup_s"].append(out["ready_ms"] / 1e3 - launched)
    units = {"setup_s": "s", "job_s": "s", "job_cpu_s": "s",
             "peak_rss_mb": "MB"}
    metrics = {}
    for k, unit in units.items():
        if s[k]:
            metrics[k] = {"value": statistics.median(s[k]), "unit": unit}
            rec["quartiles"][k] = quartiles(s[k])
    return metrics


COUNTERS = ("queries.build_spark_jobs", "sinks.fanout_spark_jobs",
            "sinks.rows_out", "sinks.bytes_out", "jobs.extracts",
            "sources.scan_rows", "spark.jobs", "spark.stages",
            "spark.stages_skipped", "spark.tasks", "spark.task_failures")


def traced(args, data, date, pins, deadline, rec):
    base, _ = job_run("timed", args.workload, data, date, pins, deadline, rec)
    out, a = job_run("traced", args.workload, data, date, pins, deadline, rec)
    if base is None or out is None:
        return {}
    m = dict(out["metrics"])
    m["sinks.bytes_out"] = float(a["bytes_out"])
    m["jobs.extracts"] = float(len({r["extract"] for r in out["results"]
                                    if r["ok"]}))
    m["trace.overhead_s"] = m["trace.wall_s"] - base["job_s"]
    rec["samples"]["job_s"] = [base["job_s"]]
    rec["spans"] = out["spans"]
    rec["run_id"] = out["run_id"]
    # a counter "repeats" when every traced record of this workload and
    # seed (this one included) has the same value for it
    same = [r["per_layer"] for r in previous_records(args.workload)
            if r.get("trace") == 1 and r.get("seed") == args.seed and
            r.get("per_layer")] + [m]
    rec["repeated_exactly"] = sorted(
        c for c in COUNTERS if len(same) > 1 and
        all(r.get(c) == m[c] for r in same))
    rec["per_layer"] = m
    units = {"_s": "s", "_mb": "MB", "slot_util": "ratio",
             "per_row_out": "ratio", "bytes_out": "bytes"}
    return {k: {"value": v, "unit": next(
        (u for suf, u in units.items() if k.endswith(suf)), "count")}
        for k, v in sorted(m.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run unwinds through subprocess.run, which kills and
    # reaps the JVM or sbt it was waiting on
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        spark_home()
        build()
        data = data_dir(args.seed)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"cannot run: {e}")
        return 2
    with open(PINS) as f:
        pins = json.load(f).get(args.workload, {}) if args.seed == 0 else {}
    date = run_date(args.seed)
    deadline = time.time() + RUN_LIMIT_S
    rec = {"workload": args.workload, "seed": args.seed, "date": date,
           "trace": args.trace, "seconds": args.seconds,
           "host": host_facts(), "attempted": 0, "failed": 0,
           "failures": [], "digests": [], "quartiles": {},
           "samples": {"setup_s": []}}
    run = traced if args.trace else timed
    try:
        metrics = run(args, data, date, pins, deadline, rec)
    finally:
        shutil.rmtree(runs_dir(), ignore_errors=True)
    if len({json.dumps(d, sort_keys=True) for d in rec["digests"]}) > 1:
        # job runs of one seed, traced or not, deliver the same bytes
        rec["attempted"] += 1
        rec["failed"] += 1
        rec["failures"].append("job runs of this seed delivered different "
                               "bytes")
    rec["host"]["loadavg_end"] = os.getloadavg()
    rec["metrics"] = {k: v["value"] for k, v in metrics.items()}
    attempted = max(rec["attempted"], 1)
    failed_share = rec["failed"] / attempted
    rec["failed_share"] = failed_share
    path = append_record(args.workload, rec)
    for why in rec["failures"]:
        log(f"FAILED {why}")
    correct = rec["failed"] == 0 and bool(metrics)
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"failed_share = {failed_share:.6g} ratio "
          f"({rec['failed']}/{attempted}); record: {path}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": rec["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
