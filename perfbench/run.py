#!/usr/bin/env python3
"""The repository benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark's JVM side from source (`perfbench/build.sbt`); later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed and cached under `perfbench/.work/inputs`; each run starts a fresh JVM
on a fresh work directory, measures, checks every output, and prints one
JSON object as its last stdout line. A wrong output exits 1. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["daily_backfill", "queries"]
FIXTURES = [0.01, 0.1]     # the query fixtures' scale factors
BACKFILL_DAYS = 7          # retention (4) + 3
BACKFILL_ORDERS = 12_000   # orders dealt to the days (~48k lineitem rows)
HEAP = "4g"
JVM_TIMEOUT_S = 165
END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("cold_s", "s"),
              ("run_s", "s"), ("heap_live_mb", "MB")]
FAMILIES = ["Relational", "Dedup", "Similarity"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


# ---- statistics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p90_supported(xs):
    """The 90th percentile, or None unless at least ten samples lie beyond
    it (i.e. at least 100 samples)."""
    if len(xs) < 100:
        return None
    s = sorted(xs)
    return s[int(0.9 * len(s)) - 1]


# ---- build -------------------------------------------------------------------

def sources():
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True))
    files += sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    return files + [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"]


def build():
    """Compiles with sbt (offline) unless the sources match the last build."""
    if not os.path.isdir(f"{ROOT}/src/main/scala/graft"):
        raise BenchError("program sources (src/main/scala/graft) not found; "
                         "run from the repository root")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = f"{HERE}/target/perfbench.stamp"
    classes = f"{HERE}/target/scala-2.13/classes"
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return classes
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = f"{WORK}/build.log"
    os.makedirs(WORK, exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        raise BenchError(f"build failed (sbt exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def spark_home():
    """SPARK_HOME, or the first Spark distribution (bin/ beside jars/) on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(f"{home}/jars"):
            return home
    raise BenchError("no Spark distribution: set SPARK_HOME")


def java(classes, args, log, timeout=JVM_TIMEOUT_S):
    cmd = ["java", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_home()}/jars/*", "perfbench.Main"] + args
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"JVM timed out after {timeout}s; see {log}")
    if rc != 0:
        raise BenchError(f"JVM exited {rc}; see {log}")


# ---- inputs ------------------------------------------------------------------

def inputs(workload, seed, days, orders):
    """Generates (or reuses) the seed's inputs; returns (dir, built?, seconds)."""
    d = f"{WORK}/inputs/{workload}-s{seed}" + (f"-d{days}-o{orders}" if workload == "daily_backfill" else "")
    if os.path.exists(f"{d}/.done"):
        return d, False, 0.0
    t = time.monotonic()
    shutil.rmtree(d, ignore_errors=True)
    if workload == "queries":
        for sf in FIXTURES:
            gen.fixture(f"{d}/sf{sf}", sf, seed)
    else:
        gen.backfill(d, seed, days, orders)
    open(f"{d}/.done", "w").close()
    return d, True, time.monotonic() - t


# ---- host noise --------------------------------------------------------------

def steal_jiffies():
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


# ---- metrics -----------------------------------------------------------------

def cold_ops(res):
    if res["workload"] == "daily_backfill":
        return res["ops"][:1]
    return [o for o in res["ops"] if o["pass"] == 0]


# The first warm query pass still runs while the JIT compiles the code the
# cold pass loaded (it read 30-40 % slower than the next one); it is checked
# and counted but not measured.
WARMUP_PASSES = 1


def warm_ops(res):
    if res["workload"] == "daily_backfill":
        return res["ops"][1:]
    return [o for o in res["ops"] if o["pass"] > WARMUP_PASSES]


def warm_passes(res):
    """Wall of each measured pass: a warm query pass, or a backfill replay
    without its first day."""
    by = {}
    for o in res["ops"]:
        by.setdefault(o["pass"], []).append(o["wall_s"])
    if res["workload"] == "daily_backfill":
        return [sum(w[1:]) for w in by.values()]
    return [sum(w) for p, w in by.items() if p > WARMUP_PASSES]


def end_to_end(res):
    warm = [o["wall_s"] for o in warm_ops(res)]
    return {
        "setup_s": res["marks"]["setup"]["uptime_s"] - res["setup"].get("zips_s", 0.0),
        "op_p50_s": median(warm),
        "cold_s": sum(o["wall_s"] for o in cold_ops(res)),
        "run_s": median(warm_passes(res)),
        "heap_live_mb": res["heap_live_mb"],
    }


def per_layer_names():
    etl = ["etl.DailyIngest.land_s", "etl.DailyIngest.land_tasks", "etl.Sources.read_s",
           "etl.FixedWidth.parse_s", "etl.Sinks.promote_s", "etl.Sinks.promote_mb",
           "etl.DailyIngest.agg_s", "etl.Sinks.retention_s", "etl.Sinks.archive_notify_s",
           "etl.DailyIngest.phase_cover", "etl.DailyIngest.retained_rows",
           "etl.DailyIngest.written_mb", "etl.DailyIngest.jobs", "etl.DailyIngest.task_cpu_s",
           "etl.DailyIngest.gc_s", "etl.DailyIngest.driver_gap_s",
           "etl.DailyIngest.rows_per_s", "etl.DailyIngest.write_amp"]
    spark = ["spark.plan_ms", "spark.actions", "spark.jobs", "spark.tasks",
             "spark.driver_gap_s", "spark.codegen_compiles", "spark.codegen_ms",
             "spark.warm_codegen_compiles", "spark.task_cpu_s", "spark.gc_s",
             "spark.shuffle_mb", "spark.spill_mb", "spark.scan_mb", "spark.core_util"]
    fam = [f"ops.{f}.{m}" for f in FAMILIES for m in ("wall_s", "task_cpu_s")]
    return etl + spark + fam + ["trace.op_p50_s", "host.rss_peak_mb", "host.steal_s",
                                "host.loadavg_1m"]


UNITS = {"_per_s": "1/s", "_s": "s", "_ms": "ms", "_mb": "MB", "_util": "ratio",
         "_cover": "ratio", "_amp": "ratio", "_1m": "load"}


def unit_of(name):
    for suf, u in UNITS.items():
        if name.endswith(suf):
            return u
    return "count"


def union_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def op_window(o):
    return o["start_ms"], o["start_ms"] + o["wall_s"] * 1000.0


def op_trace(res, o):
    """Jobs, stages, actions and planning records of one op."""
    tr = res["trace"]
    jobs = [j for j in tr["jobs"] if j["op"] == o["id"]]
    sids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in tr["stages"] if s["id"] in sids]
    lo, hi = op_window(o)
    execs = sorted((e for e in tr["execs"] if lo <= e["start"] <= hi + 1),
                   key=lambda e: e["start"])
    plans = [p for p in tr["plans"] if lo <= p["start"] <= hi + 1]
    return jobs, stages, execs, plans


def day_phases(o, execs):
    """Splits one DailyIngest.run into phases by its actions' output dirs:
    land ends with the `temp` write, promote runs to the first `agg/` write,
    agg ends with the last `agg/` write, retention ends with the last action,
    archive_notify is the rest. Returns None if an action is missing."""
    lo, hi = op_window(o)
    land = [e for e in execs if e["out"].endswith("/temp")]
    staged = [e for e in execs if e["out"].endswith("/final_staged")]
    agg = [e for e in execs if "/agg/" in e["out"]]
    if not (land and staged and agg):
        return None
    land_end, agg_start = land[-1]["end"], agg[0]["start"]
    agg_end = agg[-1]["end"]
    last = max(e["end"] for e in execs)
    ph = {"land": land_end - lo, "promote": agg_start - land_end, "agg": agg_end - agg_start,
          "retention": last - agg_end, "archive_notify": hi - last}
    return {k: v / 1000.0 for k, v in ph.items()}, staged


def per_layer(res):
    m = {n: 0.0 for n in per_layer_names()}
    warm = warm_ops(res)
    k = res["cores"]
    rows = []
    for o in warm:
        jobs, stages, execs, plans = op_trace(res, o)
        win = [(s["submit"], s["complete"]) for s in stages if s["complete"]]
        rows.append({
            "plan_ms": sum(p["ms"] for p in plans), "actions": len(execs), "jobs": len(jobs),
            "tasks": sum(s["tasks"] for s in stages),
            "gap": max(0.0, o["wall_s"] - union_ms(win) / 1000.0),
            "cpu": sum(s["cpu_ns"] for s in stages) / 1e9,
            "run": sum(s["run_ms"] for s in stages) / 1000.0,
            "gc": sum(s["gc_ms"] for s in stages) / 1000.0,
            "shuffle": sum(s["shuffle_write"] + s["shuffle_read"] for s in stages) / 1e6,
            "spill": sum(s["spill"] for s in stages) / 1e6,
            "scan": sum(s["scan"] for s in stages) / 1e6,
            "written": sum(s["written"] for s in stages) / 1e6,
            "execs": execs, "stages": stages, "op": o})
    n = max(1, len(rows))

    def mean(f):
        return sum(f(r) for r in rows) / n
    m["spark.plan_ms"] = mean(lambda r: r["plan_ms"])
    m["spark.actions"] = mean(lambda r: r["actions"])
    m["spark.jobs"] = mean(lambda r: r["jobs"])
    m["spark.tasks"] = mean(lambda r: r["tasks"])
    m["spark.driver_gap_s"] = mean(lambda r: r["gap"])
    m["spark.task_cpu_s"] = mean(lambda r: r["cpu"])
    m["spark.gc_s"] = mean(lambda r: r["gc"])
    m["spark.shuffle_mb"] = mean(lambda r: r["shuffle"])
    m["spark.spill_mb"] = mean(lambda r: r["spill"])
    m["spark.scan_mb"] = mean(lambda r: r["scan"])
    wall = sum(r["op"]["wall_s"] for r in rows)
    m["spark.core_util"] = sum(r["run"] for r in rows) / (wall * k) if wall else 0.0
    mk = res["marks"]
    m["spark.codegen_compiles"] = mk["cold"]["compiles"] - mk["setup"]["compiles"]
    m["spark.codegen_ms"] = (mk["cold"]["compile_ns"] - mk["setup"]["compile_ns"]) / 1e6
    m["spark.warm_codegen_compiles"] = mk["end"]["compiles"] - mk["cold"]["compiles"]
    passes = max(1, len(warm_passes(res)))
    for f in FAMILIES:
        fam = [r for r in rows if r["op"]["family"] == f]
        m[f"ops.{f}.wall_s"] = sum(r["op"]["wall_s"] for r in fam) / passes
        m[f"ops.{f}.task_cpu_s"] = sum(r["cpu"] for r in fam) / passes
    m["trace.op_p50_s"] = median([o["wall_s"] for o in warm])
    m["host.rss_peak_mb"] = res["rss_peak_mb"]
    m["host.steal_s"] = res["host_steal_s"]
    m["host.loadavg_1m"] = res["host_loadavg_1m"]
    if res["workload"] == "daily_backfill":
        etl_layers(m, res, rows, n)
    return m


def etl_layers(m, res, rows, n):
    def mean(f):
        return sum(f(r) for r in rows) / n
    split = [day_phases(r["op"], r["execs"]) for r in rows]
    if any(s is None for s in split):
        raise BenchError("a traced day is missing its temp, final_staged or agg action")
    for name, key in [("etl.DailyIngest.land_s", "land"), ("etl.Sinks.promote_s", "promote"),
                      ("etl.DailyIngest.agg_s", "agg"), ("etl.Sinks.retention_s", "retention"),
                      ("etl.Sinks.archive_notify_s", "archive_notify")]:
        m[name] = sum(s[0][key] for s in split) / n
    m["etl.DailyIngest.phase_cover"] = sum(
        sum(s[0].values()) / r["op"]["wall_s"] for s, r in zip(split, rows)) / n
    land_tasks, promote_mb = 0, 0.0
    for r, s in zip(rows, split):
        land = [e["id"] for e in r["execs"] if e["out"].endswith("/temp")]
        staged = {e["id"] for e in s[1]}
        for j in res["trace"]["jobs"]:
            if j["exec"] in land or j["exec"] in staged:
                st = [x for x in r["stages"] if x["id"] in j["stages"]]
                if j["exec"] in land:
                    land_tasks += sum(x["tasks"] for x in st)
                else:
                    promote_mb += sum(x["written"] for x in st) / 1e6
    m["etl.DailyIngest.land_tasks"] = land_tasks / n
    m["etl.Sinks.promote_mb"] = promote_mb / n
    m["etl.Sources.read_s"] = mean(lambda r: r["op"]["read_s"])
    m["etl.FixedWidth.parse_s"] = mean(lambda r: r["op"]["parse_s"])
    m["etl.DailyIngest.retained_rows"] = mean(lambda r: r["op"]["retained_rows"])
    m["etl.DailyIngest.written_mb"] = mean(lambda r: r["op"]["written"] / 1e6)
    m["etl.DailyIngest.jobs"] = m["spark.jobs"]
    m["etl.DailyIngest.task_cpu_s"] = m["spark.task_cpu_s"]
    m["etl.DailyIngest.gc_s"] = m["spark.gc_s"]
    m["etl.DailyIngest.driver_gap_s"] = m["spark.driver_gap_s"]
    backfill_rates(m, res)


def backfill_rates(m, res):
    warm = warm_ops(res)
    wall = sum(o["wall_s"] for o in warm)
    m["etl.DailyIngest.rows_per_s"] = sum(o["records"] for o in warm) / wall if wall else 0.0
    m["etl.DailyIngest.write_amp"] = (sum(o["written"] for o in warm) /
                                      max(1, sum(o["input_bytes"] for o in warm)))


# ---- one run -----------------------------------------------------------------

def measure(workload, seed, seconds, trace, days=BACKFILL_DAYS, orders=BACKFILL_ORDERS):
    """Builds, prepares inputs and runs one measured JVM. Returns the JVM's
    result record, extended with the input and host-noise record."""
    classes = build()
    inp, built, gen_s = inputs(workload, seed, days, orders)
    result_file = f"{WORK}/result-{workload}.json"
    if os.path.exists(result_file):
        os.remove(result_file)
    steal0, t0 = steal_jiffies(), time.monotonic()
    java(classes, [workload, inp, f"{WORK}/run-{workload}", str(seed), str(seconds),
                   str(int(trace)), result_file], f"{WORK}/run-{workload}.log")
    steal1, wall = steal_jiffies(), time.monotonic() - t0
    with open(result_file) as f:
        res = json.load(f)
    res.update(inputs_dir=inp, inputs="built" if built else "reused", inputs_gen_s=gen_s,
               jvm_wall_s=wall, host_loadavg_1m=os.getloadavg()[0],
               host_steal_s=(steal1 - steal0) / 100.0 if min(steal0, steal1) >= 0 else -1.0)
    return res


def run(workload, seed, seconds, trace):
    res = measure(workload, seed, seconds, trace)
    inp = res["inputs_dir"]
    ops = res["ops"]
    if workload == "daily_backfill":
        failures = check.backfill(inp, res)
        wrong = {o["id"] for o in ops} if failures else set()
    else:
        failures = [f for sf in FIXTURES
                    for f in check.queries(f"{inp}/sf{sf}", f'{res["out_dir"]}/sf{sf}')]
        names = {name for name, _ in failures}
        wrong = {o["id"] for o in ops if o["name"] in names}
    failed = sum(1 for o in ops if not o["ok"] or o["id"] in wrong)
    metrics = per_layer(res) if trace else end_to_end(res)
    warm = [o["wall_s"] for o in warm_ops(res)]
    details = {
        "workload": workload, "seed": seed, "trace": bool(trace), "cores": res["cores"],
        "inputs": res["inputs"], "inputs_gen_s": round(res["inputs_gen_s"], 3),
        "setup": res["setup"], "warm_ops": len(warm), "warm_passes": len(warm_passes(res)),
        "op_p90_s": p90_supported(warm), "failed_ratio": failed / max(1, len(ops)),
        "failures": [f"{n}: {why}" for n, why in failures][:20] +
                    [f'{o["name"]}: {o["err"]}' for o in ops if not o["ok"]][:20],
        "rss_peak_mb": res["rss_peak_mb"], "host_steal_s": res["host_steal_s"],
        "host_loadavg_1m": res["host_loadavg_1m"], "jvm_wall_s": round(res["jvm_wall_s"], 3),
    }
    if workload == "daily_backfill":
        backfill_rates(details, res)
    return {"correct": not failures and failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k) if trace else dict(END_TO_END)[k]}
                        for k, v in metrics.items()}}, details


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        out, details = run(a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(details))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
