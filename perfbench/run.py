#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload kmeans_embed --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The JVM (perfbench.Runner) sets
the workload up three times in fresh sessions over empty temp dirs,
checks every query's output against perfbench/fingerprints.json in an
untimed pass in the last session, then runs warm passes in a closed loop
with one client for --seconds. The seed only permutes each pass's query
order. The last line of stdout is the result as one JSON object; the full
report, span tree included, goes to perfbench/out/. When a query's output
changes on purpose, its new fingerprint is in the report's "check" section.
"""
import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"
RUN_LIMIT_S = 170  # a run must end within 180 s once built
BUILD_LIMIT_S = 700  # the first run, which builds, must end within 900 s

# Spark 4 on JDK 17 needs these outside spark-submit.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ── pure logic (perfbench/test_run.py) ─────────────────────────────────

def pass_orders(queries, seed, n):
    """Query order of each of n passes: seeded shuffles, so a seed always
    gives the same sequence of orders."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n):
        o = list(queries)
        rng.shuffle(o)
        orders.append(o)
    return orders


def tail_pick(values, beyond=10):
    """Highest nearest-rank percentile with at least `beyond` samples above
    its rank: (percentile, value). None when there are too few samples."""
    n = len(values)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based nearest rank; `beyond` samples rank above it
    return 100.0 * rank / n, sorted(values)[rank - 1]


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length([(max(cs, s), min(ce, e)) for cs, ce in children])


def driver_gap(query, jobs):
    """Wall time of a query not covered by any of its Spark jobs: planning,
    driver-side loop work, and scheduling gaps between jobs."""
    return self_time(query, jobs)


# ── build ──────────────────────────────────────────────────────────────

def source_stamp():
    h = hashlib.sha256()
    files = [p for d in (ENGINE, HERE / "src" / "main") for p in d.rglob("*") if p.is_file()]
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile unless the sources match the last build; returns seconds spent."""
    t0 = time.monotonic()
    stamp = source_stamp()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return time.monotonic() - t0
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile/products"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    STAMP.write_text(stamp)
    print(f"[perfbench] built in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    return time.monotonic() - t0


# ── annotations (never alter a metric) ─────────────────────────────────

def load_1m():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return -1.0


def busy_jiffies():
    """All cores' busy jiffies from /proc/stat (idle, iowait and guest time excluded)."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:9]]
        return sum(v for i, v in enumerate(f) if i not in (3, 4))
    except OSError:
        return -1


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ── run ────────────────────────────────────────────────────────────────

def run_jvm(plan, work, deadline):
    plan_path, out_path = work / "plan.json", work / "out.json"
    plan_path.write_text(json.dumps(plan))
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override the per-setup local dir
    cmd = ["java", "-Xmx2g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}", *ADD_OPENS,
           "-cp", f"{CLASSES}{os.pathsep}{Path(env['SPARK_HOME']) / 'jars' / '*'}",
           "perfbench.Runner", str(plan_path), str(out_path)]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail("JVM timed out" if code is None else f"JVM exited with {code}")
    return json.loads(out_path.read_text())


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(out, warm):
    passes = out["passes"]
    return {
        "setup_s": median([s["session"] + s["coldPass"] for s in out["setups"]]),
        "pass_s": median([(p["end"] - p["start"]) / 1e6 for p in passes]),
        "query_p50_s": median([e["build"] + e["action"] for e in warm]),
        "retained_mb": out["heapMb"],
    }


def per_layer(out, warm, names):
    """Per-pass sums over the traced passes (median across them), from the spans."""
    spans = out["spans"]
    traced = [p for p in out["passes"] if p["traced"]]
    untraced = [p for p in out["passes"] if not p["traced"]]
    exec_pass = {e["id"]: e["pass"] for e in warm}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    per_pass = []
    for p in traced:
        m = dict.fromkeys(names, 0.0)
        for s in spans:
            if exec_pass.get(s["query"]) != p["pass"]:
                continue
            c, k = s["counts"], s["kind"]
            if k == "build":
                m["entry.build_s"] += (s["end"] - s["start"]) / 1e6
            elif k == "action":
                m["entry.action_s"] += (s["end"] - s["start"]) / 1e6
            elif k == "query":
                jobs = [(j["start"], j["end"]) for b in kids.get(s["id"], [])
                        for j in kids.get(b["id"], []) if j["kind"] == "job"]
                m["sched.driver_gap_s"] += driver_gap((s["start"], s["end"]), jobs) / 1e6
            elif k == "plan":
                m["plan.actions"] += 1
                m["plan.analysis_s"] += c["analysis_s"]
                m["plan.optimize_s"] += c["optimize_s"]
                m["plan.physical_s"] += c["physical_s"]
            elif k == "job":
                m["sched.jobs"] += 1
            elif k == "stage":
                m["sched.stages"] += 1
                m["sched.tasks"] += c["tasks"]
                for key, name in (("run_s", "exec.run_s"), ("cpu_s", "exec.cpu_s"),
                                  ("gc_s", "exec.gc_s"), ("shuffle_write_mb", "shuffle.write_mb"),
                                  ("shuffle_read_mb", "shuffle.read_mb"),
                                  ("input_mb", "scan.input_mb"), ("input_records", "scan.records"),
                                  ("spill_mb", "stage.spill_mb")):
                    m[name] += c.get(key, 0.0)
        per_pass.append(m)
    layer = {k: median([m[k] for m in per_pass]) for k in names}

    cold = {e["query"]: e["build"] + e["action"] for e in out["execs"]
            if e["cold"] and e["setup"] == len(out["setups"]) - 1}
    warm_q = {}
    for e in warm:
        warm_q.setdefault(e["query"], []).append(e["build"] + e["action"])
    layer["stage.cold_extra_s"] = sum(cold[q] - median(ts) for q, ts in warm_q.items() if q in cold)
    layer["stage.cached_rdds"] = float(out["cachedRdds"])
    layer["stage.storage_mb"] = out["storageMb"]
    layer["artifact.dirs"] = float(out["artifactDirs"])
    layer["artifact.disk_mb"] = out["diskMb"]
    layer["trace.overhead_s"] = (median([(p["end"] - p["start"]) / 1e6 for p in traced])
                                 - median([(p["end"] - p["start"]) / 1e6 for p in untraced]))
    return layer


def span_tree(spans):
    """Spans nested under their parents, each with its self time in s."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def node(s):
        ch = kids.get(s["id"], [])
        return {"kind": s["kind"], "name": s["name"], "query": s["query"],
                "start_us": s["start"], "end_us": s["end"],
                "self_s": self_time((s["start"], s["end"]),
                                    [(c["start"], c["end"]) for c in ch]) / 1e6,
                "counts": s["counts"], "children": [node(c) for c in ch]}
    return [node(s) for s in kids.get(-1, [])]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanups

    spec = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}")
    wl = spec["workloads"][args.workload]
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    if not (ENGINE / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail(f"engine sources not found under {ENGINE}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set: the build and the JVM take Spark's jars from it")
    expected = json.loads((HERE / "fingerprints.json").read_text())
    build_s = build()
    deadline = t_start + build_s + RUN_LIMIT_S

    queries = wl["queries"]
    setups = spec["setups"]
    # enough pass orders for any run; the JVM stops at the first whole pass past --seconds
    orders = pass_orders(queries, args.seed, setups + 400)
    out_dir = HERE / "out"
    out_dir.mkdir(exist_ok=True)
    work = HERE / "target" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    ann = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "nproc": os.cpu_count(), "cpus": spec["cpus"], "sf": wl["sf"],
           "commit": git_commit(), "load_1m_start": load_1m()}
    busy0, child0, t0 = busy_jiffies(), resource.getrusage(resource.RUSAGE_CHILDREN), time.monotonic()
    try:
        plan = {"sfDir": str(HERE / "data" / wl["sf"]), "workDir": str(work), "cpus": spec["cpus"],
                "seconds": args.seconds, "trace": bool(args.trace), "setups": setups,
                "orders": orders, "check": queries,
                "expected": {q: expected.get(q, "") for q in queries}}
        out = run_jvm(plan, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wall = time.monotonic() - t0
    child1, busy1 = resource.getrusage(resource.RUSAGE_CHILDREN), busy_jiffies()
    jvm_cpu = (child1.ru_utime + child1.ru_stime) - (child0.ru_utime + child0.ru_stime)
    hz = os.sysconf("SC_CLK_TCK")
    ann.update(load_1m_end=load_1m(), run_wall_s=wall,
               other_cpu_cores=((busy1 - busy0) / hz - jvm_cpu) / wall if busy0 >= 0 else -1.0)

    warm = [e for e in out["execs"] if not e["cold"]]
    bad_checks = [c for c in out["checks"] if c["error"] or c["fingerprint"] != c["expected"]]
    errors = [e for e in out["execs"] if e["error"]]
    attempted = len(out["execs"]) + len(out["checks"])
    failed = len(errors) + len(bad_checks)
    e2e = end_to_end(out, warm)
    tail = tail_pick([e["build"] + e["action"] for e in warm])
    ann.update(jvm_cpu_s_per_pass=sum(p["cpu"] for p in out["passes"]) / len(out["passes"]),
               storage_mb=out["storageMb"], disk_mb=out["diskMb"], warm_samples=len(warm),
               passes=len(out["passes"]), query_tail=tail, failed_frac=failed / attempted)
    report = {"annotations": ann, "end_to_end": e2e,
              "check": out["checks"], "errors": [(e["query"], e["error"]) for e in errors],
              "setups": out["setups"], "passes": out["passes"],
              "queries": {q: {"cold_s": [e["build"] + e["action"] for e in out["execs"]
                                         if e["cold"] and e["query"] == q],
                              "warm_s": [e["build"] + e["action"] for e in warm if e["query"] == q]}
                          for q in queries}}
    if args.trace:
        metrics = per_layer(out, warm, list(units))
        report.update(per_layer=metrics, spans=span_tree(out["spans"]))
    else:
        metrics = e2e
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (out_dir / name).write_text(json.dumps(report, indent=1))
    for c in bad_checks:
        print(f"[perfbench] output check failed: {c['query']} "
              f"{c['error'] or 'fingerprint ' + c['fingerprint']}", file=sys.stderr)
    print(json.dumps(ann), file=sys.stderr)
    if any(v != v for v in metrics.values()):  # NaN: too few passes or samples
        fail(f"run too short for every metric: {metrics}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
