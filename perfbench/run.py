#!/usr/bin/env python3
"""KG-engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload bulk_build --seed 0 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline) into the build's own target
directories; later runs reuse that build while the sources are unchanged.
Each run starts one JVM with one local Spark session (local[nproc]) under
perfbench/.work, and the last line of standard output is the JSON result:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. The
line before it carries the figures that are not metrics (host window,
retained cache, failures). The exit code is non-zero when a run fails or an
output check fails.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSPATH = os.path.join(BENCH, "target", "bench-classpath.txt")
STAMP = os.path.join(BENCH, "target", "bench-source-stamp.txt")
WORKLOADS = ("bulk_build", "hot_repo_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add (the engine's own build passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {  # name -> unit
    "setup_s": "s", "build_s": "s", "triples_per_s": "1/s",
}

LAYERS = ["text", "tag", "annotate.events", "annotate.heads", "annotate.pairs",
          "annotate.align", "annotate.inject", "annotate.enrich", "link",
          "emit", "store.write", "store.read"]
LAYER_FIGURES = {"wall_s": "s", "task_s": "s", "rows_out": "count",
                 "shuffle_mb": "MB", "spill_mb": "MB", "jobs": "count",
                 "skew": "ratio"}
GRAPH_OPS = ["transitiveClosure", "pageRank", "labelProp", "snapshotDelta",
             "triangleCounts", "kCorePeel", "edgeJaccard", "kTrussPeel",
             "degreeHistogram", "integrityAudit"]


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    units = {}
    for layer in LAYERS:
        for fig, unit in LAYER_FIGURES.items():
            units[f"{layer}.{fig}"] = unit
    units.update({"store.write.files": "count", "store.write.bytes_mb": "MB",
                  "store.write.max_partition_share": "ratio",
                  "link.forms": "count", "link.local_cc": "bool"})
    for op in GRAPH_OPS:
        units.update({f"graph.{op}.wall_s": "s", f"graph.{op}.jobs": "count",
                      f"graph.{op}.shuffle_mb": "MB"})
    units.update({"driver.jobs": "count", "driver.gap_s": "s",
                  "driver.gap_share": "ratio", "trace.build_s": "s",
                  "trace.overhead_s": "s",
                  "session.retained_kb_per_op": "KB"})
    return units


def tail_percentile(n, beyond=10):
    """Highest whole percentile p with at least `beyond` of `n` samples
    strictly above the p-th percentile's rank, or None if n is too small."""
    best = None
    for p in range(1, 100):
        if n - math.ceil(n * p / 100) >= beyond:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * p / 100) - 1)]


def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(fs)]
    for p in paths:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def java_cmd(*args):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, "graftbench.BenchMain"] + list(args))


def run_child(cmd, cwd, timeout, log_path):
    """Runs cmd in its own process group; kills the whole group on timeout
    and always waits for it. Returns (returncode or None, stdout)."""
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=log,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
            return p.returncode, out.decode(errors="replace")
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, ""
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            raise


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def ensure_build():
    """Builds engine + benchmark when the sources changed, then runs the
    benchmark's self-tests; the stamp is written only if both pass."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to perfbench/ (run from the repository root)")
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.isfile(repos) else "")
    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    log = os.path.join(BENCH, "target", "sbt-build.log")
    with open(log, "wb") as lf:
        p = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=BENCH, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (see {log})")
    if selftest() != 0:
        fail("self-tests failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def selftest():
    """Python helper tests, then the Scala helper tests in a small session."""
    bad = []
    if tail_percentile(10) is not None:
        bad.append("tail percentile with 10 samples")
    if tail_percentile(11) != 9:
        bad.append(f"tail_percentile(11) = {tail_percentile(11)}, expected 9")
    if tail_percentile(20) != 50:
        bad.append(f"tail_percentile(20) = {tail_percentile(20)}, expected 50")
    if tail_percentile(100) != 90 or tail_percentile(1000) != 99:
        bad.append("tail percentile of 100 / 1000 samples is not 90 / 99")
    for n in (11, 37, 250):
        p = tail_percentile(n)
        if n - math.ceil(n * p / 100) < 10 or (p < 99 and n - math.ceil(n * (p + 1) / 100) >= 10):
            bad.append(f"tail_percentile({n}) = {p} is not the highest with 10 beyond")
    if percentile([5, 1, 4, 2, 3], 50) != 3 or percentile(list(range(1, 101)), 90) != 90:
        bad.append("nearest-rank percentile")
    for b in bad:
        print(f"selftest failed: {b}", file=sys.stderr)
    reset_work()
    rc, out = run_child(java_cmd("selftest", WORK, str(min(2, cores()))), ROOT,
                        RUN_TIMEOUT_S, os.path.join(WORK, "selftest.log"))
    if rc != 0:
        print(f"scala self-tests failed (see {os.path.join(WORK, 'selftest.log')})",
              file=sys.stderr)
    return 0 if (rc == 0 and not bad) else 1


def reset_work():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)


def metric(v, unit):
    return {"value": v, "unit": unit}


def report(args, raw):
    failures = list(raw.get("failures", []))
    attempted = max(int(raw.get("attempted", 0)), 1)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "files": raw.get("files"), "first_index": raw.get("first_index"),
            "hot_repo": raw.get("hot_repo"), "host": raw.get("host"),
            "retained_cache_mb": metric(raw.get("retained_cache_mb"), "MB"),
            "storage_after_op_kb": raw.get("storage_after_op_kb"),
            "failed_frac": metric(min(len(failures), attempted) / attempted, "ratio"),
            "failures": failures}
    metrics = {}
    if args.trace == 0:
        builds, triples = raw.get("build_s", []), raw.get("triples", [])
        if builds and triples:
            b = statistics.median(builds)
            metrics = {"setup_s": raw["setup_s"], "build_s": b,
                       "triples_per_s": statistics.median(triples) / b}
            p = tail_percentile(len(builds))
            info["build_s_samples"] = len(builds)
            info["build_s_tail"] = (None if p is None else
                                    {"percentile": p, "value": percentile(builds, p)})
            info["digest"] = raw.get("digest")
        units = END_TO_END
    else:
        layers = raw.get("layers", {})
        units = per_layer_units()
        metrics = {k: layers[k] for k in units if k in layers}
        missing = [k for k in units if k not in layers]
        if missing:
            failures.append(f"traced run lacks {len(missing)} layer metrics, e.g. {missing[:3]}")
    if len(metrics) != len(units) or any(
            not isinstance(v, (int, float)) or isinstance(v, bool) for v in metrics.values()):
        failures.append("incomplete metrics")
    if args.trace == 0 and any(v <= 0 for v in metrics.values()):
        failures.append("an end-to-end metric is not positive")
    print(json.dumps(info))
    result = {"correct": not failures, "attempted": attempted,
              "failed": min(len(failures), attempted),
              "metrics": {k: metric(v, units[k]) for k, v in metrics.items()}}
    print(json.dumps(result))
    return 0 if not failures else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.seed < 0:
        fail("--seed must be non-negative")
    ensure_build()
    if args.selftest:
        sys.exit(selftest())
    if args.workload is None:
        fail("--workload is required")
    reset_work()
    rc, out = run_child(
        java_cmd(args.workload, str(args.seed), str(args.seconds), str(args.trace),
                 WORK, str(cores())),
        ROOT, RUN_TIMEOUT_S, os.path.join(WORK, "run.log"))
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH ")]
    if rc != 0 or not lines:
        fail(f"benchmark JVM failed (exit {rc}); see {os.path.join(WORK, 'run.log')}")
    code = report(args, json.loads(lines[-1][len("GRAFTBENCH "):]))
    # keep the log and spans of the last run; drop its data
    for d in ("roots", "source", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
