#!/usr/bin/env python3
"""graft's benchmark: full-materialization pipeline workloads, end to end
and layer by layer. See perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --workload beam_core --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles graft's sources and
the harness (perfbench/build.sh); later runs reuse the build while the
sources are unchanged. From --seed the run writes a row-permuted copy of
the input tables; graft sees only that copy. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. A fuller record of the run, including the box-speed
canary, goes to perfbench/.out/artifacts/.

    python3 perfbench/run.py --record-refs

re-derives perfbench/refs.json (row counts and content fingerprints of
every pipeline) from the unpermuted input.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
CLASSES = os.path.join(OUT, "classes")
DATA = os.path.join(HERE, "data", "sf0.01")
REFS = os.path.join(HERE, "refs.json")

WORKLOADS = ["beam_core", "curation_sink"]
# A fixed heap and young generation, so collections fall at the same points
# of allocation in every run and the post-collection heap peak repeats.
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn512m"]
# Every run must end within 180 s; the harness gets what is left of it.
RUN_LIMIT_S = 175

END_TO_END = {
    "wall_s": "s", "pipeline_p50_s": "s", "pipeline_p90_s": "s",
    "cpu_s": "s", "peak_heap_mb": "MB", "setup_s": "s",
}
# Per-layer counters the harness reports per traced pass, and their units;
# the ones derived here from several sources follow.
LAYER_UNITS = {
    "sources.schema_jobs": "count", "sources.schema_s": "s",
    "construct.jobs": "count", "loop.jobs": "count", "loop.s": "s",
    "catalyst.plan_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.wait_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "spill_mb": "MB",
    "sink.write_s": "s", "sink.out_mb": "MB", "sink.files": "count",
}
PER_LAYER = dict(LAYER_UNITS, **{
    "construct_s": "s", "construct.first_call_s": "s",
    "sched.core_util": "ratio", "exec.gc_s": "s", "trace.overhead_frac": "ratio",
})
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def call(cmd, timeout, **kw):
    """Runs cmd with its stdout sent to stderr; the child never outlives us."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, **kw)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{cmd[0]} did not finish within {timeout:.0f} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise SystemExit(f"{' '.join(cmd[:2])} exited with code {code}")


def spark_home():
    """SPARK_HOME, or the first Spark distribution on PATH whose jars hold
    the Scala compiler the build uses."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    raise SystemExit("no Spark distribution found: set SPARK_HOME")


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sh")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles graft and the harness unless the last build saw the same sources."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(CLASSES, "STAMP")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    log("building graft and the harness")
    call(["bash", os.path.join(HERE, "build.sh")], timeout=600,
         env=dict(os.environ, SPARK_HOME=spark_home()))
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def make_input(seed):
    """A copy of the input tables with every table's rows permuted by seed."""
    import numpy as np
    import pyarrow.parquet as pq
    d = os.path.join(OUT, "input", f"seed-{seed}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        table = pq.read_table(os.path.join(DATA, f"{t}.parquet"))
        pq.write_table(table.take(rng.permutation(table.num_rows)),
                       os.path.join(d, f"{t}.parquet"))
    open(os.path.join(d, "DONE"), "w").close()
    return d


def harness(workload, input_dir, seed, seconds, trace, timeout):
    """Runs the measuring JVM and returns its raw record."""
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    raw = os.path.join(work, "raw.json")
    cmd = ["java", *JVM_HEAP, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([os.path.join(CLASSES, "harness"),
                                    os.path.join(CLASSES, "graft"),
                                    os.path.join(spark_home(), "jars", "*")]),
            "perfbench.Harness", "--workload", workload, "--input", input_dir,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--sink", os.path.join(work, "sink"), "--out", raw]
    call(cmd, timeout, cwd=work, env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
    with open(raw) as fh:
        return json.load(fh)


def percentile(xs, q):
    """The q-th quantile of xs, interpolated between the nearest ranks."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def check(raw, refs):
    """Counts checked outputs and lists the ones that failed or were wrong:
    every pass's row counts, and the fingerprint pass's content hashes."""
    bad = []
    passes = [raw["first_pass"], *raw["passes"], raw["fingerprint_pass"]]
    samples = [s for p in passes for s in p["samples"]]
    for s in samples:
        ref = refs.get(s["pipeline"], {})
        got = (s["rows"], s["fingerprint"] or ref.get("fingerprint"))
        if s["error"] or got != (ref.get("rows"), ref.get("fingerprint")):
            bad.append(f"{s['pipeline']} (pass {s['pass']}): rows, "
                       f"fingerprint {got} expected {ref} {s['error'] or ''}")
    return len(samples), bad


def end_to_end(raw):
    """Best-of-passes figures. Pass times fall through the timed window as
    the JIT compiles more of Spark, and a busy box only adds time, so the
    fastest pass, and each pipeline's fastest run, repeat best."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    best = {}
    for p in passes:
        for s in p["samples"]:
            if not s["error"]:
                name = s["pipeline"]
                best[name] = min(best.get(name, s["total_s"]), s["total_s"])
    values = {
        "wall_s": min(p["wall_s"] for p in passes),
        "pipeline_p50_s": percentile(best.values(), 0.5),
        "pipeline_p90_s": percentile(best.values(), 0.9),
        "cpu_s": min(p["cpu_s"] for p in passes),
        "peak_heap_mb": max(p["heap_mb"] for p in passes),
        "setup_s": raw["setup_s"],
    }
    return values, {"passes": len(passes), "pipelines": len(best)}


def per_layer(raw):
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    values = {k: statistics.mean(p["layers"][k] for p in traced) for k in LAYER_UNITS}
    values["construct_s"] = statistics.mean(
        sum(s["construct_s"] for s in p["samples"]) for p in traced)
    values["construct.first_call_s"] = sum(s["construct_s"] for s in raw["first_pass"]["samples"])
    values["sched.core_util"] = sum(p["layers"]["exec.task_run_s"] for p in traced) / (
        sum(p["wall_s"] for p in traced) * raw["cores"])
    values["exec.gc_s"] = statistics.mean(p["gc_s"] for p in traced)
    values["trace.overhead_frac"] = statistics.mean(p["wall_s"] for p in traced) / \
        statistics.mean(p["wall_s"] for p in untraced) - 1
    return values, {"traced_passes": len(traced), "untraced_passes": len(untraced)}


def summarize(raw, refs, trace):
    """The result line for a raw record, its detail, and the failures."""
    attempted, bad = check(raw, refs)
    if trace:
        values, detail = per_layer(raw)
        units = PER_LAYER
    else:
        values, detail = end_to_end(raw)
        units = END_TO_END
    result = {"correct": not bad, "attempted": attempted, "failed": len(bad),
              "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
    return result, detail, bad


def record_refs():
    build()
    refs = {}
    for w in WORKLOADS:
        for s in harness(w, DATA, 0, 0, 0, 600)["fingerprint_pass"]["samples"]:
            if s["error"]:
                raise SystemExit(f"{s['pipeline']} failed: {s['error']}")
            refs[s["pipeline"]] = {"rows": s["rows"], "fingerprint": s["fingerprint"]}
    with open(REFS, "w") as fh:
        json.dump(dict(sorted(refs.items())), fh, indent=1)
        fh.write("\n")
    log(f"wrote {len(refs)} references to {os.path.relpath(REFS, ROOT)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-refs", action="store_true")
    a = ap.parse_args()
    start = time.monotonic()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"no graft sources under {ROOT}/src/main/scala")
    if a.record_refs:
        return record_refs()
    if a.workload is None:
        ap.error("--workload is required")
    with open(REFS) as fh:
        refs = json.load(fh)
    build()
    input_dir = make_input(a.seed)
    raw = harness(a.workload, input_dir, a.seed, a.seconds, a.trace,
                  RUN_LIMIT_S - (time.monotonic() - start))
    result, detail, bad = summarize(raw, refs, a.trace)
    for b in bad:
        log(f"FAILED {b}")
    artifact = os.path.join(OUT, "artifacts", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(artifact), exist_ok=True)
    with open(artifact, "w") as fh:
        json.dump(dict(result, detail=detail, failures=bad,
                       raw=raw), fh, indent=1)
    log(f"{a.workload} seed {a.seed}: {detail}; canary {raw['canary_start_s']:.3f} s -> "
        f"{raw['canary_end_s']:.3f} s; artifact {os.path.relpath(artifact, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
