"""The repository benchmark. One command per workload run:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed into a scratch root of its own, runs the
workload in one fresh JVM (one client thread, local[4]), checks every output,
prints each metric by name with its unit, and prints as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 (a separate, traced run)
they are the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("lake_queries", "corpus_curation", "catalogue_ingest", "event_stream",
             "corpus_refresh")
JVM_TIMEOUT_S = 150
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn768m"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(classpath, workload, root, seed, seconds, trace):
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Class-data sharing: the first run in a checkout records the classes it
    # loads into an archive; later runs map it instead of loading ~10k
    # classes from 280 jars (cold set-up 12 s -> 5 s on a 4-core box).
    archive = build.cds_archive()
    dump = None if os.path.exists(archive) else f"{archive}.{os.getpid()}.tmp"
    cds = [f"-XX:ArchiveClassesAtExit={dump}"] if dump else [f"-XX:SharedArchiveFile={archive}"]
    cmd = ["java", *cds, *HEAP, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}", "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", workload, root, str(seed),
            str(seconds), "1" if trace else "0"]
    env = dict(os.environ, SPARK_GRAFT_REPLAY_CKPT=os.path.join(root, "replay-ckpt"))
    with open(os.path.join(root, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=root)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(root, "jvm.log")) as fh:
            tail = fh.read()[-4000:]
        sys.exit(f"benchmark JVM failed ({rc}):\n{tail}")
    if dump and os.path.exists(dump):
        os.replace(dump, archive)
    with open(os.path.join(root, "result.json")) as fh:
        return json.load(fh)


# The operations whose latencies the end-to-end op_p50_s/op_tail_s report:
# a query, every call of corpus_curation (its queries alone are too few for
# a steady median), a catalogue day, or a stream file batch.
PRIMARY = {"lake_queries": ("query",), "corpus_refresh": ("query",),
           "corpus_curation": ("query", "operator", "function", "export"),
           "catalogue_ingest": ("day",), "event_stream": ("batch",)}


def end_to_end(workload, root, result, verdict):
    """The end-to-end metrics (every workload reports every one) plus the
    workload's own named views of them, for the printed report."""
    ops = result["ops"]
    prim = [o for o in ops if o["kind"] in PRIMARY[workload]]
    lat = [o["wall_s"] for o in prim]
    tail, pct, n = stats.tail(lat)
    wall = sum(o["wall_s"] for o in ops)
    if workload in ("lake_queries", "corpus_curation", "corpus_refresh"):
        units = sum(1 for o in ops if o["kind"] == "query" and verdict[o["key"]] is None)
        unit_name, unit_wall = "queries_per_s", wall
    elif workload == "catalogue_ingest":
        with open(os.path.join(root, "inputs", "expect_ingest.json")) as fh:
            exp = json.load(fh)
        units = sum(exp["days"][int(o["key"][1:])]["pages"] for o in prim
                    if verdict[o["key"]] is None)
        unit_name, unit_wall = "pages_per_s", sum(lat)
    else:
        units = layers.landed_events(root, [o["key"] for o in prim if verdict[o["key"]] is None])
        unit_name, unit_wall = "events_per_s", sum(lat)
    # op_tail_s is printed, not part of the gated set: with the 3-16
    # operations a run affords, the rule's percentile is at or below the
    # median (or, under 11 samples, the single slowest operation)
    m = {
        "setup_s": (statistics.median(result["setup_s"]), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "throughput_per_s": (units / unit_wall, "1/s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    named = {"op_tail_s": (tail, f"s (p{pct:.0f}, n={n})"), unit_name: m["throughput_per_s"]}

    def timing(name, kind):
        t = [o["wall_s"] for o in ops if o["kind"] == kind]
        if t:
            v, p, k = stats.tail(t)
            named[f"{name}_p50_s"] = (statistics.median(t), "s")
            named[f"{name}_tail_s"] = (v, f"s (p{p:.0f}, n={k})")
    timing("query", "query")
    timing("query", "read")
    timing("ingest", "day")
    timing("batch", "batch")
    return m, named


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classpath = build.build()
    root = os.path.join(REPO, ".bench_runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        gen.generate(a.workload, a.seed, os.path.join(root, "inputs"))
        if a.workload.startswith("corpus_"):
            shutil.copytree(os.path.join(root, "inputs", "corpus_v1"), os.path.join(root, "corpus"))
        result = run_jvm(classpath, a.workload, root, a.seed, a.seconds, a.trace == 1)
        import check
        verdict = check.check_run(a.workload, root, result,
                                  os.path.join(REPO, ".bench_cache", "oracle"))
        failed = sorted(k for k, v in verdict.items() if v is not None)
        attempted = len(verdict)
        for k in failed:
            print(f"[wrong] {k}: {verdict[k]}")
        e2e, named = end_to_end(a.workload, root, result, verdict)
        print(f"workload {a.workload} seed {a.seed}: {attempted} operations, "
              f"{len(failed)} failed or wrong")
        print(f"  error_rate = {len(failed) / attempted:.4f} ratio")
        for k, (v, u) in {**e2e, **named}.items():
            print(f"  {k} = {v:.6g} {u}")
        if a.trace:
            metrics = layers.per_layer(root, result)
            for k, (v, u) in metrics.items():
                print(f"  {k} = {v:.6g} {u}")
        else:
            metrics = e2e
        print(json.dumps({
            "correct": not failed, "attempted": attempted, "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
