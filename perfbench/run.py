#!/usr/bin/env python3
"""Run one benchmark workload against the program and print its result.

    python3 perfbench/run.py --workload recrawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
JVM harness (`perfbench/build.sbt`); later runs reuse the build while no
source changed. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json, or its per-layer metrics with `--trace 1`). A traced run
also keeps its spans under `perfbench/out/traces/`. A run whose JVM fails or
whose outputs fail a check keeps its run directory and names it on stderr.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import gen_tables  # noqa: E402
import webs  # noqa: E402

# Input sizes, shared by the JVM harness and the checks.
SIZES = {"zipf-hosts": 1000, "zipf-top": 2000, "zipf-links": 8,
         "rounds": 5}
# One or two queries per family of SparkEntry.queries; the whole suite
# does not fit the time a run may take (see README.md).
QUERIES = ["q01_agg_pricing", "q04_anti_join", "q07_events_hourly",
           "q12_lsh_pairs", "q13_jaccard_pairs", "q44_dup_spans",
           "q20_lang_id", "q24_bpe_tokens", "q30_ann_brute", "q31_ann_ivf",
           "q46_asof_join", "q53_pagerank", "q62_seq_packing", "q70_bm25",
           "q40_mm_features"]
WORKLOADS = ("recrawl", "queries")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """$SPARK_HOME, else the first Spark installation on the PATH: a
    `spark-submit` with a `jars` directory beside its `bin`."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = Path(d).resolve().parent
        if (Path(d) / "spark-submit").exists() and (home / "jars").is_dir():
            return home
    fail("Spark not found: set SPARK_HOME")


def build():
    """Compile the program's sources with the harness; skipped while the
    sources hash to the last build's stamp."""
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    srcs += sorted((BENCH / "src").rglob("*.scala"))
    srcs += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = BENCH / "target" / "perfbench.stamp"
    classes = BENCH / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and \
            (classes / "perfbench" / "Main.class").exists():
        return classes
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=str(spark_home()))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=800)
    if r.returncode != 0:
        fail("build failed")
    stamp.write_text(h.hexdigest())
    return classes


def memory_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def run_jvm(classes, run_dir, args):
    mem = memory_mb()
    heap = max(1024, min(mem // 4, 8192))
    off_heap = max(512, min(mem // 8, 4096))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), f"-Xmx{heap}m", "-XX:+UseParallelGC", *opens,
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           # deep call sites: a job is attributed by its outer program frames
           "-Dspark.callstack.depth=100",
           f"-Dlog4j.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", f"{classes}:{spark_home() / 'jars'}/*", "perfbench.Main",
           "--out", str(run_dir), "--cpus", str(os.cpu_count() or 1),
           "--offheap-mb", str(off_heap), *args]
    (run_dir / "tmp").mkdir(parents=True)
    env = dict(os.environ, MALLOC_ARENA_MAX="4")
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, env=env,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        fail(f"JVM exited with {code}")
    return json.loads((run_dir / "result.json").read_text())


def verify(workload, seed, res, run_dir, tables):
    c = res["check"]
    if workload == "recrawl":
        web = webs.ZipfWeb(seed, SIZES["zipf-hosts"], SIZES["zipf-top"],
                           SIZES["zipf-links"])
        sim = checks.read_trace(run_dir / "trace_sim.tsv")
        bad = checks.check_rounds(
            res, web, checks.read_trace(run_dir / "trace_engine.tsv"), sim)
        if "store" in c:
            bad += checks.check_resumed(
                checks.read_trace(run_dir / "trace_durable.tsv"), sim,
                c["durable_rounds"])
            bad += checks.check_store(c["store"], c["frontier_rows"])
        return bad
    return checks.check_queries(tables, c["results"], c["oracle"],
                                skip=set(c["failed_queries"]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}; "
             "run from the root of a checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build()

    t_setup = time.time()
    run_dir = BENCH / "out" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    bad = ["run did not finish"]
    try:
        tables = run_dir / "tables"
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        args += [x for k, v in SIZES.items() for x in (f"--{k}", str(v))]
        if a.workload == "queries":
            gen_tables.write(tables, a.seed)
            args += ["--tables", str(tables), "--queries", ",".join(QUERIES)]
        res = run_jvm(classes, run_dir, args)
        bad = verify(a.workload, a.seed, res, run_dir, tables)
        for b in bad:
            print(f"perfbench: check failed: {b}", file=sys.stderr)
        if a.trace:
            keep = BENCH / "out" / "traces"
            keep.mkdir(parents=True, exist_ok=True)
            for f in ("spans.jsonl", "callsites.tsv"):
                shutil.copy(run_dir / f, keep / f"{a.workload}-seed{a.seed}.{f}")
    finally:
        if bad:
            print(f"perfbench: run directory kept: {run_dir}", file=sys.stderr)
        else:
            shutil.rmtree(run_dir, ignore_errors=True)

    measured = dict(res["e2e"], setup_s=res["first_call_ms"] / 1000.0 - t_setup)
    measured.update(res["layer"])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(measured.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": not bad, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
