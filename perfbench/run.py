#!/usr/bin/env python3
"""Repo benchmark: run one workload of the graft Spark engine and print its
metrics.

    python3 perfbench/run.py --workload dag_backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program's sources
(src/main/scala) together with the benchmark's own client (perfbench/src)
with the Scala compiler shipped in the Spark distribution, into
.bench_build/. Each run generates its inputs from --seed, starts one JVM
with Spark on local[nproc], and prints one JSON object as the last line of
standard output: `correct`, `attempted`, `failed` and `metrics` -- the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = ".bench_build"
# seconds a run may spend after its build; a JVM still running then is
# stopped and the run is reported with what it measured, as failed
DEADLINE_S = 165
DATA = os.path.join(HERE, "data")
# micro-batch workload: batches per pass and documents per batch, cut from
# the committed sf0.1 documents; the other documents are the seed corpus
STREAM_BATCHES, STREAM_BATCH_DOCS = 4, 125
DAG_DATES = 2
# Nominal seconds of one timed pass on local[4]. A run times a fixed number
# of passes, round(--seconds / this), so the work measured does not depend
# on how fast the program or the host happens to be.
PASS_S = {"dag_backfill": 7.0, "stream_ingest": 12.0, "query_frames": 5.0}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    path = os.path.join(root, "build.sbt")
    text = open(path).read() if os.path.exists(path) else ""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no Spark jar directory (unmanagedBase)")
    return m.group(1)


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compile program + client into .bench_build/classes unless the
    sources are unchanged since the last build."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src")) for s in srcs):
        fail("no program sources under src/main/scala; run from the repository root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(root, BUILD, "classes")
    stamp = os.path.join(root, BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    res = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(root), "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def make_inputs(workload, seed, input_dir):
    os.makedirs(input_dir)
    if workload == "dag_backfill":
        meta = gen.dag_inputs(seed, input_dir, DAG_DATES)
    elif workload == "stream_ingest":
        meta = gen.write_stream_inputs(
            seed, os.path.join(DATA, "sf0.1", "documents.parquet"),
            os.path.join(input_dir, "docs.parquet"), STREAM_BATCHES, STREAM_BATCH_DOCS)
    else:
        meta = {"frames": gen.frame_order(seed, metrics.FRAMES),
                "tables": os.path.join(DATA, "sf0.01")}
    with open(os.path.join(input_dir, "meta.json"), "w") as f:
        json.dump(meta, f)


def run_jvm(root, classes, args, work, result, deadline):
    """Run perfbench.Main; returns (peak RSS MB, cpus, finished in time)."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local", "warehouse", "frames"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={work}",
        "-cp", os.pathsep.join([classes, os.path.join(root, "src", "main", "resources"),
                                os.path.join(spark_jars(root), "*")]),
        "perfbench.Main", "--workload", args.workload,
        "--passes", str(max(1, round(args.seconds / PASS_S[args.workload]))),
        "--trace", str(args.trace),
        "--input", os.path.join(work, "input"),
        "--work", work, "--result", result]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log_path = os.path.join(work, "jvm.log")
    # a terminated benchmark takes its JVM (and the JVM's children) with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        pid = 0
        try:
            while not pid and time.time() < deadline:
                time.sleep(0.1)
                pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        finally:
            if not pid:
                os.killpg(proc.pid, signal.SIGKILL)
                _, _, usage = os.wait4(proc.pid, 0)
    if pid and (os.waitstatus_to_exitcode(status) != 0 or not os.path.exists(result)):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("JVM failed")
    return usage.ru_maxrss / 1024.0, cpus, bool(pid)


def phases(progress_path, launched, ended):
    """Where a finished run's wall time went, from its progress lines."""
    with open(progress_path) as f:
        t = {}
        for x in map(json.loads, f):
            t.setdefault(x["k"], x["t_ms"] / 1e3)
    marks = [("jvm+set-up", t["setup_s"]), ("passes", t["checks_start"]),
             ("checks", t["checks_s"]), ("exit", ended)]
    out, last = [], launched
    for name, at in marks:
        out.append(f"{name} {at - last:.1f}")
        last = at
    return ", ".join(out)


def oracle_check(root, tables_dir, dump_dir, frames):
    """{frame: None, or why its dumped result differs from its DuckDB
    oracle}, judged by the repository's correctness gate,
    tools/check_correctness.py, which reads dump_dir/oracle_sql.json and
    dump_dir/<frame>/*.parquet."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_correctness
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        check_correctness.main(tables_dir, dump_dir)
    out = {f: "no oracle SQL" for f in frames}
    for line in report.getvalue().splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? (.*)", line)
        if m and m.group(2) in out:
            out[m.group(2)] = None if m.group(1) == "PASS" else m.group(3)
    return out


def stopped_result(progress_path, units, launched):
    """The result of a run stopped at its deadline, from the progress lines
    the JVM wrote: every timing it finished, and for the one it was in, the
    time it had taken so far -- a lower bound. The operation in flight
    counts as failed."""
    now = time.time() * 1e3
    lines = []
    if os.path.exists(progress_path):
        with open(progress_path) as f:
            lines = [json.loads(x) for x in f if x.endswith("\n")]
    got = {k: [x for x in lines if x["k"] == k]
           for k in ("setup_s", "pass_start", "pass_wall_s", "op_s")}
    ops = [x["v"] for x in got["op_s"]]
    failed = 1 + sum(not x["ok"] for x in got["op_s"])
    since = max([x["t_ms"] for x in lines] or [launched * 1e3])
    setup = got["setup_s"][0]["v"] if got["setup_s"] else (now - launched * 1e3) / 1e3
    if got["pass_wall_s"]:
        wall = metrics.median([x["v"] for x in got["pass_wall_s"]])
    elif got["pass_start"]:
        wall = (now - got["pass_start"][-1]["t_ms"]) / 1e3
    else:
        wall = setup
    values = {"setup_s": setup, "wall_s": wall,
              "op_p50_s": metrics.median(ops + [(now - since) / 1e3])}
    if units is not metrics.END_TO_END:
        values = dict.fromkeys(units, 0.0)
    return {"correct": False, "attempted": len(ops) + 1, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PASS_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    classes = build(root)
    deadline = time.time() + DEADLINE_S
    work = os.path.join(root, BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    make_inputs(args.workload, args.seed, os.path.join(work, "input"))
    input_s = time.time() - t0
    result = os.path.join(work, "result.json")
    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    launched = time.time()
    rss_mb, cpus, finished = run_jvm(root, classes, args, work, result, deadline)
    if not finished:
        shutil.copyfile(os.path.join(work, "jvm.log"),
                        os.path.join(root, BUILD, f"jvm_{args.workload}.log"))
        print(f"perfbench: stopped the JVM at the {DEADLINE_S} s deadline; "
              "timings below are lower bounds")
        print(json.dumps(stopped_result(result + ".progress", units, launched)))
        return
    with open(result) as f:
        raw = json.load(f)
    print("phases (s): " + phases(result + ".progress", launched, time.time()))
    attempted, failures = raw["attempted"], list(raw["failures"])
    failed = raw["failed"]
    if args.workload == "query_frames":
        for name, why in oracle_check(root, os.path.join(DATA, "sf0.01"),
                                      os.path.join(work, "frames"),
                                      metrics.FRAMES).items():
            attempted += 1
            if why is not None:
                failed += 1
                failures.append(f"{name} differs from its DuckDB oracle: {why}")
            else:
                print(f"oracle: {name} matches")

    if args.trace:
        spans, jobs, execs = metrics.load_trace(result + ".trace.jsonl")
        with open(result + ".facts.json") as f:
            facts = json.load(f)
        values = metrics.per_layer(spans, jobs, execs, facts, rss_mb)
        for name, s in sorted(metrics.self_time_by_name(spans).items()):
            print(f"self time {name}: {s:.3f} s")
        trace_out = os.path.join(root, BUILD, f"trace_{args.workload}.jsonl")
        shutil.copyfile(result + ".trace.jsonl", trace_out)
        print(f"spans and Spark records: {trace_out}")
    else:
        values = {"setup_s": metrics.median(raw["setup_s"]),
                  "wall_s": metrics.median(raw["pass_wall_s"]),
                  "op_p50_s": metrics.median(raw["op_s"])}
        for k in ("setup_s", "pass_wall_s", "op_s"):
            print(f"{k}: {json.dumps(metrics.summarize(raw[k]))} "
                  f"samples {[round(x, 3) for x in raw[k]]}")
    print(f"local[{cpus}], input generation {input_s:.2f} s (not in setup_s)")
    for msg in failures[:20]:
        print(f"failure: {msg}")

    shutil.copyfile(os.path.join(work, "jvm.log"),
                    os.path.join(root, BUILD, f"jvm_{args.workload}.log"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
