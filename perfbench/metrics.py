"""Turns the raw samples and trace records the JVM side writes into the
benchmark's named metrics. Pure functions, unit-tested in tests/."""
import json
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

DAG_APPS = ("eia930", "eia7a", "eia814", "openmeteo")
EIA_APPS = ("eia930", "eia7a", "eia814")
# the query_frames workload's frames: one that runs the plans kernels
# (PPJoin prefix filter), then five Catalyst-only, shuffle-heavy ones
FRAMES = ("d29_prefix_filter_pairs", "j4_asof_join", "u4_scd2_history",
          "w4_sessionize", "x15_pricing_summary", "x18_nation_profit")
FRAME_METRICS = {"wall_s": "s", "exec_s": "s", "shuffle_mb": "MB",
                 "codegen_compiles": "count"}

# name -> unit, for every per-layer metric; each traced run prints all of
# them, with 0 for a layer the workload does not exercise
PER_LAYER = {
    "spark.sql_execs": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.planning_s": "s", "spark.codegen_compiles": "count",
    "spark.codegen_compile_s": "s", "spark.job_active_s": "s",
    "spark.driver_gap_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.core_util": "ratio",
    "spark.shuffle_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
    "sources.fetch_s": "s", "sources.pages": "count",
    "sources.parse_build_s": "s",
    "sources.page_rows_scanned_per_fetched": "ratio",
    "pipelines.transform_build_s": "s", "sinks.load_s": "s",
    "sinks.rows_written": "count", "sinks.files_written": "count",
    "sinks.mb_written": "MB", "sinks.jobs_per_table": "count",
    "orchestration.overhead_s": "s", "orchestration.attempts_per_task": "ratio",
    **{f"apps.{a}_s": "s" for a in DAG_APPS},
    "streaming.sql_execs_per_batch": "count",
    "streaming.codegen_compiles_per_batch": "count",
    "streaming.planning_s_per_batch": "s", "streaming.state_files": "count",
    "streaming.state_mb": "MB", "streaming.batch_s_slope": "s",
    "streaming.replay_s": "s",
    "streaming.pairs_s_per_batch": "s", "streaming.write_s_per_batch": "s",
    "streaming.band_index_s_per_batch": "s",
    "queries.build_s": "s", "queries.execute_s": "s",
    **{f"frame.{f}.{k}": u for f in FRAMES for k, u in FRAME_METRICS.items()},
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s", "trace.unaccounted_share": "ratio",
}

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}


# ---- sample statistics ----

def median(xs):
    return statistics.median(xs)


def tail_percentile(n, min_beyond=10):
    """Highest whole percentile with at least `min_beyond` of `n` samples
    strictly above it, or None when there are too few samples."""
    best = None
    for p in range(51, 100):
        if n - n * p / 100 >= min_beyond:
            best = p
    return best


def percentile(xs, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))
    return s[int(k) - 1]


def summarize(xs):
    """Median, the highest percentile with ten samples beyond it, and the
    sample count -- how every timing is reported."""
    out = {"n": len(xs), "p50": median(xs)}
    p = tail_percentile(len(xs))
    if p is not None:
        out[f"p{p}"] = percentile(xs, p)
    return out


def slope(ys):
    """Least-squares slope of ys against their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, sum(ys) / n
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / \
        sum((i - mx) ** 2 for i in range(n))


# ---- spans ----

def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self ms}: a span's duration minus the part of it that its
    child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_ms((max(c["start_ms"], s["start_ms"]),
                            min(c["end_ms"], s["end_ms"]))
                           for c in kids.get(s["id"], [])
                           if c["end_ms"] > s["start_ms"] and c["start_ms"] < s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def self_time_by_name(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e3
    return out


def load_trace(path):
    recs = {"span": [], "job": [], "exec": []}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            recs[r["kind"]].append(r)
    return recs["span"], recs["job"], recs["exec"]


def _dur_s(spans, name):
    return sum(s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name) / 1e3


def per_layer(spans, jobs, execs, facts, peak_rss_mb):
    """Every per-layer metric of one traced pass; `peak_rss_mb` is the
    JVM's peak resident set over the whole run."""
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["id"] == s["op"]]
    timed_ops = [s for s in ops if s["name"] != "streaming.replay"]

    def span_of(rec):
        sid = rec.get("span")
        return by_id.get(int(sid)) if sid not in (None, "") else None

    def ancestor(s, prefix):
        while s is not None:
            if s["name"].startswith(prefix):
                return s
            s = by_id.get(s["parent"])
        return None

    def in_spans(recs, name):
        return [r for r in recs if (span_of(r) or {}).get("name") == name]

    m = dict.fromkeys(PER_LAYER, 0.0)
    job_iv = [(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"] >= 0]
    active_s = union_ms(job_iv) / 1e3
    run_s = sum(j["run_ms"] for j in jobs) / 1e3
    in_ops_active = sum(union_ms((max(a, o["start_ms"]), min(b, o["end_ms"]))
                                 for a, b in job_iv
                                 if b > o["start_ms"] and a < o["end_ms"])
                        for o in timed_ops) / 1e3
    m.update({
        "spark.sql_execs": len(execs),
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.planning_s": sum(e["planning_s"] or 0.0 for e in execs),
        "spark.codegen_compiles": facts["codegen_compiles"],
        "spark.codegen_compile_s": facts["codegen_compile_s"],
        "spark.job_active_s": active_s,
        "spark.driver_gap_s": sum(o["end_ms"] - o["start_ms"] for o in timed_ops) / 1e3
        - in_ops_active,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "spark.core_util": run_s / (active_s * facts["cores"]) if active_s else 0.0,
        "spark.shuffle_mb": sum(j["shuffle_b"] for j in jobs) / 1e6,
        "spark.spill_mb": sum(j["spill_b"] for j in jobs) / 1e6,
        "spark.gc_s": facts["gc_s"],
    })

    if "pages_fetched" in facts:  # dag_backfill
        loads = [s for s in spans if s["name"] == "sinks.load"]
        load_jobs = in_spans(jobs, "sinks.load")
        eia_rows = sum(e["generate_rows"] or 0 for e in execs
                       if (a := ancestor(span_of(e), "apps.")) is not None
                       and a["name"][5:] in EIA_APPS)
        m.update({
            "sources.fetch_s": _dur_s(spans, "sources.fetch"),
            "sources.pages": facts["pages_fetched"],
            "sources.parse_build_s": _dur_s(spans, "sources.parse_build"),
            "sources.page_rows_scanned_per_fetched":
                eia_rows / facts["page_rows_fetched"],
            "pipelines.transform_build_s": _dur_s(spans, "pipelines.transform_build"),
            "sinks.load_s": _dur_s(spans, "sinks.load"),
            "sinks.rows_written": sum(j["out_records"] for j in load_jobs),
            "sinks.files_written": facts["files_written"],
            "sinks.mb_written": facts["bytes_written"] / 1e6,
            "sinks.jobs_per_table": len(load_jobs) / max(1, len(loads)),
            "orchestration.overhead_s": sum(
                (o["end_ms"] - o["start_ms"]) - max(
                    [c["end_ms"] - c["start_ms"] for c in spans
                     if c["parent"] == o["id"]] or [0.0])
                for o in timed_ops) / 1e3,
            "orchestration.attempts_per_task":
                facts["task_attempts"] / max(1, facts["tasks"]),
            **{f"apps.{a}_s": _dur_s(spans, f"apps.{a}") for a in DAG_APPS},
        })

    if "state_files" in facts:  # stream_ingest
        batches = [s for s in spans if s["name"] == "streaming.batch"]
        n = max(1, len(batches))
        batch_ids = {b["id"] for b in batches}
        batch_execs = [e for e in execs if (span_of(e) or {}).get("op") in batch_ids]

        def per_batch_s(name):
            return sum(s["end_ms"] - s["start_ms"] for s in spans
                       if s["name"] == name and s["op"] in batch_ids) / 1e3 / n
        m.update({
            "streaming.sql_execs_per_batch": len(batch_execs) / n,
            "streaming.codegen_compiles_per_batch":
                sum(b["codegen"] for b in batches) / n,
            "streaming.planning_s_per_batch":
                sum(e["planning_s"] or 0.0 for e in batch_execs) / n,
            "streaming.state_files": facts["state_files"],
            "streaming.state_mb": facts["state_bytes"] / 1e6,
            "streaming.batch_s_slope": slope(
                [(b["end_ms"] - b["start_ms"]) / 1e3
                 for b in sorted(batches, key=lambda b: b["start_ms"])]),
            "streaming.replay_s": facts["replay_s"],
            "streaming.pairs_s_per_batch": per_batch_s("streaming.pairs"),
            "streaming.write_s_per_batch": per_batch_s("streaming.write"),
            "streaming.band_index_s_per_batch": per_batch_s("streaming.band_index"),
        })

    if "frames" in facts:  # query_frames
        m["queries.build_s"] = _dur_s(spans, "queries.build")
        m["queries.execute_s"] = _dur_s(spans, "queries.execute")
        for o in ops:
            f = o["name"][len("frame."):]
            if f not in FRAMES:
                continue
            mine = [j for j in jobs if (span_of(j) or {}).get("op") == o["id"]]
            m.update({
                f"frame.{f}.wall_s": (o["end_ms"] - o["start_ms"]) / 1e3,
                f"frame.{f}.exec_s": sum(c["end_ms"] - c["start_ms"] for c in spans
                                         if c["parent"] == o["id"]
                                         and c["name"] == "queries.execute") / 1e3,
                f"frame.{f}.shuffle_mb": sum(j["shuffle_b"] for j in mine) / 1e6,
                f"frame.{f}.codegen_compiles": o["codegen"],
            })

    m["jvm.peak_rss_mb"] = peak_rss_mb
    m["trace.overhead_s"] = facts["traced_wall_s"] - median(facts["untraced_wall_s"])
    # the share of an operation's wall that no child (layer) span covers:
    # time the trace does not attribute to any layer
    st = self_times(spans)
    m["trace.unaccounted_share"] = max(
        (st[o["id"]] / (o["end_ms"] - o["start_ms"]) for o in timed_ops
         if o["end_ms"] > o["start_ms"]), default=0.0)
    return m
