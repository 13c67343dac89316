"""Unit tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402


def span(i, parent, start, end, name="s", op=0):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end,
            "name": name, "op": op, "codegen": 0, "gc_ms": 0}


class StatsTest(unittest.TestCase):
    def test_median_and_nearest_rank_percentile(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(metrics.median(xs), 3.0)
        self.assertEqual(metrics.median([1.0, 2.0, 3.0, 10.0]), 2.5)
        self.assertEqual(metrics.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(metrics.percentile(list(range(1, 101)), 99), 99)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(4))
        self.assertIsNone(metrics.tail_percentile(20))
        self.assertEqual(metrics.tail_percentile(30), 66)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_summarize_reports_sample_count(self):
        s = metrics.summarize([2.0, 1.0, 3.0])
        self.assertEqual(s, {"n": 3, "p50": 2.0})
        s = metrics.summarize([float(x) for x in range(100)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p90"], 89.0)

    def test_slope(self):
        self.assertAlmostEqual(metrics.slope([1.0, 1.5, 2.0, 2.5]), 0.5)
        self.assertEqual(metrics.slope([3.0]), 0.0)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        spans = [span(1, 0, 0, 100),
                 # two parallel children overlapping on [20, 40]
                 span(2, 1, 10, 40), span(3, 1, 20, 60),
                 # grandchild: counts against its parent only
                 span(4, 2, 15, 35)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 30 - 20)
        self.assertEqual(st[3], 40)
        self.assertEqual(st[4], 20)

    def test_child_outside_parent_is_clipped(self):
        st = metrics.self_times([span(1, 0, 0, 10), span(2, 1, 5, 30)])
        self.assertEqual(st[1], 5)

    def test_self_time_by_name_sums_seconds(self):
        spans = [span(1, 0, 0, 1000, "a"), span(2, 1, 0, 400, "b"),
                 span(3, 0, 2000, 2500, "a")]
        self.assertEqual(metrics.self_time_by_name(spans),
                         {"a": 1.1, "b": 0.4})

    def test_per_layer_reports_every_metric(self):
        spans = [span(1, 0, 0, 1000, "streaming.batch", op=1),
                 span(2, 0, 1000, 2500, "streaming.batch", op=2),
                 span(3, 1, 0, 900, "streaming.pairs", op=1),
                 span(4, 2, 1000, 2200, "streaming.pairs", op=2)]
        jobs = [{"id": 0, "span": "1", "exec": "7", "start_ms": 100,
                 "end_ms": 600, "stages": 2, "tasks": 4, "run_ms": 800,
                 "cpu_ns": 5e8, "shuffle_b": 2e6, "spill_b": 0,
                 "out_records": 10, "out_bytes": 100}]
        execs = [{"id": 7, "span": "1", "planning_s": 0.2, "generate_rows": 0}]
        facts = {"codegen_compiles": 3, "codegen_compile_s": 0.1, "gc_s": 0.05,
                 "cores": 4, "untraced_wall_s": [2.4, 2.6],
                 "traced_wall_s": 2.6,
                 "state_files": 9, "state_bytes": 3e6,
                 "replay_s": 0.9}
        m = metrics.per_layer(spans, jobs, execs, facts, 1500.0)
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertAlmostEqual(m["spark.job_active_s"], 0.5)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 2.0)
        self.assertAlmostEqual(m["spark.core_util"], 0.8 / (0.5 * 4))
        self.assertAlmostEqual(m["streaming.sql_execs_per_batch"], 0.5)
        self.assertAlmostEqual(m["streaming.batch_s_slope"], 0.5)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.1)
        self.assertAlmostEqual(m["streaming.pairs_s_per_batch"], 1.05)
        # op 2 leaves 300 of its 1500 ms outside its child span
        self.assertAlmostEqual(m["trace.unaccounted_share"], 0.2)
        self.assertEqual(m["sources.fetch_s"], 0.0)

    def test_per_layer_per_frame(self):
        f = metrics.FRAMES[0]
        spans = [span(1, 0, 0, 1000, f"frame.{f}", op=1),
                 span(2, 1, 0, 200, "queries.build", op=1),
                 span(3, 1, 200, 1000, "queries.execute", op=1)]
        jobs = [{"id": 0, "span": "3", "exec": "7", "start_ms": 300,
                 "end_ms": 900, "stages": 2, "tasks": 4, "run_ms": 800,
                 "cpu_ns": 5e8, "shuffle_b": 2e6, "spill_b": 0,
                 "out_records": 0, "out_bytes": 0}]
        facts = {"codegen_compiles": 0, "codegen_compile_s": 0.0, "gc_s": 0.0,
                 "cores": 4, "untraced_wall_s": [1.0, 1.0],
                 "traced_wall_s": 1.0, "frames": [f]}
        m = metrics.per_layer(spans, jobs, [], facts, 1.0)
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertAlmostEqual(m[f"frame.{f}.wall_s"], 1.0)
        self.assertAlmostEqual(m[f"frame.{f}.exec_s"], 0.8)
        self.assertAlmostEqual(m[f"frame.{f}.shuffle_mb"], 2.0)
        self.assertAlmostEqual(m["queries.build_s"], 0.2)
        self.assertAlmostEqual(m["trace.unaccounted_share"], 0.0)


class GeneratorTest(unittest.TestCase):
    def test_dag_inputs_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            ma, mb = gen.dag_inputs(3, a, 1), gen.dag_inputs(3, b, 1)
            self.assertEqual(ma, mb)
            cmp = filecmp.dircmp(a, b)
            self.assertEqual(sorted(cmp.left_list), sorted(cmp.right_list))

            def same_tree(d):
                if d.diff_files or d.left_only or d.right_only:
                    return False
                return all(same_tree(s) for s in d.subdirs.values())
            self.assertTrue(same_tree(cmp))
            self.assertNotEqual(gen.dag_inputs(4, c, 1)["expected"], ma["expected"])

    def test_dag_inputs_cover_every_sink_table_per_date(self):
        with tempfile.TemporaryDirectory() as d:
            meta = gen.dag_inputs(5, d, 2)
            self.assertEqual(len(meta["dates"]), 2)
            self.assertIn(meta["rerun_date"], meta["dates"])
            for date in meta["dates"]:
                self.assertEqual(sorted(meta["expected"][date]), sorted(gen.DAG_TABLES))
                self.assertTrue(all(v > 0 for v in meta["expected"][date].values()))
            # reference sizes: 5,000-row pages, 150 coordinates x 24 h
            with open(os.path.join(d, meta["dates"][0], "eia930", "fuel",
                                   "page0.json")) as f:
                self.assertEqual(len(json.load(f)["response"]["data"]), gen.PAGE_ROWS)
            locs = os.listdir(os.path.join(d, meta["dates"][0], "openmeteo"))
            self.assertEqual(sum(x.endswith(".json") for x in locs), 150)

    def test_stream_split_is_a_function_of_the_seed(self):
        ids = list(range(100, 170))
        a = gen.stream_split(1, ids, 2, 10)
        self.assertEqual(a, gen.stream_split(1, list(reversed(ids)), 2, 10))
        self.assertNotEqual(a, gen.stream_split(2, ids, 2, 10))
        self.assertEqual(sorted(a), ids)
        self.assertEqual(sum(b == -1 for b in a.values()), 50)
        self.assertEqual([sum(b == k for b in a.values()) for k in (0, 1)], [10, 10])

    def test_stream_inputs_are_the_committed_documents(self):
        import pyarrow.parquet as pq
        src = os.path.join(HERE, "..", "data", "sf0.1", "documents.parquet")
        with tempfile.TemporaryDirectory() as d:
            out = [os.path.join(d, f"{i}.parquet") for i in range(3)]
            meta = gen.write_stream_inputs(7, src, out[0], 4, 125)
            self.assertEqual(meta, gen.write_stream_inputs(7, src, out[1], 4, 125))
            self.assertTrue(filecmp.cmp(out[0], out[1], shallow=False))
            gen.write_stream_inputs(8, src, out[2], 4, 125)
            self.assertFalse(filecmp.cmp(out[0], out[2], shallow=False))
            t = pq.read_table(out[0]).to_pydict()
            want = pq.read_table(src, columns=["doc_id", "text"]).to_pydict()
            self.assertEqual(dict(zip(t["doc_id"], t["text"])),
                             dict(zip(want["doc_id"], want["text"])))
            self.assertEqual(t["batch"].count(-1), meta["corpus_docs"])
            self.assertIn(meta["replay_batch"], range(4))

    def test_frame_order_is_a_seeded_permutation(self):
        order = gen.frame_order(3, metrics.FRAMES)
        self.assertEqual(order, gen.frame_order(3, metrics.FRAMES))
        self.assertEqual(sorted(order), sorted(metrics.FRAMES))
        self.assertTrue(any(gen.frame_order(s, metrics.FRAMES) != order for s in range(4, 8)))


class OracleTest(unittest.TestCase):
    def test_oracle_check_reads_the_correctness_gate_per_frame(self):
        import duckdb
        import run
        root = os.path.join(HERE, "..", "..")
        with tempfile.TemporaryDirectory() as tables, tempfile.TemporaryDirectory() as dump:
            con = duckdb.connect()
            con.execute("CREATE TABLE r AS SELECT * FROM (VALUES (1, 'a'), (2, 'b')) v(k, s)")
            con.execute(f"COPY r TO '{tables}/region.parquet' (FORMAT PARQUET)")
            for name, where in (("good", ""), ("bad", "WHERE k = 1")):
                os.makedirs(os.path.join(dump, name))
                con.execute(f"COPY (SELECT * FROM r {where}) TO "
                            f"'{dump}/{name}/part-0.parquet' (FORMAT PARQUET)")
            with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
                json.dump({"good": "SELECT * FROM region",
                           "bad": "SELECT * FROM region"}, f)
            got = run.oracle_check(root, tables, dump, ["good", "bad", "none"])
        self.assertIsNone(got["good"])
        self.assertIn("rows 1 != 2", got["bad"])
        self.assertEqual(got["none"], "no oracle SQL")


class DeadlineTest(unittest.TestCase):
    def test_stopped_run_reports_lower_bounds_as_failed(self):
        import time
        import run
        now_ms = time.time() * 1e3
        lines = [{"k": "setup_s", "v": 20.0, "ok": True, "t_ms": now_ms - 9000},
                 {"k": "pass_start", "v": 0, "ok": True, "t_ms": now_ms - 9000},
                 {"k": "op_s", "v": 5.0, "ok": True, "t_ms": now_ms - 4000}]
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "progress")
            with open(path, "w") as f:
                f.writelines(json.dumps(x) + "\n" for x in lines)
            r = run.stopped_result(path, metrics.END_TO_END, time.time() - 30)
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (2, 1))
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertEqual(set(m), set(metrics.END_TO_END))
        self.assertEqual(m["setup_s"], 20.0)
        self.assertGreaterEqual(m["wall_s"], 9.0)  # the unfinished pass so far
        self.assertGreaterEqual(m["op_p50_s"], 4.5)  # 5.0 and the op in flight


class NamesTest(unittest.TestCase):
    def test_metric_names_and_units_are_well_formed(self):
        unit_ok = __import__("re").compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        for table in (metrics.END_TO_END, metrics.PER_LAYER):
            for name, unit in table.items():
                self.assertRegex(name, metrics.NAME_RE)
                self.assertRegex(unit, unit_ok)

    def test_benchmark_json_lists_what_run_py_prints(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         metrics.PER_LAYER)
        names = [w["name"] for w in bench["workloads"]] + \
            [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)


if __name__ == "__main__":
    unittest.main()
