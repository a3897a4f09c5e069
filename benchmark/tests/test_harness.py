"""Tests of the benchmark harness (generators, statistics, gates, metric
definitions). Run from the repository root:

    python3 -m unittest discover -s benchmark/tests
"""
import gzip
import json
import math
import sys
import tempfile
import unittest
from pathlib import Path

import pandas as pd

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

from harness import gates, gen, metrics, stats  # noqa: E402
from run import tree_digest  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.d = Path(self.tmp.name)

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_gives_byte_identical_inputs(self):
        for rep in ("a", "b"):
            gen.gen_ingest(5, self.d / rep / "ingest", 3, 50, 4, 20)
            gen.gen_lake(5, self.d / rep / "lake", 300, 40)
            gen.gen_tables(5, self.d / rep / "tables", 0.05)
        for part in ("ingest", "lake", "tables"):
            self.assertEqual(tree_digest(self.d / "a" / part), tree_digest(self.d / "b" / part), part)

    def test_same_seed_gives_the_same_op_sequence_and_another_seed_does_not(self):
        _, ops1 = gen.gen_lake(9, self.d / "x", 300, 60)
        _, ops2 = gen.gen_lake(9, self.d / "y", 300, 60)
        _, ops3 = gen.gen_lake(10, self.d / "z", 300, 60)
        self.assertEqual(ops1, ops2)
        self.assertNotEqual(ops1, ops3)
        # the kinds follow the fixed cycle for every seed
        self.assertEqual([o["kind"] for o in ops1], [o["kind"] for o in ops3])
        self.assertEqual([o["kind"] for o in ops1], (gen.CYCLE * 9)[:60])

    def test_envelopes_are_two_level_json_with_every_field(self):
        seq, data, src, sid = gen.ingest_rows(3, 5, 0)[2]
        env = json.loads(data)
        self.assertEqual(len(seq), gen.SEQ_WIDTH)
        for k in ("m", "epoch", "ip", "time", "ua", "params", "headers", "host", "srv",
                  "uri", "refer", "body"):
            self.assertIn(k, env)
        body = json.loads(env["body"])
        self.assertEqual(body["args"]["utm_source"], src)
        self.assertIn("%3D%3D", body["headers"]["Cookie"])
        self.assertTrue(sid.endswith("/s") and "==" in sid)


class StatsTest(unittest.TestCase):
    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(99)), 90))
        self.assertEqual(stats.tail_percentile(list(range(1, 101)), 90), 90)
        self.assertIsNone(stats.tail_percentile(list(range(50)), 90))

    def test_open_loop_latency_counts_from_the_due_time(self):
        # requests due every 100 ms; a 1 s stall delays the sends of the
        # first three, and all commit together once the stall clears
        expected = {"drain_last_seq": gen.seq_str(30),
                    "paced": [{"last_seq": gen.seq_str(40 + i)} for i in range(3)]}
        drain = [{"batch": b, "rows": 10, "start_ms": 1000 * b,
                  "durations": {"triggerExecution": 500}, "end_seq": gen.seq_str(10 * (b + 1))}
                 for b in range(3)]
        paced = [{"batch": 3, "rows": 3, "start_ms": 10_000,
                  "durations": {"triggerExecution": 100}, "end_seq": gen.seq_str(42)}]
        jvm = {"triggers": drain + paced,
               "generator": [{"due_ms": 9000 + 100 * i, "appended_ms": 10_000} for i in range(3)]}
        _, lat, _ = metrics.ingest_core(jvm, expected)
        self.assertEqual(lat, [1.1, 1.0, 0.9])  # not 0.1 each, as from the send time
        self.assertEqual(stats.due_time_latencies([0, 100], [150, 150]), [150, 50])

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.iqr_share([10.0] * 9 + [10.0]), 0.0)
        self.assertGreater(stats.iqr_share([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 0.5)


class CanonTest(unittest.TestCase):
    def test_negative_zero_nan_and_column_order(self):
        a = pd.DataFrame({"x": [0.0, float("nan"), 1.5], "y": ["a", "b", "c"]})
        b = pd.DataFrame({"y": ["c", "b", "a"], "x": [1.5, float("nan"), -0.0]})
        self.assertIsNone(gates.compare(a, b))
        self.assertEqual(gates.canon(-0.0), gates.canon(0.0))
        self.assertEqual(gates.canon(math.nan), "NaN")

    def test_values_and_row_counts_differ(self):
        a = pd.DataFrame({"x": [1.0, 2.0]})
        self.assertIn("values differ", gates.compare(a, pd.DataFrame({"x": [1.0, 2.5]})))
        self.assertIn("rows", gates.compare(a, pd.DataFrame({"x": [1.0]})))
        self.assertIn("columns", gates.compare(a, pd.DataFrame({"z": [1.0, 2.0]})))


class IngestGateTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = Path(self.tmp.name)
        self.expected = gen.gen_ingest(4, d / "in", 2, 30, 3, 10)
        rows = gen.ingest_rows(4, self.expected["rows"], 0)
        self.lines = [f"{s} {data}" for s, data, _, _ in rows]
        self.jvm = {"spot": {"utm_source_counts": self.expected["utm_source_counts"],
                             "rows": self.expected["spot_rows"],
                             "sid_crc_sum": self.expected["sid_crc_sum"]},
                    "stats_final": json.dumps({"meters": {"events.ingested": {
                        "total": self.expected["rows"]}}})}
        self.out = d / "out" / "year=2024" / "month=03" / "day=04"
        self.out.mkdir(parents=True)

    def tearDown(self):
        self.tmp.cleanup()

    def sink(self, lines):
        with gzip.open(self.out / "part-0.txt.gz", "wt") as f:
            f.write("\n".join(lines) + "\n")
        return gates.sink_lines(self.out.parent.parent.parent)

    def test_intact_output_passes(self):
        self.assertEqual(gates.check_ingest(self.expected, self.jvm, self.sink(self.lines)), [])

    def test_dropped_row_trips(self):
        self.assertTrue(gates.check_ingest(self.expected, self.jvm, self.sink(self.lines[1:])))

    def test_duplicated_sequence_number_trips(self):
        lines = self.lines[:-1] + [self.lines[0]]
        fails = gates.check_ingest(self.expected, self.jvm, self.sink(lines))
        self.assertTrue(any("duplicated" in f for f in fails), fails)

    def test_wrong_stats_count_trips(self):
        self.jvm["stats_final"] = json.dumps({"meters": {"events.ingested": {"total": 1}}})
        self.assertTrue(gates.check_ingest(self.expected, self.jvm, self.sink(self.lines)))


class LakeGateTest(unittest.TestCase):
    """A faithful replay built from the model itself passes; corrupting
    one observation at a time must trip the gate."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.seed, self.ops = gen.gen_lake(2, Path(self.tmp.name), 200, 40)
        self.kinds = sorted(set(gen.CYCLE))
        model = gates.LakeModel(self.seed)
        self.jvm = {"seed": {"version": 0, "fp": model.fp()}, "warm": [], "ops": []}
        versions, at = [0], {0: model.fp()}
        for i, op in enumerate(self.ops):
            if i == len(gen.CYCLE):  # the measured ops run on a table of their own
                model = gates.LakeModel(self.seed)
                versions, at = [0], {0: model.fp()}
            rec = {"i": i, "kind": op["kind"], "read_version": -1}
            if op["kind"] in ("upsert", "mor_upsert"):
                model.upsert(op["rows"])
            elif op["kind"] == "mor_delete":
                model.delete(op["keys"])
            if op["kind"] in gates.WRITES:
                versions.append(versions[-1] + 1)
                at[versions[-1]] = model.fp()
                rec.update(version=versions[-1], fp=model.fp())
            elif op["kind"] == "lookup":
                row = model.rows.get(op["key"])
                rec["result"] = [list(row)] if row else []
            elif op["kind"] == "scan":
                rec["result"] = model.fp()
            else:
                rec["read_version"] = versions[max(0, len(versions) - 1 - op["back"])]
                rec["result"] = at[rec["read_version"]]
            self.jvm["warm" if i < len(gen.CYCLE) else "ops"].append(rec)
        self.jvm["final_fp"] = model.fp()
        self.at = at

    def tearDown(self):
        self.tmp.cleanup()

    def test_faithful_replay_passes(self):
        self.assertEqual(gates.check_lake(self.seed, self.ops, self.jvm, self.kinds), [])

    def test_stale_lookup_trips(self):
        rec = next(r for r in self.jvm["ops"] if r["kind"] == "lookup" and r["result"])
        rec["result"] = [[rec["result"][0][0], rec["result"][0][1] + 1] + rec["result"][0][2:]]
        self.assertTrue(gates.check_lake(self.seed, self.ops, self.jvm, self.kinds))

    def test_dropped_row_trips(self):
        rec = next(r for r in self.jvm["ops"] if r["kind"] == "upsert")
        rec["fp"] = [rec["fp"][0] - 1] + rec["fp"][1:]
        self.assertTrue(gates.check_lake(self.seed, self.ops, self.jvm, self.kinds))

    def test_wrong_time_travel_trips(self):
        rec = next(r for r in self.jvm["ops"] if r["kind"] == "read_version")
        rec["read_version"] = 10_000
        self.assertTrue(gates.check_lake(self.seed, self.ops, self.jvm, self.kinds))

    def test_stale_time_travel_read_trips(self):
        # returns the version before the one it asked for
        rec = next(r for r in self.jvm["ops"] if r["kind"] == "read_version"
                   and r["read_version"] > 0 and self.at[r["read_version"] - 1] != r["result"])
        rec["result"] = self.at[rec["read_version"] - 1]
        self.assertTrue(gates.check_lake(self.seed, self.ops, self.jvm, self.kinds))

    def test_a_kind_that_never_ran_trips(self):
        # a measured loop cut short after the first upsert
        self.jvm["ops"] = self.jvm["ops"][:2]
        self.jvm["final_fp"] = self.jvm["ops"][0]["fp"]
        fails = gates.check_lake(self.seed, self.ops, self.jvm, self.kinds)
        self.assertEqual(fails, ["the measured loop never ran: compact, mor_delete, mor_upsert, "
                                 "read_version, scan"])


class MetricSpecTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metric_definitions(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], ["ingest", "lake_rw", "query_mix"])

    def test_names_are_valid_and_unique(self):
        names = [m[0] for m in metrics.END_TO_END] + [m[0] for m in metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.NAME.fullmatch(n), n)

    def test_render_emits_exactly_the_listed_metrics_as_numbers(self):
        out = metrics.render({"setup_s": 1.5, "throughput_per_s": 3, "latency_p50_s": 0.2}, False)
        self.assertEqual(list(out), [m[0] for m in metrics.END_TO_END])
        self.assertEqual(out["throughput_per_s"], {"value": 3, "unit": "1/s"})
        with self.assertRaises(ValueError):
            metrics.render({"setup_s": float("nan")}, False)

    def test_lake_takes_each_write_kind_at_its_best_over_the_cycles(self):
        walls = {"upsert": [2.0, 1.6], "mor_delete": [1.2, 1.5], "mor_upsert": [3.0, 2.0],
                 "compact": [0.1, 0.1], "lookup": [0.1, 0.1]}
        jvm = {"session_s": 1.0, "setup_s": [2.0, 4.0], "warm_s": 5.0,
               "ops": [{"kind": k, "wall_s": w} for k, ws in walls.items() for w in ws]}
        out = metrics.end_to_end("lake_rw", jvm, {"gen_s": [0.5, 0.7]})
        self.assertAlmostEqual(out["throughput_per_s"], 3 / (1.6 + 1.2 + 2.0))
        self.assertAlmostEqual(out["latency_p50_s"], (1.6 * 1.2 * 2.0) ** (1 / 3))
        self.assertAlmostEqual(out["setup_s"], 1.0 + 0.6 + 3.0 + 5.0)


if __name__ == "__main__":
    unittest.main()
