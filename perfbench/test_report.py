"""Self-tests of the benchmark's arithmetic and declarations (no Spark).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import re
import unittest

import report

HERE = os.path.dirname(os.path.abspath(__file__))


def span(id, parent, op, name, t0, t1):
    return {"id": id, "parent": parent, "op": op, "name": name, "t0": t0, "t1": t1}


def op(id, kind, ms, traced=False, docs=100, ok=True, cpu_ms=None, **parts):
    return {"id": id, "kind": kind, "ms": ms, "cpu_ms": 3 * ms if cpu_ms is None else cpu_ms,
            "docs": docs, "traced": traced, "ok": ok, "parts": parts}


def record(workload, ops, trace=False, spans=(), spark=None, jobs=(), counts=None,
           setup=(1.0, 2.0, 3.0)):
    return {"workload": workload, "trace": trace, "ops": list(ops), "spans": list(spans),
            "spark": spark or {}, "jobs": list(jobs), "counts": counts or {},
            "setup_s": list(setup), "setup_cpu_s": [3 * x for x in setup],
            "failures": [], "unattributed_failures": 0}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(report.tail(range(10)))
        # 11 samples: only the lowest has ten above it
        self.assertEqual(report.tail(range(11)), (0, 100.0 * 1 / 11))

    def test_p90_at_one_hundred_samples(self):
        value, pct = report.tail(range(1, 101))
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_order_of_input_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 0, 10, 11]
        self.assertEqual(report.tail(xs), report.tail(sorted(xs)))


class SelfTime(unittest.TestCase):
    def test_union_merges_and_clips(self):
        self.assertEqual(report.union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(report.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(report.union_length([], 0, 10), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [span(0, -1, 0, "root", 0, 100),
                 span(1, 0, 0, "a", 10, 30),
                 span(2, 0, 0, "b", 20, 50),   # overlaps a: union 10..50
                 span(3, 1, 0, "leaf", 12, 18)]
        st = report.self_times(spans)
        self.assertEqual(st[0], 60)
        self.assertEqual(st[1], 14)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 6)

    def test_per_layer_uses_self_time(self):
        ops = [op(0, "term", 50, traced=True)]
        spans = [span(0, -1, 0, "term", 0, 50),
                 span(1, 0, 0, "query.parse", 0, 5),
                 span(2, 0, 0, "exec.plan", 5, 20),
                 span(3, 0, 0, "exec.collect", 20, 50)]
        pl = report.per_layer(record("search", ops, trace=True, spans=spans))
        self.assertEqual(pl["query.parse_ms"], 5)
        self.assertEqual(pl["exec.plan_ms"], 15)
        self.assertEqual(pl["exec.collect_ms"], 30)

    def test_driver_time_is_op_time_outside_jobs(self):
        ops = [op(0, "term", 100, traced=True)]
        spans = [span(0, -1, 0, "term", 0, 100), span(1, 0, 0, "exec.collect", 40, 100)]
        jobs = [[1, 50, 70], [1, 60, 90]]
        pl = report.per_layer(record("search", ops, trace=True, spans=spans, jobs=jobs))
        self.assertEqual(pl["spark.driver_ms"], 60)


class Overhead(unittest.TestCase):
    def test_traced_rounds_against_warm_untraced_rounds(self):
        ops = [op(0, "visible", 900, round=0),               # cold, left out
               op(1, "visible", 110, traced=True, round=1),
               op(2, "visible", 100, round=2)]
        pl = report.per_layer(record("ingest", ops, trace=True))
        self.assertAlmostEqual(pl["trace.overhead_frac"], 0.1)


class EndToEnd(unittest.TestCase):
    def test_untraced_unit_ops_only_in_cpu_time(self):
        ops = [op(0, "term", 10, cpu_ms=40), op(1, "or", 30, cpu_ms=80),
               op(2, "and", 20, cpu_ms=60), op(3, "term", 1000, traced=True),
               op(4, "build", 2000, docs=4000), op(5, "load", 500)]
        e = report.end_to_end(record("search", ops, setup=(5.0, 1.0, 2.0)))
        self.assertEqual(e["op_cpu_ms"], 60)
        self.assertEqual(e["setup_s"], 6.0)   # median CPU seconds of set-up

    def test_wall_time_is_per_layer(self):
        ops = [op(0, "visible", 10), op(1, "visible", 30), op(2, "visible", 20, traced=True)]
        pl = report.per_layer(record("ingest", ops, trace=True, setup=(5.0, 1.0, 2.0)))
        self.assertEqual(pl["op_p50_ms"], 20)
        self.assertEqual(pl["docs_per_s"], 300 / 0.06)
        self.assertEqual(pl["setup_wall_s"], 2.0)

    def test_pipeline_throughput_counts_complete_passes(self):
        kinds = report.PIPELINE_KINDS
        ops = [op(i, k, 100, docs=550, round=0) for i, k in enumerate(kinds)]
        ops.append(op(99, kinds[0], 100, docs=550, round=1))  # cut short
        pl = report.per_layer(record("pipelines", ops, trace=True))
        self.assertAlmostEqual(pl["docs_per_s"], 550 / (0.1 * len(kinds)))

    def test_pipeline_unit_is_a_complete_pass(self):
        kinds = report.PIPELINE_KINDS
        ops = [op(i, k, 100, cpu_ms=10 * (i + 1), round=0) for i, k in enumerate(kinds)]
        ops += [op(50 + i, k, 100, cpu_ms=20, round=1) for i, k in enumerate(kinds)]
        ops.append(op(99, kinds[0], 100, cpu_ms=5000, round=2))  # cut short
        e = report.end_to_end(record("pipelines", ops))
        first = sum(10 * (i + 1) for i in range(len(kinds)))
        self.assertEqual(e["op_cpu_ms"], (first + 20 * len(kinds)) / 2)

    def test_failures_are_counted(self):
        rec = record("ingest", [op(0, "visible", 10, ok=False), op(1, "visible", 10)])
        rec["unattributed_failures"] = 1
        self.assertEqual(report.attempted_failed(rec), (2, 2))
        self.assertFalse(report.result_line(rec, report.load_spec())["correct"])


class Declarations(unittest.TestCase):
    spec = report.load_spec()

    def test_spec_limits(self):
        names = [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in self.spec["end_to_end"]))
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]),
                         sorted(report.UNIT_KINDS))

    def test_every_printed_name_is_declared(self):
        e2e = {m["name"] for m in self.spec["end_to_end"]}
        pl = {m["name"] for m in self.spec["per_layer"]}
        ops = [op(0, "term", 10), op(1, "term", 12, traced=True), op(2, "build", 100)]
        self.assertEqual(set(report.end_to_end(record("search", ops))), e2e)
        self.assertEqual(set(report.per_layer(record("search", ops, trace=True))), pl)
        line = report.result_line(record("search", ops, trace=True), self.spec)
        self.assertEqual(set(line["metrics"]), pl)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})

    def test_client_span_names_are_declared(self):
        """Every span the JVM client opens feeds a declared per-layer metric."""
        pl = {m["name"] for m in self.spec["per_layer"]}
        src = os.path.join(HERE, "src", "main", "scala", "graftbench")
        names = set()
        for f in os.listdir(src):
            with open(os.path.join(src, f)) as fh:
                names |= set(re.findall(r'span\("([a-z_.]+)"\)', fh.read()))
        names |= {"ops." + k for k in report.PIPELINE_KINDS}  # span(s"ops.$kind")
        self.assertTrue(names)
        for n in names:
            self.assertTrue({n + "_ms", n + "_s"} & pl, n)


if __name__ == "__main__":
    unittest.main()
