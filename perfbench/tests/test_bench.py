"""Tests of the benchmark's own code. Run: python3 -m unittest discover perfbench/tests"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import kgen  # noqa: E402
import run  # noqa: E402
from stats import check_name, check_unit, median  # noqa: E402


class Median(unittest.TestCase):
    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            median([])


class MetricNames(unittest.TestCase):
    def test_grammar(self):
        for ok in ["setup_s", "spark.jobs.g08_graph_components", "a" * 64, "9x"]:
            check_name(ok)
        for bad in ["_x", ".x", "a b", "a" * 65, "", "x/y"]:
            with self.assertRaises(ValueError):
                check_name(bad)
        for ok in ["ms", "s", "1/s", "count", "%", "MB"]:
            check_unit(ok)
        with self.assertRaises(ValueError):
            check_unit("a b")

    def test_every_printed_metric_is_declared(self):
        decl = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        e2e = {m["name"]: m["unit"] for m in decl["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in decl["per_layer"]}
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layer, run.per_layer_units())
        self.assertEqual({w["name"] for w in decl["workloads"]} - set(run.CONFIG), set())
        for name, unit in list(e2e.items()) + list(layer.items()):
            check_name(name), check_unit(unit)


class GeneratorDeterminism(unittest.TestCase):
    def _gen(self, seed, d):
        exp, names = kgen.kg_inputs(seed, 300, 20, d / "f.json", d / "i.csv")
        return exp, names, (d / "f.json").read_bytes(), (d / "i.csv").read_bytes()

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            first, second = self._gen(7, Path(a)), self._gen(7, Path(b))
            self.assertEqual(first, second)
            self.assertNotEqual(first[2:], self._gen(8, Path(b))[2:])
        reqs = kgen.chat_requests(7, first[1], 3)
        self.assertEqual(reqs, kgen.chat_requests(7, first[1], 3))
        self.assertEqual(len(reqs[0]), 3 * kgen.BLOCK)

    def test_inputs_cover_the_parse_paths(self):
        with tempfile.TemporaryDirectory() as d:
            exp, _, fac, csv = self._gen(3, Path(d))
        text = csv.decode("utf-8")
        for needle in ["\nA,,,,", "Laut FES", "Fachhandel / Herstelle\n",
                       "Restmülltonne", ",-,", "\"", "\n   ,"]:
            self.assertIn(needle, text.replace("\r", ""), needle)
        self.assertIn(b'"name": ""', fac)
        self.assertEqual(exp["nodes"], sum(exp["labels"].values()))


def _etl_ops(expected, planted=None):
    stats = {"labels": expected["labels"], "nodes": expected["nodes"],
             "edges": expected["edges"]}
    ops = [
        {"name": "import_facilities", "result": expected["facilities"]},
        {"name": "import_waste_items",
         "result": {k: expected[k] for k in ("items", "streams", "edges")}},
        {"name": "stats", "result": stats},
        {"name": "restats", "result": stats},
        {"name": "validate_unique",
         "result": [[k, v, v, True] for k, v in expected["labels"].items()]},
    ]
    for op in ops:
        op.update(error=None, **{"pass": 0})
    if planted is not None:
        ops[planted]["result"] = 1
    return {"ops": ops}


class PlantedWrongAnswer(unittest.TestCase):
    expected = {"facilities": 3, "items": 5, "streams": 2, "edges": 7, "nodes": 10,
                "labels": {"Facility": 3, "WasteItem": 5, "WasteStream": 2}}

    def test_etl_checks_pass_then_fail(self):
        o = _etl_ops(self.expected)
        run.check_ops("kg_etl_chat", o, {"expected": self.expected}, None)
        self.assertEqual(run.failed_ops(o), [])
        for i in range(5):
            o = _etl_ops(self.expected, planted=i)
            run.check_ops("kg_etl_chat", o, {"expected": self.expected}, None)
            self.assertEqual(len(run.failed_ops(o)), 1, o["ops"][i]["name"])

    def test_chat_oracle_catches_a_wrong_read(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            con.sql(f"""COPY (SELECT * FROM (VALUES ('WasteItem', 'u1', 'Asche'),
                ('WasteStream', 's1', 'Biotonne')) t(label, uid, name))
                TO '{d}/nodes' (FORMAT PARQUET, PARTITION_BY (label))""")
            con.sql(f"""COPY (SELECT * FROM (VALUES ('u1', 's1', 'DISPOSED_IN'))
                t(src_uid, dst_uid, rel_type))
                TO '{d}/edges' (FORMAT PARQUET, PARTITION_BY (rel_type))""")
            oracle = checks.ChatOracle(d)
            right = {"name": "lookup", "params": {"name": "Asche"},
                     "result": [["u1", "DISPOSED_IN", "Biotonne"]]}
            self.assertIsNone(oracle.check(right))
            wrong = dict(right, result=[["u1", "DISPOSED_AT", "Biotonne"]])
            self.assertIsNotNone(oracle.check(wrong))
            # a write is visible to the next lookup, and gone after reopening
            oracle.check({"name": "merge_item", "params": {"name": "Neu", "uid": "n1"}})
            oracle.check({"name": "merge_disposed_in", "params": {
                "item_name": "Neu", "stream_name": "Biotonne", "stream_uid": "s1"}})
            found = {"name": "lookup", "params": {"name": "Neu"},
                     "result": [["n1", "DISPOSED_IN", "Biotonne"]]}
            self.assertIsNone(oracle.check(found))
            oracle.check({"name": "open", "params": None})
            self.assertIsNotNone(oracle.check(found))


if __name__ == "__main__":
    unittest.main()
