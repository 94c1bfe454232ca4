#!/usr/bin/env python3
"""The benchmark's own tests: generator determinism, the percentile rule,
and that the output names every metric of BENCHMARK.json with its unit.

Run from the root of a checkout: python3 perfbench/test_perfbench.py
"""
import gzip
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_sdf  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


def read_dir(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def tmpdir(test):
    d = tempfile.mkdtemp()
    test.addCleanup(shutil.rmtree, d)
    return d


class GeneratorTest(unittest.TestCase):
    def gen(self, seed):
        d = tmpdir(self)
        gen_sdf.generate(seed, d, n_files=3, per_file=200)
        return d, read_dir(d)

    def test_same_seed_same_bytes(self):
        _, a = self.gen(7)
        _, b = self.gen(7)
        self.assertEqual(a, b)

    def test_other_seed_other_bytes(self):
        _, a = self.gen(7)
        _, b = self.gen(8)
        self.assertEqual(a.keys(), b.keys())
        self.assertNotEqual(a, b)

    def test_layout_and_expected_values(self):
        d, files = self.gen(3)
        exp = json.loads(files["expected.json"])
        rows = [l.split("\t") for l in files["expected.tsv"].decode().splitlines()]
        kept = {int(r[0]): r for r in rows}
        aa = none = 0
        for f in exp["files"]:
            text = gzip.decompress(files[f["name"]]).decode()
            chunks = [c for c in text.split("$$$$") if c.strip()]
            with_cid = [c for c in chunks if "> <PUBCHEM_COMPOUND_CID>" in c]
            self.assertEqual(len(chunks) - len(with_cid), f["no_cid_chunks"])
            self.assertEqual(len(with_cid), f["generated"])
            cids = [int(re.search(r"<PUBCHEM_COMPOUND_CID>\n(\d+)", c).group(1)) for c in with_cid]
            self.assertEqual(cids, list(range(f["lowest_cid"], f["highest_cid"] + 1)))
            self.assertEqual(len(text.encode()), f["sdf_bytes"])
            for cid, c in zip(cids, with_cid):
                complete = all(f"> <{t}>" in c for t in gen_sdf.DROPPABLE_TAGS)
                self.assertEqual(complete, cid in kept, cid)
                self.assertEqual(cid in f["dropped_cids"], not complete)
                if cid in kept:
                    self.assertIn(f"> <PUBCHEM_IUPAC_INCHIKEY>\n{kept[cid][1]}\n", c)
                    aa += "> <PUBCHEM_XLOGP3_AA>" in c
                    none += "<PUBCHEM_XLOGP3" not in c
                    self.assertEqual(kept[cid][2] == "", "<PUBCHEM_XLOGP3" not in c)
            self.assertEqual(f["kept"], f["generated"] - len(f["dropped_cids"]))
        self.assertGreater(aa, 0)
        self.assertGreater(none, 0)
        self.assertGreater(sum(len(f["dropped_cids"]) for f in exp["files"]), 0)

    def test_tables_are_fixed(self):
        a, b = tmpdir(self), tmpdir(self)
        gen_tables.generate(a, 0.01)
        gen_tables.generate(b, 0.01)
        self.assertEqual(read_dir(a), read_dir(b))


class PercentileRuleTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(run.percentile(list(range(1, 100)), 0.9))
        self.assertEqual(run.percentile(list(range(1, 101)), 0.9), 90)
        self.assertIsNone(run.percentile(list(range(1, 50)), 0.8))
        self.assertEqual(run.percentile(list(range(1, 51)), 0.8), 40)
        self.assertIsNone(run.percentile([], 0.5, min_beyond=0))

    def test_report_gives_counts_beside_percentiles(self):
        raw = fake_raw("sdf_warehouse", n=60)
        rep = run.workload_report(raw)
        self.assertEqual(rep["lookup_pk_p50_ms"][2], 60)
        self.assertNotIn("lookup_pk_p90_ms", rep)
        rep = run.workload_report(fake_raw("sdf_warehouse", n=120))
        self.assertEqual(rep["lookup_pk_p90_ms"][2], 120)


def fake_raw(workload, n=100, failed=0):
    xs = [100.0 + i for i in range(n)]
    prim = run.PRIMARY[workload]
    return {"workload": workload, "seed": 1, "traced": False, "attempted": n + 5, "failed": failed,
            "failures": [],
            "samples": {"setup_s": [1.0, 1.2, 1.1], "pass_s": [sum(xs) / 1e3], prim: xs,
                        "lookup_inchikey_ms": xs[:10], "sql_scan_ms": xs[:5]},
            "values": {"passes": 1,
                       "heap_retained_mb": 80.0}}


class OutputTest(unittest.TestCase):
    spec = run.load_spec(ROOT)

    def test_benchmark_json_shape(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(name.match(n) for n in names))
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertEqual(tuple(w["name"] for w in s["workloads"]), run.WORKLOADS)
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16 and 1 <= len(s["per_layer"]) <= 128)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25 and unit.match(m["unit"]))
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertTrue(unit.match(m["unit"]))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_end_to_end_names_every_metric_with_unit(self):
        for w in run.WORKLOADS:
            line = run.result_line(fake_raw(w), self.spec, traced=False)
            self.assertTrue(line["correct"])
            self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()},
                             {m["name"]: m["unit"] for m in self.spec["end_to_end"]})
            self.assertTrue(all(v["value"] > 0 for v in line["metrics"].values()))

    def test_missing_metric_or_failure_is_not_correct(self):
        line = run.result_line(fake_raw("sdf_warehouse", n=40), self.spec, traced=False)
        self.assertNotIn("op_p80_ms", line["metrics"])
        self.assertFalse(line["correct"])
        self.assertFalse(run.result_line(fake_raw("sdf_warehouse", failed=1), self.spec, False)["correct"])

    def test_traced_output_names_every_per_layer_metric(self):
        layers_src = open(os.path.join(HERE, "src/main/scala/perfbench/Layers.scala")).read()
        suite_src = open(os.path.join(HERE, "src/main/scala/perfbench/Suite.scala")).read()
        modules = re.findall(r'"(\w+)" -> graft\.', suite_src)
        self.assertEqual(len(modules), 11)
        produced = set(re.findall(r'"([A-Za-z]+\.[A-Za-z0-9_]+|ops_failed_frac)" ->', layers_src))
        produced |= {f"{m}.{k}" for m in modules for k in ("steady_s", "cold_minus_steady_s", "exec_cpu_s")}
        produced |= {f"self.{l}_s" for l in re.search(r'for \(layer <- Seq\(([^)]*)\)', layers_src)
                     .group(1).replace('"', "").replace(" ", "").split(",")}
        produced |= set(re.findall(r'm\("([A-Za-z0-9_.]+)"\) =', layers_src))
        produced |= {f"trace.overhead_{n}_frac" for n in ("pass_s", "op_p50_ms")}
        self.assertEqual(produced, {m["name"] for m in self.spec["per_layer"]})
        raw = fake_raw("sdf_warehouse")
        raw["values"]["layers"] = {m["name"]: 1.0 for m in self.spec["per_layer"]
                                   if not m["name"].startswith("trace.")}
        line = run.result_line(raw, self.spec, traced=True, untraced=fake_raw("sdf_warehouse"))
        self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()},
                         {m["name"]: m["unit"] for m in self.spec["per_layer"]})


class UntracedReuseTest(unittest.TestCase):
    def write(self, d, name, **raw):
        with open(os.path.join(d, name), "w") as f:
            json.dump(raw, f)

    def test_reuses_only_same_build_and_inputs(self):
        d = tmpdir(self)
        self.write(d, "sdf_warehouse-seed1-untraced.json", stamp="old", inputs="sdf-seed1")
        self.write(d, "sdf_warehouse-seed2-untraced.json", stamp="new", inputs="sdf-seed2")
        self.assertIsNone(run.comparable_untraced(d, "sdf_warehouse", "new", "/x/sdf-seed1"))
        self.write(d, "sdf_warehouse-seed1-untraced.json", stamp="new", inputs="sdf-seed1", seed=1)
        self.assertEqual(run.comparable_untraced(d, "sdf_warehouse", "new", "/x/sdf-seed1")["seed"], 1)
        self.assertIsNone(run.comparable_untraced(d, "analytics_suite", "new", "/x/sdf-seed1"))


if __name__ == "__main__":
    unittest.main()
