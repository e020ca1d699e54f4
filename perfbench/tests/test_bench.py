"""Tests of the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import re
import sys
import tempfile
import unittest
from pathlib import Path

import numpy as np

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

from bench import checks, gen, metrics  # noqa: E402

ROOT = BENCH.parent

# The engine's per-language stopword rule (t24): a document passes when it
# holds at least two distinct stopwords of its own language.
LANG_STOPS = {"en": {"group", "table", "small", "value"},
              "de": {"customer", "column", "stream", "order"},
              "es": {"batch", "key", "slow", "fast"},
              "fr": {"the", "filter", "scan", "fast"},
              "zh": {"scan", "merge", "slow", "filter"}}


def shingles(text, k=3):
    w = text.split()
    return {tuple(w[i:i + k]) for i in range(len(w) - k + 1)}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            kw = dict(docs=120, vectors=40, copies=3, primes=500)
            gen.generate(a, 7, **kw)
            gen.generate(b, 7, **kw)
            gen.generate(c, 8, **kw)
            files = sorted(str(p.relative_to(a)) for p in Path(a).rglob("*.parquet") if p.is_file())
            self.assertEqual(len(files), 8 + 2 * 3 + 1)
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
            self.assertIn("documents.parquet/part-00000.parquet", differ)
            self.assertIn("candidates.parquet", differ)

    def test_every_copy_keeps_the_base_language_hit_rates(self):
        n, copies = 1500, 5
        base = None
        for k in range(copies):
            texts, langs = gen.documents_copy(3, k, n)
            rates = {}
            for lang, stops in LANG_STOPS.items():
                docs = [set(t.split()) for t, lg in zip(texts, langs) if lg == lang]
                rates[lang] = (sum(len(d & stops) >= 2 for d in docs) / len(docs), len(docs))
            share = {lang: c / n for lang, (_, c) in rates.items()}
            if base is None:
                base = rates, share
                continue
            for lang, (p, cnt) in rates.items():
                p0 = base[0][lang][0]
                se = np.sqrt(p0 * (1 - p0) / cnt + 1e-12)
                self.assertLess(abs(p - p0), 4 * se + 1e-9, (k, lang, p, p0))
                q0 = gen.LANG_P[gen.LANGS.index(lang)]
                self.assertLess(abs(share[lang] - q0), 4 * np.sqrt(q0 * (1 - q0) / n))

    def test_near_duplicates_never_cross_copies(self):
        per_copy, copies = 300, 3
        docs = []
        for k in range(copies):
            texts, _ = gen.documents_copy(5, k, per_copy)
            docs += [(k, shingles(t)) for t in texts]
        within = 0
        for i in range(len(docs)):
            ki, si = docs[i]
            for j in range(i + 1, len(docs)):
                kj, sj = docs[j]
                inter = len(si & sj)
                if inter and inter / len(si | sj) >= 0.5:
                    self.assertEqual(ki, kj, f"near-duplicate pair across copies {i}, {j}")
                    within += 1
        self.assertGreater(within, copies * per_copy * gen.NEAR_DUP_RATE / 2)

    def test_vectors_are_unit_norm_and_keys_never_collide(self):
        a = gen.embeddings_table(1, 0, 50)
        b = gen.embeddings_table(1, 1, 50)
        v = np.array(a.column("embedding").to_pylist())
        self.assertTrue(np.allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-5))
        self.assertFalse(set(a.column("vec_id").to_pylist()) & set(b.column("vec_id").to_pylist()))

    def test_prime_recount(self):
        s, c = checks.primes_in(1_000_000_000, 1000)
        brute = [k for k in range(1_000_000_000, 1_000_001_000)
                 if all(k % d for d in range(2, int(k ** 0.5) + 1))]
        self.assertEqual((s, c), (sum(brute), len(brute)))


def span(i, parent, kind, s, e, name=None):
    return {"id": i, "parent": parent, "kind": kind, "name": name or kind,
            "start_ns": s, "end_ns": e}


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, "exec", 0, 100), span(2, 1, "job", 10, 50),
                 span(3, 1, "job", 40, 70), span(4, 1, "job", 90, 95)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - (60 + 5))
        self.assertEqual(st[2], 40)

    def test_children_sticking_out_are_clipped(self):
        spans = [span(1, 0, "exec", 10, 20), span(2, 1, "job", 5, 15),
                 span(3, 1, "job", 18, 30)]
        self.assertEqual(metrics.self_times(spans)[1], 10 - 5 - 2)

    def test_nested_self_times_add_up_to_the_root(self):
        spans = [span(1, 0, "query", 0, 100), span(2, 1, "build", 0, 30),
                 span(3, 1, "exec", 30, 100), span(4, 3, "job", 40, 90),
                 span(5, 4, "stage", 45, 60), span(6, 4, "stage", 60, 80)]
        st = metrics.self_times(spans)
        self.assertEqual(sum(st.values()), 100)
        self.assertEqual(st[4], 50 - 35)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25), (3, 4)]), 20)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)


def fake_result(pass_times, fail_in=None, kinds=None):
    """A driver result with one query per pass; the query of pass
    `fail_in` fails fast."""
    passes, spans, jobs, stages, execs, sid = [], [], [], [], [], 0
    for i, t in enumerate(pass_times):
        kind = (kinds or ["pass"] * len(pass_times))[i]
        ok = i != fail_in
        ns = int(t * 1e9)
        group = f"q{i}"
        passes.append({"kind": kind, "gc_ms": 5, "codegen_compiles": 0, "codegen_ms": 0.0,
                       "heap_live_mb": 100.0 + i, "queries": [{
                           "name": "x", "group": group, "ok": ok,
                           "error_class": None if ok else "java.lang.IllegalStateException",
                           "error": None if ok else "boom", "build_ns": ns // 4,
                           "exec_ns": ns - ns // 4, "total_ns": ns,
                           "cached_relations": 0, "storage_bytes": 0}]})
        base = i * 10 ** 10
        spans += [span(sid + 1, 0, kind, base, base + ns),
                  span(sid + 2, sid + 1, "query", base, base + ns, group),
                  span(sid + 3, sid + 2, "build", base, base + ns // 4, "x"),
                  span(sid + 4, sid + 2, "exec", base + ns // 4, base + ns, "x")]
        sid += 4
        jobs.append({"id": i, "group": group, "start_ns": base + ns // 2,
                     "end_ns": base + ns, "ok": True})
        stages.append(dict({"id": i, "attempt": 0, "job": i, "start_ns": base + ns // 2,
                            "end_ns": base + ns, "failed": False},
                           **{f: 1 for f in ("tasks", "failed_tasks", "run_ms", "cpu_ns",
                                             "gc_ms", "shuffle_read_bytes",
                                             "shuffle_write_bytes", "fetch_wait_ms",
                                             "spill_mem_bytes", "spill_disk_bytes",
                                             "peak_exec_mem_bytes", "input_bytes",
                                             "input_rows", "task_wall_ms")}))
        execs.append({"query": group, "func": "command", "ok": True, "plan_ms": 3,
                      "exchanges": 2, "reused_exchanges": 0, "scans": 1,
                      "floor_repartitions": 1})
    kernels = {k: 10.0 for k in ("cosineSim", "signLshBandKeys", "nearestCells",
                                 "pqEncodeCodes", "simhashFingerprint", "minhashBandKeys",
                                 "bpeTokenCount", "bpeTokenIds", "normalizeText",
                                 "kllSketchAgg")}
    setup = {"setup_ns": 5 * 10 ** 9, "session_init_ns": 10 ** 9,
             "pass": passes[0], "artifacts": {"files": 1, "bytes": 10}}
    return {"config": {"cores": 4}, "setups": [setup] * 3, "passes": passes,
            "artifacts": {"files": 2, "bytes": 2048}, "spans": spans,
            "probes": {"kernels": kernels, "chunk_skew": 1.1},
            "trace": {"jobs": jobs, "stages": stages, "executions": execs}}


class MetricsTest(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def setUp(self):
        self.spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_benchmark_file_is_well_formed(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        names = [w["name"] for w in s["workloads"]]
        names += [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], self.UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))
        from bench.workloads import WORKLOADS
        self.assertEqual(sorted(WORKLOADS), sorted(w["name"] for w in s["workloads"]))

    def test_printed_metrics_are_exactly_the_declared_ones(self):
        import run
        result = fake_result([2.0, 2.1, 2.2, 2.3], kinds=["pass", "pass", "traced_pass",
                                                        "traced_pass"])
        e2e, attempted, failed, _ = metrics.end_to_end(result, {"x": checks.OK})
        self.assertEqual(sorted(e2e), sorted(m["name"] for m in self.spec["end_to_end"]))
        for m in self.spec["end_to_end"]:
            self.assertGreater(e2e[m["name"]], 0)
        layer = metrics.per_layer(result, input_bytes=1024)
        self.assertEqual(sorted(layer), sorted(m["name"] for m in self.spec["per_layer"]))
        for values, declared in ((e2e, "end_to_end"), (layer, "per_layer")):
            line = json.loads(run.result_line(True, attempted, failed, values, run.units()))
            self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()},
                             {m["name"]: m["unit"] for m in self.spec[declared]})
        self.assertAlmostEqual(layer["trace_overhead_s"], 2.25 - 2.05)
        self.assertEqual(layer["build_jobs"], 0.0)
        self.assertEqual(layer["jobs"], 1.0)


class FailureTest(unittest.TestCase):
    def test_failed_query_lowers_ok_ratio_and_keeps_pass_time(self):
        clean = fake_result([2.0, 2.0, 2.0, 2.0])
        broken = fake_result([2.0, 2.0, 0.1, 2.0], fail_in=2)
        (e_clean, a1, f1, n1) = metrics.end_to_end(clean, {"x": checks.OK})
        (e_broken, a2, f2, n2) = metrics.end_to_end(broken, {"x": checks.OK})
        self.assertEqual((a1, f1, n1), (4, 0, 4))
        self.assertEqual((a2, f2, n2), (4, 1, 3))
        self.assertEqual(e_broken["pass_s"], e_clean["pass_s"])
        self.assertLess(e_broken["ok_ratio"], e_clean["ok_ratio"])

    def test_no_clean_pass_means_no_pass_time_and_no_result(self):
        import run
        r = fake_result([2.0, 2.0, 2.0])
        for p in r["passes"]:
            p["queries"][0]["ok"] = False
        e, attempted, failed, samples = metrics.end_to_end(r, {"x": checks.OK})
        self.assertEqual((attempted, failed, samples), (3, 3, 0))
        self.assertIsNone(e["pass_s"])
        self.assertIsNone(run.result_line(False, attempted, failed, e, run.units()))

    def test_wrong_output_counts_every_execution_as_failed(self):
        r = fake_result([1.0, 1.0, 1.0])
        e, attempted, failed, _ = metrics.end_to_end(
            r, {"x": {"ok": False, "error_class": "OracleMismatch", "error": "value"}})
        self.assertEqual((attempted, failed), (3, 3))
        self.assertEqual(e["ok_ratio"], 0.0)

    def test_a_wrong_warm_output_fails_the_query(self):
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            inputs, outs = os.path.join(d, "in"), os.path.join(d, "out")
            gen.generate(inputs, 1, docs=20, vectors=10)
            for path, ok in (("cold", True), ("warm", False)):
                os.makedirs(os.path.join(outs, path, "x"))
                pd.DataFrame({"recall_ok": [True, ok]}).to_parquet(
                    os.path.join(outs, path, "x", "part-0.parquet"))
            ran = [{"name": "x", "ok": True}]
            v = checks.check_outputs(inputs, outs, ["x"], {}, {"cold": ran, "warm": ran})
            self.assertEqual((v["x"]["ok"], v["x"]["output"], v["x"]["error_class"]),
                             (False, "warm", "ContractViolated"))
            v = checks.check_outputs(inputs, outs, ["x"], {}, {"cold": ran})
            self.assertEqual((v["x"]["ok"], v["x"]["output"]), (True, "cold"))

    def test_contract_columns_are_enforced(self):
        import pandas as pd
        good = pd.DataFrame({"recall_ok": [True, True], "n": [1, 2]})
        bad = pd.DataFrame({"recall_ok": [True, False], "n": [1, 2]})
        self.assertTrue(checks.check_contracts(good)["ok"])
        self.assertEqual(checks.check_contracts(bad)["error_class"], "ContractViolated")
        self.assertEqual(checks.check_contracts(good.iloc[:0])["error_class"], "EmptyOutput")


if __name__ == "__main__":
    os.chdir(ROOT)
    unittest.main()
