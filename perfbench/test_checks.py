"""Each output check accepts a right output and rejects a perturbed one.

    python3 perfbench/test_checks.py
"""
import copy
import json
import os
import sys
import tempfile
import unittest

import duckdb
import networkx as nx
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

SMALL_STORE = dict(gen.STORE, n=60, new_pairs=5, present_pairs=5, batch_pairs=3)


class StoreCheck(unittest.TestCase):
    """The store check against outputs built from the model itself."""

    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.TemporaryDirectory()
        cls.model = gen.store_schedule(cls.dir.name, 7, SMALL_STORE)
        cls.expected = json.load(open(f"{cls.dir.name}/expected.json"))
        names = {"upsert": "store.upsert", "query": "bfs.query", "batch": "bfs.batch",
                 "stats": "store.stats", "compact": "store.compact"}
        ops = open(f"{cls.dir.name}/schedule.txt").read().split()
        kinds = [w for w in ops if w in names]
        cls.spans = []
        for kind, want in zip(kinds, cls.expected["ops"]):
            attrs = {k: v for k, v in want.items() if k in ("version", "wave", "waves")}
            if "stats" in want:
                attrs.update(stats=want["stats"], entries=want["stats"][1])
            cls.spans.append({"name": names[kind], "attrs": attrs})

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def frame(self, attr):
        return pd.DataFrame([(s, d, w) for (s, d), w in attr.items()], columns=["src", "dst", "w"])

    def run_check(self, spans=None, final=None, old=None):
        return checks.store(
            [spans or self.spans, self.spans], self.expected,
            final if final is not None else self.frame(self.model.attr),
            old if old is not None else self.frame(self.model.history[self.expected["old_version"]]),
            self.model)

    def perturbed(self, name, key, f):
        spans = copy.deepcopy(self.spans)
        sp = next(s for s in spans if s["name"] == name)
        sp["attrs"][key] = f(sp["attrs"][key])
        return spans

    def test_right_outputs_pass(self):
        self.assertEqual(self.run_check(), [])

    def test_wrong_query_wave(self):
        self.assertTrue(self.run_check(self.perturbed("bfs.query", "wave", lambda w: w + 1)))

    def test_failed_call_is_not_checked(self):
        spans = self.perturbed("bfs.query", "wave", lambda w: w + 1)
        next(s for s in spans if s["name"] == "bfs.query")["failed"] = True
        self.assertEqual(self.run_check(spans), [])

    def test_wrong_batch_wave(self):
        self.assertTrue(self.run_check(self.perturbed("bfs.batch", "waves", lambda w: [-1] + w[1:])))

    def test_wrong_stats_and_entries(self):
        self.assertTrue(self.run_check(self.perturbed("store.stats", "entries", lambda n: n - 1)))
        self.assertTrue(self.run_check(self.perturbed(
            "store.stats", "stats", lambda s: [s[0] + 1] + s[1:])))

    def test_wrong_upsert_version(self):
        self.assertTrue(self.run_check(self.perturbed("store.upsert", "version", lambda v: v + 1)))

    def test_asymmetric_query(self):
        # both directions equally wrong still differ from the model; a
        # one-sided error also breaks the symmetry check
        spans = self.perturbed("bfs.query", "wave", lambda w: w + 1)
        self.assertTrue(any("query(a, b)" in e for e in self.run_check(spans)))

    def test_clobbered_attribute(self):
        final = self.frame(self.model.attr)
        final.loc[0, "w"] = 999
        self.assertTrue(self.run_check(final=final))

    def test_duplicate_or_missing_edge(self):
        final = self.frame(self.model.attr)
        self.assertTrue(self.run_check(final=pd.concat([final, final.head(1)])))
        self.assertTrue(self.run_check(final=final.iloc[1:]))

    def test_time_travel_read(self):
        old = self.frame(self.model.history[self.expected["old_version"]])
        self.assertTrue(self.run_check(old=old.iloc[1:]))
        self.assertTrue(self.run_check(old=self.frame(self.model.attr)))


class TableChecks(unittest.TestCase):

    def setUp(self):
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE t AS SELECT range AS id, range * 0.5 AS v FROM range(10)")
        self.sql = "SELECT id, v FROM t WHERE id % 2 = 0"

    def test_oracle(self):
        got = self.con.execute(self.sql).df()
        self.assertEqual(checks.oracle(self.con, "k", got, self.sql), [])
        self.assertTrue(checks.oracle(self.con, "k", got.iloc[1:], self.sql))
        changed = got.copy()
        changed.loc[0, "v"] = 0.25
        self.assertTrue(checks.oracle(self.con, "k", changed, self.sql))
        self.assertTrue(checks.oracle(self.con, "k", got.rename(columns={"v": "w"}), self.sql))

    def test_pairs_ordered(self):
        pairs = pd.DataFrame({"doc_a": [1, 2], "doc_b": [3, 4]})
        self.assertEqual(checks.pairs_ordered("k", pairs, [1, 2, 3, 4]), [])
        self.assertTrue(checks.pairs_ordered("k", pairs[["doc_b", "doc_a"]].set_axis(
            ["doc_a", "doc_b"], axis=1), [1, 2, 3, 4]))
        self.assertTrue(checks.pairs_ordered("k", pairs, [1, 2, 3]))
        self.assertTrue(checks.pairs_ordered("k", pd.concat([pairs, pairs]), [1, 2, 3, 4]))

    def test_clusters(self):
        pairs = pd.DataFrame({"doc_a": [1, 2], "doc_b": [2, 3]})
        good = pd.DataFrame({"doc_id": [1, 2, 3, 4], "cluster_id": [1, 1, 1, 4],
                             "is_survivor": [True, False, False, True]})
        self.assertEqual(checks.clusters_are_components(good, pairs, [1, 2, 3, 4]), [])
        split = good.assign(cluster_id=[1, 1, 3, 4])
        self.assertTrue(checks.clusters_are_components(split, pairs, [1, 2, 3, 4]))
        survivor = good.assign(is_survivor=[True, True, False, True])
        self.assertTrue(checks.clusters_are_components(survivor, pairs, [1, 2, 3, 4]))
        self.assertTrue(checks.clusters_are_components(good.iloc[:3], pairs, [1, 2, 3, 4]))

    def test_split_sizes(self):
        split = pd.DataFrame({"doc_id": [1, 2, 3], "split": ["train", "val", "train"]})
        self.assertEqual(checks.split_sizes(split, 3), [])
        self.assertTrue(checks.split_sizes(split.iloc[1:], 3))
        self.assertTrue(checks.split_sizes(pd.concat([split, split.iloc[:1]]), 3))


class GeneralGraphChecks(unittest.TestCase):

    def setUp(self):
        g = nx.connected_watts_strogatz_graph(40, 6, 0.1, seed=3)
        pairs = list(g.edges())
        self.edges = pd.DataFrame(gen.edge_rows(pairs, [1] * len(pairs)))[["src", "dst"]]
        self.g = g

    def test_ktruss(self):
        h = nx.k_truss(self.g, 4)
        good = pd.DataFrame([(min(u, v), max(u, v), len(set(h[u]) & set(h[v])))
                             for u, v in h.edges()], columns=["a", "b", "support"])
        self.assertEqual(checks.ktruss(good, self.edges, 4), [])
        self.assertTrue(checks.ktruss(good.iloc[1:], self.edges, 4))
        self.assertTrue(checks.ktruss(good.assign(support=good["support"] + 1), self.edges, 4))

    def test_kcore(self):
        # brand B, 5 parts per size 0..7: each part links to the parts of
        # sizes 1 and 2 away, so its degree is 5 * (number of such sizes)
        part = pd.DataFrame({"p_partkey": range(40), "p_brand": ["B"] * 40,
                             "p_size": [i % 8 for i in range(40)]})
        deg = lambda s: 5 * sum(0 <= s + d < 8 for d in (-2, -1, 1, 2))
        good = pd.DataFrame({"node": range(40), "core_degree": [deg(i % 8) for i in range(40)]})
        self.assertEqual(checks.kcore(good, part, 5), [])
        self.assertTrue(checks.kcore(good.iloc[1:], part, 5))
        self.assertTrue(checks.kcore(good.assign(core_degree=good["core_degree"] + 1), part, 5))

    def test_walks(self):
        seeds = [0, 10, 20]
        rows = []
        for s in seeds:
            u = s
            rows.append((s, 0, u))
            for t in range(1, 4):
                nb = sorted(self.g[u])
                u = nb[((u % 2147483647) * 1103515245 + t * 12345) % 2147483647 % len(nb)]
                rows.append((s, t, u))
        good = pd.DataFrame(rows, columns=["seed", "step", "node"])
        self.assertEqual(checks.walks(good, self.edges, seeds, 3), [])
        bad = good.copy()
        bad.loc[len(bad) - 1, "node"] = -1
        self.assertTrue(checks.walks(bad, self.edges, seeds, 3))

    def test_betweenness(self):
        b = nx.betweenness_centrality(self.g, normalized=False)
        good = pd.DataFrame({"node": list(b), "btw": [round(v, 6) for v in b.values()]})
        self.assertEqual(checks.betweenness(good, self.edges), [])
        self.assertTrue(checks.betweenness(good.assign(btw=good["btw"] * 2 + 1), self.edges))
        self.assertTrue(checks.betweenness(good.iloc[1:], self.edges))


class Generator(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.store_schedule(a, 5, SMALL_STORE)
            gen.store_schedule(b, 5, SMALL_STORE)
            self.assertEqual(open(f"{a}/schedule.txt").read(), open(f"{b}/schedule.txt").read())
            self.assertTrue(pq.read_table(f"{a}/base.parquet").equals(pq.read_table(f"{b}/base.parquet")))


if __name__ == "__main__":
    unittest.main()
