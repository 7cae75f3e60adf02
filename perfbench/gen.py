"""Seeded inputs for the three workloads.

Everything the program reads is written here, from the seed alone:
the TPC-H-ish tables plus documents/embeddings/events that the shipped
keys consume, and for the store workload a random graph, its upsert
deltas and a fixed operation schedule. The same seed gives the same
files. The benchmark's own reference model of the edge store
(`StoreModel`) lives here too, because the schedule's query pairs are
picked from it.
"""
import json
import os
from collections import deque
from decimal import ROUND_HALF_UP, Decimal

import networkx as nx
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale of the table workloads. The tables mirror the shipped generator's
# sf0.01 shape (lineitem ~60k rows): at this size every call is
# dominated by scheduling, so a pass is short enough to repeat inside one
# run, and the DuckDB oracles finish in seconds.
SF = 0.01

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark window data column join small line customer query order sort "
         "filter big group vector stream").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
COLORS = "blue red green small large steel brass copper".split()
NOUNS = "anvil bolt ring widget gear spring nut".split()


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _ts(start, seconds):
    """Timestamps (microseconds) at `start` plus whole or fractional seconds."""
    base = np.datetime64(start, "us")
    return pa.array(base + (np.asarray(seconds) * 1e6).astype("int64").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def tables(out, seed, sf=SF):
    """Write region..embeddings under `out` (one parquet per table)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype="int64")
    _write(f"{out}/part.parquet", {
        "p_partkey": keys,
        "p_name": [f"{c} {n}" for c, n in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * 86400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * 86400)})
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_ev))),
        "user_id": rng.integers(0, int(15000 * sf), n_ev),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101))) for _ in range(n_doc)]
    # 5% near-duplicates (another document plus one token) and a few
    # exact copies: the signal the dedup keys exist to find
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n_doc - 1)) % n_doc] + " dup"
    for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n_doc - 1)) % n_doc]
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def random_graph(rng, n, k, p, islands, island_size):
    """A connected small-world graph (Watts-Strogatz: ring lattice of
    degree k, each edge rewired with probability p) with no class
    structure, plus `islands` small path components that nothing
    reaches. Node ids are a random sample of a wide id range, so id
    order says nothing about adjacency. Returns (nx.Graph, main nodes,
    island node lists)."""
    g = nx.connected_watts_strogatz_graph(n, k, p, seed=int(rng.integers(2**31)))
    total = n + islands * island_size
    ids = rng.choice(50 * total, total, replace=False).astype("int64")
    g = nx.relabel_nodes(g, {i: int(ids[i]) for i in range(n)})
    isl = []
    for j in range(islands):
        nodes = [int(x) for x in ids[n + j * island_size: n + (j + 1) * island_size]]
        nx.add_path(g, nodes)
        isl.append(nodes)
    return g, [int(x) for x in ids[:n]], isl


def edge_rows(pairs, w):
    """Both directions of each undirected pair, one attribute per pair."""
    src = [a for a, b in pairs] + [b for a, b in pairs]
    dst = [b for a, b in pairs] + [a for a, b in pairs]
    return {"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64()),
            "w": pa.array(list(w) + list(w), pa.int64())}


class StoreModel:
    """The benchmark's own model of the bidirectional edge store:
    INSERT-OR-IGNORE upserts over a dict, BFS waves over adjacency
    sets. Versions are numbered as the store numbers them: init is 1,
    each upsert adds one."""

    def __init__(self, rows):
        self.attr = {}
        self._apply(rows)
        self.history = [None, dict(self.attr)]

    def _apply(self, rows):
        for s, d, w in zip(rows["src"].to_pylist(), rows["dst"].to_pylist(), rows["w"].to_pylist()):
            self.attr.setdefault((s, d), w)

    def upsert(self, rows):
        self._apply(rows)
        self.history.append(dict(self.attr))
        return len(self.history) - 1

    def adjacency(self):
        adj = {}
        for s, d in self.attr:
            adj.setdefault(s, set()).add(d)
        return adj

    def levels(self, src, adj=None):
        """BFS wave of every node reachable from src; src is wave 1."""
        adj = self.adjacency() if adj is None else adj
        wave, q = {src: 1}, deque([src])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in wave:
                    wave[v] = wave[u] + 1
                    q.append(v)
        return wave

    def query(self, a, b, adj=None):
        return self.levels(a, adj).get(b, -1)

    def stats(self):
        """(distinct sources, edges, average degree rounded half-up to
        2 places from the double's shortest decimal form, as Spark's
        round does)."""
        n_nodes = len({s for s, _ in self.attr})
        n_edges = len(self.attr)
        avg = Decimal(repr(n_edges / n_nodes)).quantize(Decimal("0.01"), ROUND_HALF_UP)
        return n_nodes, n_edges, float(avg)


# store_oltp shape: graph size, delta mix and the per-pass operations
STORE = dict(n=600, k=6, p=0.1, islands=4, island_size=5,
             rounds=4, compact_every=2, new_pairs=30, present_pairs=30, reach_dist=3,
             batch_pairs=3, unreachable_ecc=9)


def store_schedule(out, seed, shape=STORE):
    """Write base.parquet, delta_<r>.parquet, schedule.txt and
    expected.json for the store workload. Each round: one upsert whose
    delta mixes new pairs and pairs already present (with a different
    attribute, which INSERT-OR-IGNORE must drop), a reachable pair at a
    fixed distance queried both ways, and stats + numberEntries. Every
    `compact_every` rounds: a point query from the main component to an
    island (unreachable: the BFS exhausts the component), one
    queryBatch over reachable pairs and an island-to-main pair, and
    compact + vacuum."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    g, main, islands = random_graph(rng, shape["n"], shape["k"], shape["p"],
                                    shape["islands"], shape["island_size"])
    base_pairs = list(g.edges())
    base = edge_rows(base_pairs, rng.integers(1, 10, len(base_pairs)))
    pq.write_table(pa.table(base), f"{out}/base.parquet")
    model = StoreModel(base)
    island_nodes = [v for isl in islands for v in isl]
    ops, expected = [], []

    def pick_pair(adj, dist):
        while True:
            a = int(rng.choice(main))
            at = [v for v, w in model.levels(a, adj).items() if w == dist]
            if at:
                return a, int(rng.choice(at))

    def query(adj, x, y, reverse_of=None):
        levels = model.levels(x, adj)
        ops.append(f"query {x} {y}")
        # waves the BFS runs: to the target, else until the frontier empties
        expected.append({"wave": levels.get(y, -1), "reverse_of": reverse_of,
                         "waves_run": levels[y] if y in levels else max(levels.values()) + 1})

    for r in range(shape["rounds"]):
        present = {tuple(sorted(e)) for e in model.attr}
        new = set()
        while len(new) < shape["new_pairs"]:
            a, b = sorted(int(x) for x in rng.choice(main, 2, replace=False))
            if (a, b) not in present:
                new.add((a, b))
        present_list = sorted(present)
        old = [present_list[i] for i in rng.choice(len(present_list), shape["present_pairs"],
                                                   replace=False)]
        delta = edge_rows(sorted(new) + old, [100 + r] * (len(new) + len(old)))
        pq.write_table(pa.table(delta), f"{out}/delta_{r}.parquet")
        ops.append(f"upsert delta_{r}.parquet")
        expected.append({"version": model.upsert(delta)})
        adj = model.adjacency()
        a, b = pick_pair(adj, shape["reach_dist"])
        query(adj, a, b)
        query(adj, b, a, reverse_of=len(ops) - 1)
        ops.append("stats")
        expected.append({"stats": list(model.stats())})
        if (r + 1) % shape["compact_every"]:
            continue
        # the unreachable query's BFS exhausts the main component: start
        # it at a node of a fixed eccentricity so every seed runs as many
        # waves
        ecc = lambda v: max(model.levels(v, adj).values()) - 1
        src = min((int(v) for v in rng.choice(main, min(100, len(main)), replace=False)),
                  key=lambda v: abs(ecc(v) - shape["unreachable_ecc"]))
        query(adj, src, int(rng.choice(island_nodes)))
        batch = [pick_pair(adj, shape["reach_dist"] - 1) for _ in range(shape["batch_pairs"] - 1)]
        # from an island's end: its frontier dies after island_size waves
        batch.append((islands[int(rng.integers(len(islands)))][0], int(rng.choice(main))))
        ops.append("batch " + ",".join(f"{x}:{y}" for x, y in batch))
        expected.append({"waves": [model.query(x, y, adj) for x, y in batch]})
        ops.append("compact")
        expected.append({})
    with open(f"{out}/schedule.txt", "w") as f:
        f.write("\n".join(ops) + "\n")
    with open(f"{out}/expected.json", "w") as f:
        json.dump({"ops": expected, "old_version": 2}, f)
    return model


# graph_iterative's general-engine graph: the store graph's shape at a
# size the exact all-pairs engines (betweenness) finish in seconds
GENERAL = dict(n=150, k=6, p=0.1, ktruss_k=4, walk_steps=4, seed_every=10)


def general_graph(out, seed, shape=GENERAL):
    """Write general.parquet (bidirectional edges, attribute w) and
    walk_seeds.parquet for the general graph engines."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    g, main, _ = random_graph(rng, shape["n"], shape["k"], shape["p"], 0, 0)
    pairs = list(g.edges())
    pq.write_table(pa.table(edge_rows(pairs, rng.integers(1, 10, len(pairs)))),
                   f"{out}/general.parquet")
    seeds = sorted(main)[::shape["seed_every"]]
    with open(f"{out}/general_params.txt", "w") as f:
        f.write(f"{shape['ktruss_k']} {shape['walk_steps']}\n")
    pq.write_table(pa.table({"seed": pa.array(seeds, pa.int64())}), f"{out}/walk_seeds.parquet")
