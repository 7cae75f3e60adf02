"""Output checks, made apart from the program.

Each check takes the program's outputs and the benchmark's own inputs
and returns a list of error strings (empty when the output is right).
The table workloads are checked against DuckDB running each key's
oracle SQL over the same input tables, plus structural properties; the
store against the benchmark's own edge-store model (gen.StoreModel);
the general graph engines against networkx.
"""
import math

import duckdb
import networkx as nx
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(input_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    return con


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    return repr(v)


def _rows(df):
    cols = sorted(df.columns)
    return cols, sorted(tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False))


def oracle(con, name, got, sql):
    """Rows, column names and values of `got` (a DataFrame of the
    program's output) equal the oracle SQL's result, as sets of rows."""
    want = con.execute(sql).df()
    gc, gr = _rows(got)
    wc, wr = _rows(want)
    if gc != wc:
        return [f"{name}: columns {gc} != oracle {wc}"]
    if len(gr) != len(wr):
        return [f"{name}: {len(gr)} rows != oracle {len(wr)}"]
    diff = [(a, b) for a, b in zip(gr, wr) if a != b]
    return [f"{name}: {len(diff)} rows differ from the oracle, first {diff[0]}"] if diff else []


def kcore(got, part, k):
    """k-core of the wide part edit graph (same brand, sizes 1 or 2
    apart) with each member's degree inside the core, by networkx."""
    by = {}
    for key, brand, size in zip(part["p_partkey"], part["p_brand"], part["p_size"]):
        by.setdefault((brand, size), []).append(key)
    g = nx.Graph()
    for (brand, size), keys in by.items():
        for d in (1, 2):
            g.add_edges_from((a, b) for a in keys for b in by.get((brand, size + d), ()))
    core = nx.k_core(g, k)
    want = {v: core.degree(v) for v in core}
    have = dict(zip(got["node"].tolist(), got["core_degree"].tolist()))
    return [] if have == want else [
        f"g_kcore: {len(have)} core nodes, networkx {len(want)}; "
        f"{len(set(have.items()) ^ set(want.items()))} (node, core_degree) rows differ"]


def pairs_ordered(name, pairs, doc_ids):
    """Every near-dup pair is (doc_a < doc_b), listed once, both ids present."""
    errs = []
    a, b = pairs["doc_a"].tolist(), pairs["doc_b"].tolist()
    if any(x >= y for x, y in zip(a, b)):
        errs.append(f"{name}: a pair with doc_a >= doc_b")
    if len(set(zip(a, b))) != len(a):
        errs.append(f"{name}: a pair listed twice")
    if not set(a) | set(b) <= set(doc_ids):
        errs.append(f"{name}: a pair names a doc_id that is not in documents")
    return errs


def clusters_are_components(clusters, pairs, doc_ids):
    """Each dup cluster is a connected component of the pair graph:
    cluster_id is the component's least doc_id, the survivor is the
    document whose id that is, and every document appears once."""
    g = nx.Graph()
    g.add_nodes_from(doc_ids)
    g.add_edges_from(zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()))
    want = {v: min(c) for c in nx.connected_components(g) for v in c}
    got = dict(zip(clusters["doc_id"].tolist(), clusters["cluster_id"].tolist()))
    errs = []
    if len(got) != len(clusters) or set(got) != set(doc_ids):
        errs.append("d_cluster: documents missing or repeated")
    bad = [d for d in got if got[d] != want.get(d)]
    if bad:
        errs.append(f"d_cluster: {len(bad)} documents in the wrong component, e.g. {bad[0]}")
    if any(s != (d == c) for d, c, s in zip(clusters["doc_id"], clusters["cluster_id"],
                                            clusters["is_survivor"])):
        errs.append("d_cluster: is_survivor disagrees with cluster_id")
    return errs


def split_sizes(split, n_docs):
    """Each document lands in exactly one split: sizes sum to the count."""
    sizes = split.groupby("split").size()
    errs = []
    if int(sizes.sum()) != n_docs or split["doc_id"].nunique() != n_docs:
        errs.append(f"t_split: split sizes sum to {int(sizes.sum())}, documents {n_docs}")
    return errs


def _graph(edges):
    g = nx.Graph()
    g.add_edges_from(zip(edges["src"].tolist(), edges["dst"].tolist()))
    return g


def ktruss(got, edges, k):
    """k-truss edges and their in-truss support equal networkx's."""
    h = nx.k_truss(_graph(edges), k)
    want = {(min(u, v), max(u, v)): len(set(h[u]) & set(h[v])) for u, v in h.edges()}
    have = {(a, b): s for a, b, s in zip(got["a"], got["b"], got["support"])}
    return [] if have == want else [
        f"ktruss: {len(have)} edges, networkx {len(want)}; "
        f"{len(set(have.items()) ^ set(want.items()))} (edge, support) rows differ"]


def walks(got, edges, seeds, steps):
    """Each walk follows the documented pick: at hop t from node u the
    walk moves to u's sorted neighbor list at index
    ((u mod M) * 1103515245 + t * 12345) mod M mod degree, M = 2^31 - 1."""
    g, m = _graph(edges), 2147483647
    want = set()
    for s in seeds:
        u = s
        want.add((s, 0, u))
        for t in range(1, steps + 1):
            nb = sorted(g[u])
            if not nb:
                break
            u = nb[((u % m) * 1103515245 + t * 12345) % m % len(nb)]
            want.add((s, t, u))
    have = set(zip(got["seed"].tolist(), got["step"].tolist(), got["node"].tolist()))
    return [] if have == want else [f"walks: {len(have ^ want)} (seed, step, node) rows differ"]


def betweenness(got, edges):
    """Exact betweenness equals networkx's unnormalized values."""
    want = nx.betweenness_centrality(_graph(edges), normalized=False)
    have = dict(zip(got["node"].tolist(), got["btw"].tolist()))
    if set(have) != set(want):
        return ["betweenness: node set differs from networkx"]
    bad = [v for v in want if abs(have[v] - want[v]) > 1e-6 * max(1.0, want[v])]
    return [f"betweenness: {len(bad)} nodes differ, e.g. {bad[0]}"] if bad else []


def store(spans_by_pass, expected, edges_final, edges_v2, model):
    """Every pass's operations answer as the model does: upsert versions,
    query waves (and query(a,b) == query(b,a)), batch waves, stats and
    numberEntries. The final edge table keeps each pre-existing edge's
    original attribute (INSERT-OR-IGNORE), and a time-travel read of an
    old version after compact + vacuum equals the model at that version."""
    errs = []
    ops = expected["ops"]
    for p, spans in enumerate(spans_by_pass):
        if len(spans) != len(ops):
            errs.append(f"store pass {p}: {len(spans)} operations, schedule has {len(ops)}")
            continue
        for i, (sp, want) in enumerate(zip(spans, ops)):
            if sp.get("failed"):
                continue  # counted in `failed`; a failed call has no answer
            a = sp["attrs"]
            if "version" in want and a.get("version") != want["version"]:
                errs.append(f"store pass {p} op {i}: upsert version {a.get('version')} != {want['version']}")
            if "wave" in want and a.get("wave") != want["wave"]:
                errs.append(f"store pass {p} op {i}: query wave {a.get('wave')} != {want['wave']}")
            if "waves" in want and a.get("waves") != want["waves"]:
                errs.append(f"store pass {p} op {i}: batch waves {a.get('waves')} != {want['waves']}")
            if "stats" in want:
                n_nodes, n_edges, avg = want["stats"]
                got = a.get("stats")
                if got is None or got[:2] != [n_nodes, n_edges] or abs(got[2] - avg) > 1e-9 \
                        or a.get("entries") != n_edges:
                    errs.append(f"store pass {p} op {i}: stats {got} entries {a.get('entries')} "
                                f"!= {want['stats']}")
        for i, want in enumerate(ops):
            j = want.get("reverse_of")
            if j is not None and not (spans[i].get("failed") or spans[j].get("failed")) \
                    and spans[i]["attrs"].get("wave") != spans[j]["attrs"].get("wave"):
                errs.append(f"store pass {p} op {i}: query(a, b) != query(b, a)")
    errs += _edges("final edge table", edges_final, model.attr)
    errs += _edges(f"time-travel read of v={expected['old_version']}", edges_v2,
                   model.history[expected["old_version"]])
    return errs


def _edges(what, got, want):
    have = {}
    for s, d, w in zip(got["src"].tolist(), got["dst"].tolist(), got["w"].tolist()):
        if (s, d) in have:
            return [f"store: {what} holds ({s}, {d}) twice"]
        have[(s, d)] = w
    if set(have) != set(want):
        return [f"store: {what} has {len(have)} edges, model {len(want)}"]
    kept = [e for e in want if have[e] != want[e]]
    return [f"store: {what}: {len(kept)} edges lost their original attribute"] if kept else []


def read(path):
    return pq.read_table(path).to_pandas()
