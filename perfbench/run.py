"""graft benchmark: one closed-loop client driving a workload for a
fixed time, then checking the program's outputs.

    python3 perfbench/run.py --workload store_oltp --seed 1 --seconds 1 --trace 0

Builds the program (perfbench/build.py), writes the workload's inputs
from the seed (perfbench/gen.py), starts one JVM that stages the inputs
(timed as setup_s from the moment it is launched), then runs whole
passes of the workload's fixed operation list until --seconds have
passed (at least one; one pass takes 20-60 s, so --seconds below that
runs one pass), and checks the outputs. A call that throws is counted
in `failed` and its outputs are not checked; the pass goes on. The last
stdout line is one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("store_oltp", "pipeline_cold", "graph_iterative")
PIPELINE_KEYS = ["d_minhash_lsh", "d_ngram_jaccard", "d_cluster", "d_canonical", "s_knn_ivf",
                 "s_knn_brute", "t_quality", "t_fingerprint", "t_split", "t_pipeline",
                 "q_upsert_dedup", "e_stream_window", "e_stream_dedup"]
KCORE_K = 5  # GraphPack's g_kcore k
GRAPH_KEYS = ["g_louvain", "g_sssp", "g_walks", "g_cc", "g_pagerank", "g_kcore", "g_expand"]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 150
# One Spark task thread (local[1], one shuffle partition): the driver
# thread, JIT compiler and GC keep the box's other cores, and a pass's
# total stays steady run to run (cold graph passes at local[2] spread
# 10-14% between seeds, at local[1] 1.4%).
SPARK_THREADS = 1


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(spans):
    """Per-layer metrics from the traced run's pass spans (0 for a layer
    the workload does not call)."""
    passes = [s for s in spans if s["name"] == "pass"]
    ids = {p["id"] for p in passes}
    ops = [s for s in spans if s["parent"] in ids]

    def med(name, f):
        return median([f(s) for s in ops if s["name"] == name])

    def per_pass(prefix, f):
        return median([sum(f(s) for s in ops if s["parent"] == p["id"] and
                           s["name"].startswith(prefix)) for p in passes])

    secs = lambda s: s["s"]
    driver_only = lambda s: max(0.0, s["s"] - s["job_busy_s"])
    m = {
        "spark.jobs": (median([p["jobs"] for p in passes]), "count"),
        "spark.stages": (median([p["stages"] for p in passes]), "count"),
        "spark.tasks": (median([p["tasks"] for p in passes]), "count"),
        "spark.shuffle_write_bytes": (median([p["shuffle_bytes"] for p in passes]), "bytes"),
        "spark.spill_bytes": (median([p["spill_bytes"] for p in passes]), "bytes"),
        "spark.driver_only_s": (median([driver_only(p) for p in passes]), "s"),
        "trace.pass_s": (median([p["s"] for p in passes]), "s"),
        "trace.pass_cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "bfs.query_s": (med("bfs.query", secs), "s"),
        "bfs.query_waves": (med("bfs.query", lambda s: s["bfs_actions"]), "count"),
        "bfs.query_jobs": (med("bfs.query", lambda s: s["jobs"]), "count"),
        "bfs.driver_only_s": (med("bfs.query", driver_only), "s"),
        "bfs.shuffle_bytes": (med("bfs.query", lambda s: s["shuffle_bytes"]), "bytes"),
        "bfs.batch_s": (med("bfs.batch", secs), "s"),
        "store.upsert_s": (med("store.upsert", secs), "s"),
        "store.upsert_bytes_written": (med("store.upsert", lambda s: s["attrs"]["bytes_written"]),
                                       "bytes"),
        "store.upsert_shuffle_bytes": (med("store.upsert", lambda s: s["shuffle_bytes"]), "bytes"),
        "store.read_chain_len": (med("bfs.query", lambda s: s["attrs"]["chain"]), "count"),
        "store.stats_s": (med("store.stats", secs), "s"),
        "store.compact_s": (med("store.compact", secs), "s"),
        "store.compact_rows_read": (med("store.compact", lambda s: s["input_records"]), "count"),
        "store.versions": (med("store.compact", lambda s: s["attrs"]["versions"]), "count"),
        "dedup.shuffle_bytes": (per_pass("dedup.", lambda s: s["shuffle_bytes"]), "bytes"),
        "streaming.batches": (per_pass("streaming.", lambda s: s["batches"]), "count"),
        "streaming.batch_s": (median([ms / 1e3 for s in ops if s["name"].startswith("streaming.")
                                      for ms in s["batch_ms"]]), "s"),
    }
    for n in ["dedup.minhash", "dedup.ngram", "dedup.clusters", "dedup.canonical",
              "similarity.knn_ivf", "similarity.knn_brute", "text.quality", "text.fingerprint",
              "text.split", "text.pipeline", "relational.upsert_dedup", "streaming.window",
              "streaming.dedup", "graph.general.ktruss", "graph.general.walks",
              "graph.general.betweenness"]:
        m[f"{n}_s"] = (med(n, secs), "s")
    for k in GRAPH_KEYS:
        m[f"graph.{k}_s"] = (med(f"graph.{k}", secs), "s")
        m[f"graph.{k}_jobs"] = (med(f"graph.{k}", lambda s: s["jobs"]), "count")
        m[f"graph.{k}_shuffle_bytes"] = (med(f"graph.{k}", lambda s: s["shuffle_bytes"]), "bytes")
    return m


def end_to_end(run, spans):
    passes = [s for s in spans if s["name"] == "pass"]
    return {
        "setup_s": (run["setup_s"], "s"),
        "pass_cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "bytes_stored": (run["bytes_stored"], "bytes"),
    }


def check(workload, inp, out, run, spans, model):
    """All output checks of one run; returns error strings."""
    if workload == "store_oltp":
        top = [s["id"] for s in spans if s["parent"] == -1]
        by_pass = [[s for s in spans if s["parent"] == t] for t in top]
        return checks.store(by_pass, json.load(open(f"{inp}/expected.json")),
                            checks.read(f"{out}/edges_final"), checks.read(f"{out}/edges_v2"), model)
    con = checks.connect(inp)
    # the checks read the first pass's outputs; a call that failed left none
    first = [s for s in spans if s["parent"] == min(t["id"] for t in spans if t["parent"] == -1)]
    ok = {s["attrs"]["key"] for s in first if not s["failed"]}
    read = lambda k: checks.read(f"{out}/p1/{k}")
    errs = []
    for k in (PIPELINE_KEYS if workload == "pipeline_cold" else GRAPH_KEYS):
        if k not in ok:
            continue
        got, sql = read(k), run["oracle_sql"][k]
        if k == "g_kcore" and con.execute(f"SELECT count(*) FROM ({sql}) WHERE node = -1").fetchone()[0]:
            # the oracle's bounded peel unroll ran out on this input and
            # says so with a sentinel row: check against networkx instead
            errs += checks.kcore(got, checks.read(f"{inp}/part.parquet"), KCORE_K)
        else:
            errs += checks.oracle(con, k, got, sql)
    if workload == "pipeline_cold":
        docs = checks.read(f"{inp}/documents.parquet")["doc_id"].tolist()
        for k in ["d_minhash_lsh", "d_ngram_jaccard"]:
            if k in ok:
                errs += checks.pairs_ordered(k, read(k), docs)
        if {"d_cluster", "d_minhash_lsh"} <= ok:
            errs += checks.clusters_are_components(read("d_cluster"), read("d_minhash_lsh"), docs)
        if "t_split" in ok:
            errs += checks.split_sizes(read("t_split"), len(docs))
    else:
        edges = checks.read(f"{inp}/general.parquet")
        k, steps = (int(x) for x in open(f"{inp}/general_params.txt").read().split())
        seeds = checks.read(f"{inp}/walk_seeds.parquet")["seed"].tolist()
        if "general_ktruss" in ok:
            errs += checks.ktruss(read("general_ktruss"), edges, k)
        if "general_walks" in ok:
            errs += checks.walks(read("general_walks"), edges, seeds, steps)
        if "general_betweenness" in ok:
            errs += checks.betweenness(read("general_betweenness"), edges)
    return errs


def replay_stagings(inp_root):
    """The streaming replay harness stages its event chunks under
    /dev/shm/graft-replay (or java.io.tmpdir) keyed by md5 of
    '<table dir>#<chunks>'; name the ones this run's table dir owns."""
    base = "/dev/shm/graft-replay"
    if not os.path.isdir(base):
        return []
    ours = {hashlib.md5(f"{inp_root}#{c}".encode()).hexdigest() for c in range(1, 257)}
    return [os.path.join(base, n) for n in os.listdir(base)
            if n.startswith("chunks-") and n.split("-")[1] in ours]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp, out = os.path.join(work, "input"), os.path.join(work, "out")
    db_root = os.path.join(work, "pipeline.db")
    try:
        model = None
        if a.workload == "store_oltp":
            model = gen.store_schedule(inp, a.seed)
        else:
            gen.tables(inp, a.seed)
            if a.workload == "graph_iterative":
                gen.general_graph(inp, a.seed)
        os.makedirs(os.path.join(work, "tmp"))
        # -XX:-UsePerfData: no hsperfdata file outside the run's directory
        cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
               + ["-cp", cp, "graftbench.PerfBench", a.workload, inp, work, str(a.seconds),
                  str(a.trace), str(SPARK_THREADS)])
        t0 = time.time_ns()
        proc = subprocess.Popen(cmd + [str(t0)], stdout=sys.stderr, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        if rc != 0:
            raise SystemExit(f"benchmark JVM failed with exit code {rc}")
        run = json.load(open(os.path.join(work, "run.json")))
        spans = [json.loads(line) for line in open(os.path.join(work, "spans.jsonl"))]
        errs = check(a.workload, inp, out, run, spans, model)
        for e in errs:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        top = {s["id"] for s in spans if s["parent"] == -1}
        ops = [s for s in spans if s["parent"] in top]
        if model is not None and a.trace:
            # the BFS actions the program ran per query, beside the waves
            # an early-exit BFS needs on the model
            want = [o["waves_run"] for o in json.load(open(f"{inp}/expected.json"))["ops"]
                    if "waves_run" in o]
            got = [s["bfs_actions"] for s in ops if s["name"] == "bfs.query"][:len(want)]
            print(f"bfs.query actions {got}, model waves {want}", file=sys.stderr)
        for name in sorted({s["name"] for s in spans}):
            xs = [s["s"] for s in spans if s["name"] == name]
            print(f"span {name}: n={len(xs)} median={median(xs):.3f}s max={max(xs):.3f}s",
                  file=sys.stderr)
        metrics = per_layer(spans) if a.trace else end_to_end(run, spans)
        print(json.dumps({
            "correct": not errs,
            "attempted": len(ops),
            "failed": sum(1 for s in ops if s["failed"]),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for d in replay_stagings(db_root if a.workload == "pipeline_cold" else inp):
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
