#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload map2db --seed 1 --seconds 3 --trace 0

Run from the root of a graft checkout. The first run builds the program
and the benchmark from source with sbt (offline). Each run then

  1. generates the workload's input from --seed, or reuses it from the
     on-disk cache keyed by workload, seed and size (generation time is
     reported as gen_s, outside setup_s);
  2. starts one JVM that sets up a Spark session on local[nproc] with the
     program's own session builder, does one cold run and two warm-up
     runs (one on ann_index), untimed, then times the workload back to back (closed loop,
     one caller) until the time is up and at least two runs are done,
     checking every run's output;
  3. prints, as its last line, one JSON object with the end-to-end metrics
     (--trace 0) or the per-layer metrics of a traced run (--trace 1).

Everything the benchmark writes stays inside the checkout: the build in
its target/ directories, everything else under perfbench/work/.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = "perfbench"
WORK = os.path.join(BENCH, "work")
# Bump when a generator changes, so cached inputs are rebuilt.
GEN_VERSION = 3

# Input sizes. Each is large enough that a warmed run is several times
# Spark's per-job floor on a 4-core machine.
MAP_POIS = 4000
DOCS = 8000
VECTORS = 1500
DIM = 64
ZIPF = 0.6

WORKLOADS = ("map2db", "corpus_prep", "ann_index")

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "records_per_s": "records/s",
    "executor_cpu_s": "s",
    "out_bytes_per_in_byte": "ratio",
}

# Spans the traced run records, one per call into the program; the
# aside spans (Mapsforge.decode, MapPipeline.clip, FeatureMerge.merge,
# Dedup.signature, Similarity.train, Similarity.graph) measure one layer
# on its own after the run.
SPANS = ["Mapsforge.header", "MapPipeline.build", "FdoSink.write",
         "FdoSink.sqlite", "Mapsforge.decode", "MapPipeline.clip",
         "FeatureMerge.merge",
         "Dedup.cluster", "PipelineE2e.d21", "Dedup.signature",
         "Similarity.build", "Similarity.search", "Similarity.train",
         "Similarity.graph"]

# Every traced run reports all of these; a module the workload does not
# load reads 0.
PER_LAYER = {
    "Mapsforge.header_s": "s", "Mapsforge.decode_s": "s",
    "Mapsforge.tiles": "count", "Mapsforge.records": "count",
    "Mapsforge.bad_tiles": "count",
    "MapPipeline.build_s": "s", "MapPipeline.clip_s": "s",
    "MapPipeline.fragments": "count", "MapPipeline.clip_dropped": "count",
    "FeatureMerge.merge_s": "s", "FeatureMerge.features": "count",
    "FeatureMerge.merge_ratio": "ratio", "FeatureMerge.shuffle_mb": "MB",
    "FeatureMerge.skew": "ratio",
    "FdoSink.write_s": "s", "FdoSink.sqlite_s": "s", "FdoSink.bytes": "bytes",
    "FdoSink.files": "count",
    "Dedup.signature_s": "s", "Dedup.candidate_pairs": "count",
    "Dedup.verified_pairs": "count", "Dedup.pair_yield": "ratio",
    "Dedup.cluster_s": "s", "Dedup.clusters": "count",
    "Text.gate_s": "s", "Text.docs_gated": "count",
    "Text.decontam_sample_s": "s", "Text.docs_contaminated": "count",
    "Text.docs_sampled": "count",
    "Similarity.build_s": "s", "Similarity.train_s": "s",
    "Similarity.kmeans_jobs": "count", "Similarity.graph_s": "s",
    "Similarity.candidates": "count", "Similarity.edges": "count",
    "Similarity.edge_yield": "ratio",
    "Similarity.search_s": "s", "Similarity.query_ms": "ms",
    "Similarity.recall_at_k": "ratio",
    "AtomicCommit.commit_s": "s", "AtomicCommit.index_bytes": "bytes",
    "Sessions.jobs": "count", "Sessions.tasks": "count",
    "Sessions.task_s": "s", "Sessions.cpu_s": "s",
    "Sessions.shuffle_read_mb": "MB", "Sessions.shuffle_write_mb": "MB",
    "Sessions.spill_mb": "MB", "Sessions.skew": "ratio",
    "Sessions.pinned_mb": "MB", "Sessions.peak_cached_mb": "MB",
    "Sessions.storage_mb": "MB",
}
for _span in SPANS:
    PER_LAYER.update({f"Sessions.{_span}.jobs": "count",
                      f"Sessions.{_span}.task_s": "s",
                      f"Sessions.{_span}.shuffle_mb": "MB"})
PER_LAYER.update({
    "trace.self_s": "s", "trace.untraced_run_s": "s",
    "trace.traced_run_s": "s", "trace.overhead": "ratio",
    "trace.self_to_run": "ratio",
})


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---- build -------------------------------------------------------------

def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha1()
    roots = ["build.sbt", "project/build.properties", "src/main",
             f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties",
             f"{BENCH}/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Returns the java arguments (options, -cp, classpath) of the build."""
    launch = os.path.join(BENCH, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(launch) as f:
                    return f.read().split("\n")[:-1]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building with sbt")
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    t0 = time.time()
    # no sbt server, and sbt's temporary files inside the checkout
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
         "launcher"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch) as f:
        return f.read().split("\n")[:-1]


def jvm_args(launch):
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # The JVM options the program's build declares, then the benchmark's
    # own: a fixed heap; the parallel collector, whose young collections
    # stop the world instead of running GC threads beside the task
    # threads (on corpus_prep it cut the run-to-run spread of run_s from
    # 27% to 11%); and every temporary file inside the checkout.
    return ["java"] + launch[:-2] + [
        "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
    ] + launch[-2:]


# ---- inputs ------------------------------------------------------------

def write_parquet(table, path):
    import pyarrow.parquet as pq
    pq.write_table(table, path)


def gen_documents(seed, out):
    """documents(doc_id, text, lang, source, n_chars), doc_id < 1e6.

    Words follow a Zipf-like law over a 5000-word vocabulary. Lengths
    straddle PipelineE2e.MinWords (25). Near-dup clusters of depth 1-4
    differ from their root in the last word only. Doc ids below
    TextAnalysis.EvalDocs (20) are the eval set, and 1% of the other
    documents carry a 6-word run copied from an eval document."""
    import numpy as np
    import pyarrow as pa
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, size=rng.integers(2, 10)))
                    for _ in range(6000)})[:5000]
    vocab = [vocab[i] for i in rng.permutation(len(vocab))]
    p = 1.0 / np.arange(1, len(vocab) + 1) ** ZIPF
    p /= p.sum()
    langs = np.array(["en", "de", "fr", "es", "zh"])
    sources = np.array([f"src{i}" for i in range(12)])
    src_p = 1.0 / np.arange(1, 13) ** 0.7
    src_p /= src_p.sum()

    texts = []
    for _ in range(DOCS):
        n = int(rng.integers(10, 70))
        texts.append([vocab[i] for i in rng.choice(len(vocab), size=n, p=p)])
    doc_lang = rng.choice(langs, size=DOCS, p=[0.55, 0.15, 0.12, 0.1, 0.08])
    doc_src = rng.choice(sources, size=DOCS, p=src_p)
    # Near-dup clusters: a root of at least 40 words and `depth` copies
    # that differ from it only in the last word, so every pair in a
    # cluster has shingle Jaccard above 0.9, where the LSH bands find
    # it with probability 1 - 1e-5 and the exact oracle agrees.
    slots = rng.permutation(np.arange(100, DOCS))
    in_cluster = np.zeros(DOCS, bool)
    k = 0
    while k < len(slots) * 0.3:
        root, depth = slots[k], int(rng.integers(1, 5))
        while len(texts[root]) < 40:
            texts[root].append(vocab[int(rng.integers(len(vocab)))])
        for j, c in enumerate(slots[k + 1:k + 1 + depth]):
            words = list(texts[root])
            edit = (j + int(rng.integers(3))) % 3
            if edit == 0:
                words.append(vocab[int(rng.integers(len(vocab)))])
            elif edit == 1:
                words.pop()
            else:
                words[-1] = vocab[int(rng.integers(len(vocab)))]
            texts[c] = words
            doc_lang[c] = doc_lang[root] if rng.random() < 0.8 else "en"
        in_cluster[slots[k:k + 1 + depth]] = True
        k += depth + 1
    # eval-set overlap, on documents outside the clusters
    free = np.flatnonzero(~in_cluster[20:]) + 20
    for d in rng.choice(free, size=DOCS // 100, replace=False):
        e = texts[int(rng.integers(20))]
        at = int(rng.integers(0, len(e) - 6))
        pos = int(rng.integers(0, len(texts[d])))
        texts[d] = texts[d][:pos] + e[at:at + 6] + texts[d][pos:]
    text = [" ".join(t) for t in texts]
    write_parquet(pa.table({
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(doc_lang.tolist(), pa.string()),
        "source": pa.array(doc_src.tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    return DOCS


def corpus_oracle(launch, out):
    """The d21 result by DuckDB, from the SQL the program declares."""
    import duckdb
    sql_file = os.path.join(out, "d21.sql")
    run_jvm(launch, ["perfbench.Gen", "sql", sql_file])
    with open(sql_file) as f:
        # DuckDB inlines each CTE at every reference, so the recursive
        # clustering would redo the all-pairs shingle join on every step.
        # MATERIALIZED computes each CTE once; the result is the same.
        sql = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", f.read())
    con = duckdb.connect()
    path = os.path.join(out, "documents.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    rows = con.execute(sql).fetchall()
    con.close()
    with open(os.path.join(out, "oracle.tsv"), "w") as f:
        for source, n_docs, n_tokens in rows:
            f.write(f"{source}\t{n_docs}\t{n_tokens}\n")


def gen_embeddings(seed, out):
    """embeddings(vec_id, embedding, label): clustered float vectors,
    and knn.tsv, the exact top-k of each query (vec_id < 8) over the
    rest by squared L2 on the floor(x * 1e6) grid the index uses, ties
    to the smaller id."""
    import numpy as np
    import pyarrow as pa
    rng = np.random.default_rng(seed)
    # 16 overlapping clusters: centers U[0, 0.1) and jitter U[0, 0.18)
    # per dimension, the geometry of the program's own recall curves
    centers = rng.uniform(0.0, 0.1, size=(16, DIM))
    label = rng.integers(0, len(centers), size=VECTORS)
    vecs = (centers[label] + rng.uniform(0.0, 0.18, size=(VECTORS, DIM))
            ).astype(np.float32)
    write_parquet(pa.table({
        "vec_id": pa.array(np.arange(VECTORS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))
    q = np.floor(vecs.astype(np.float64) * 1e6).astype(np.int64)
    queries, top_k = 8, 5
    with open(os.path.join(out, "knn.tsv"), "w") as f:
        for i in range(queries):
            d = ((q[queries:] - q[i]) ** 2).sum(axis=1)
            ids = np.arange(queries, VECTORS)
            order = np.lexsort((ids, d))[:top_k]
            f.write("\t".join(str(x) for x in [i] + ids[order].tolist()) + "\n")
    return VECTORS


def inputs(workload, seed, launch):
    """Input directory for (workload, seed), generated once and cached."""
    size = {"map2db": MAP_POIS, "corpus_prep": DOCS,
            "ann_index": VECTORS}[workload]
    out = os.path.abspath(os.path.join(
        WORK, "inputs", f"{workload}-seed{seed}-n{size}-v{GEN_VERSION}"))
    done = os.path.join(out, "records.txt")
    if os.path.exists(done):
        return out, 0.0
    t0 = time.time()
    partial = out + ".partial"
    shutil.rmtree(partial, ignore_errors=True)
    os.makedirs(partial)
    if workload == "map2db":
        run_jvm(launch, ["perfbench.Gen", "map", str(seed), str(MAP_POIS),
                         partial])
    else:
        if workload == "corpus_prep":
            n = gen_documents(seed, partial)
            corpus_oracle(launch, partial)
        else:
            n = gen_embeddings(seed, partial)
        with open(os.path.join(partial, "records.txt"), "w") as f:
            f.write(f"{n}\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(partial, out)
    return out, time.time() - t0


# ---- measuring ---------------------------------------------------------

def run_jvm(launch, args):
    p = subprocess.run(jvm_args(launch) + args, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench]") or "Exception" in line:
            print(line, file=sys.stderr)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        fail(f"{args[0]} exited with {p.returncode}")


def measure(launch, workload, input_dir, seconds, trace):
    """One measuring JVM; returns its result record."""
    out = os.path.abspath(os.path.join(WORK, "out"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = os.path.join(out, "result.json")
    run_jvm(launch, ["perfbench.Main", workload, input_dir, out,
                     str(seconds), str(trace), res])
    with open(res) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(res):
    """The end-to-end metrics over the timed runs that passed their
    check, and how many runs that is."""
    ok = [r for r in res["runs"] if r["error"] is None]
    if not ok:
        return {k: None for k in END_TO_END}, 0
    run_s = median([r["wall_s"] for r in ok])
    return {
        "setup_s": res["setup_s"],
        "run_s": run_s,
        "records_per_s": res["input_records"] / run_s,
        "executor_cpu_s": median([r["cpu_s"] for r in ok]),
        "out_bytes_per_in_byte":
            median([r["out_bytes"] for r in ok]) / res["input_bytes"],
    }, len(ok)


def per_layer(res, run_s_untraced):
    """Medians over the traced runs that passed their check of each
    per-layer metric, with the untraced runs' pins, and the traced run's
    wall time against the untraced run_s. A ratio whose runs all failed
    reads None."""
    timed = [r for r in res["runs"] if r["error"] is None]
    traced = [t for t in res["traced"] if t["error"] is None]
    layers = {k: median([t["layers"].get(k, 0.0) for t in traced])
              for k in PER_LAYER}
    layers["Sessions.pinned_mb"] = median([r["pinned_mb"] for r in timed])
    layers["Sessions.storage_mb"] = res["storage_mb"]
    wall = median([t["wall_s"] for t in traced])
    layers["trace.untraced_run_s"] = run_s_untraced
    layers["trace.traced_run_s"] = wall
    both = wall is not None and run_s_untraced is not None
    layers["trace.overhead"] = wall / run_s_untraced - 1.0 if both else None
    layers["trace.self_to_run"] = (layers["trace.self_s"] / run_s_untraced
                                   if both else None)
    return layers


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("run from the root of a graft checkout: no build.sbt or "
             "src/main/scala here")

    launch = build()
    input_dir, gen_s = inputs(a.workload, a.seed, launch)
    log(f"{a.workload} seed {a.seed}: input {input_dir} (gen_s {gen_s:.2f})")
    res = measure(launch, a.workload, input_dir, a.seconds, a.trace)

    runs = [res["cold"]] + res["warm_ups"] + res["runs"] + res.get("traced", [])
    failed = sum(r["error"] is not None for r in runs)
    e2e, samples = end_to_end(res)
    warm_ups = " ".join(f"{r['wall_s']:.2f}" for r in res["warm_ups"])
    log(f"cold {res['cold']['wall_s']:.2f} s, warm-ups {warm_ups} s; "
        f"{samples} timed runs passed; {failed} of {len(runs)} runs failed; "
        f"gen_s {gen_s:.2f}; storage {res['storage_mb']:.0f} MB")
    if a.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                   for k, v in per_layer(res, e2e["run_s"]).items()}
        trace_file = os.path.join(WORK, f"trace-{a.workload}-seed{a.seed}.json")
        shutil.copy(res["trace_file"], trace_file)
        log(f"trace written to {trace_file}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
        for k, v in e2e.items():
            n = 1 if k == "setup_s" else samples
            print(f"{k:24s} {v!s:>20s} {END_TO_END[k]:10s} median of {n}")
    print(json.dumps({"correct": failed == 0, "attempted": len(runs),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
