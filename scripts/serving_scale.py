"""Serving an index above the 512 MiB that once bounded a resident
replica: one ``ServingReplica`` over a local tx index of synthetic
vectors (default 2.2 GiB of float32 vectors on disk, over 4x that
size), against ``ivf_pq_search(method="broadcast")`` plus a hydration
join on the same host.

    python scripts/serving_scale.py build DIR [GIB]       # write the index
    python scripts/serving_scale.py replica DIR [LAYOUT]  # one replica
    python scripts/serving_scale.py broadcast DIR         # the batch route

``build`` writes the vectors twice: as a tx table (``vectors``) and as
the plain-parquet layout ``IVFIndex.save`` writes (``vectors_plain``).
``replica`` serves one of them (LAYOUT ``tx``, the default, or
``plain``). Each step runs in its own process, so each route's
resident set size is its own. Every step prints one JSON line;
SCALE.md records them. The build time is not a measurement.
``broadcast`` also checks that its rows equal the ones each
``replica`` run saved, query for query.
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import subprocess
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 256
N_CLUSTERS = 256
K = 10
PROBE = 10.0
QUERIES = 20  # timed requests per route; one untimed warm-up first


def _spark():
    from rag_vertex_ai_vector_search_spark.session import get_spark

    return get_spark("serving-scale")


def _rss(pid="self") -> dict:
    """VmRSS / VmHWM / RssAnon / RssFile of a process, in MiB."""
    out = {}
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            key, _, val = line.partition(":")
            if key in ("VmRSS", "VmHWM", "RssAnon", "RssFile"):
                out[key] = round(int(val.split()[0]) / 1024, 1)
    return out


def _du(path: str) -> int:
    return int(subprocess.run(
        ["du", "-sb", path], capture_output=True, text=True, check=True,
    ).stdout.split()[0])


def _texts():
    return [f"scale query {i} about orders and shipping" for i in
            range(QUERIES + 1)]


def build(root: str, gib: float) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    from rag_vertex_ai_vector_search_spark.operators.ivf import save_centroids
    from rag_vertex_ai_vector_search_spark.operators.pq import (
        encode_pq,
        train_pq,
    )
    from rag_vertex_ai_vector_search_spark.sources.txlog import (
        read_table,
        tx_append,
    )

    spark = _spark()
    rows = int(gib * 2**30 / (DIM * 4))
    cent = np.random.default_rng(0).standard_normal((N_CLUSTERS, DIM))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)

    def vectors(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            leaf = ids * N_CLUSTERS // rows  # a contiguous id range per leaf
            rng = np.random.default_rng(int(ids[0]))
            v = cent[leaf] + 0.03 * rng.standard_normal((len(ids), DIM))
            v = (v / np.linalg.norm(v, axis=1, keepdims=True))
            yield pd.DataFrame({
                "vec_id": ids, "embedding": list(v.astype(np.float32)),
                "cluster_id": leaf.astype(np.int32),
            })

    t0 = time.perf_counter()
    tx_append(
        spark, f"{root}/vectors",
        spark.range(rows, numPartitions=64).mapInPandas(
            vectors, "vec_id long, embedding array<float>, cluster_id int"
        ),
        partition_cols=("cluster_id",),
    )
    save_centroids(spark, f"{root}/vectors", cent)
    stored = read_table(spark, f"{root}/vectors")
    stored.write.partitionBy("cluster_id").parquet(f"{root}/vectors_plain")
    save_centroids(spark, f"{root}/vectors_plain", cent)
    books = train_pq(stored, m=16, ksub=256, sample_rows=20_000, iters=4)
    with open(f"{root}/books.pkl", "wb") as fh:
        pickle.dump(books, fh)
    encode_pq(stored, books, keep_cols=("cluster_id",)).codes.write \
        .partitionBy("cluster_id").parquet(f"{root}/codes")
    spark.range(rows).select(
        F.col("id").alias("vec_id"), F.lit("en").alias("lang"),
        F.concat(F.lit("src-"), (F.col("id") % 97).cast("string"))
        .alias("source"),
    ).write.parquet(f"{root}/docs")
    spark.stop()
    return {
        "step": "build", "rows": rows, "dim": DIM,
        "build_s": round(time.perf_counter() - t0, 1),
        "bytes": {t: _du(f"{root}/{t}") for t in (
            "vectors", "vectors_plain", "codes", "docs",
        )},
    }


def _timed(requests) -> tuple[list, list]:
    """Run each zero-arg request, the first untimed; (answers, ms)."""
    answers, ms = [requests[0]()], []
    for req in requests[1:]:
        t = time.perf_counter()
        answers.append(req())
        ms.append((time.perf_counter() - t) * 1e3)
    return answers, ms


def _report(step: str, spark, ms: list, jobs: int, extra: dict) -> dict:
    q = statistics.quantiles(ms, n=4)
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return {
        "step": step, "requests": len(ms),
        "p50_ms": round(statistics.median(ms), 2),
        "q1_ms": round(q[0], 2), "q3_ms": round(q[2], 2),
        "jobs_per_request": jobs / (len(ms) + 1),
        "python_rss_mib": _rss(), "jvm_rss_mib": _rss(jvm), **extra,
    }


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def replica(root: str, layout: str = "tx") -> dict:
    from rag_vertex_ai_vector_search_spark.operators.serving import (
        ReplicaSource,
        ServingReplica,
    )

    spark = _spark()
    with open(f"{root}/books.pkl", "rb") as fh:
        books = pickle.load(fh)
    t0 = time.perf_counter()
    rep = ServingReplica.from_source(
        spark,
        ReplicaSource(
            vectors_path=f"{root}/vectors"
            + {"tx": "", "plain": "_plain"}[layout],
            codes_path=f"{root}/codes",
            books=books, docs=lambda s: s.read.parquet(f"{root}/docs"),
        ),
        dim=DIM, doc_id_col="vec_id",
    )
    fill_s = time.perf_counter() - t0
    after_fill = _rss()
    j0 = _jobs(spark)
    answers, ms = _timed([
        (lambda i=i, t=t: [tuple(r) for r in rep.query(
            t, doc_id=i, k=K, probe_percent=PROBE).collect()])
        for i, t in enumerate(_texts())
    ])
    out = _report("replica", spark, ms, _jobs(spark) - j0, {
        "layout": layout, "fill_s": round(fill_s, 1), "python_rss_after_fill_mib": after_fill,
        "generation_file_bytes": _du(rep._state.dir),
    })
    with open(f"{root}/replica_answers_{layout}.json", "w") as fh:
        json.dump(answers, fh)
    spark.stop()
    return out


def broadcast(root: str) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    from rag_vertex_ai_vector_search_spark.operators.ivf import (
        IVFIndex,
        load_centroids,
    )
    from rag_vertex_ai_vector_search_spark.operators.pq import (
        PQIndex,
        ivf_pq_search,
    )
    from rag_vertex_ai_vector_search_spark.operators.serving import (
        embed_query_text,
        surrogate_key,
    )
    from rag_vertex_ai_vector_search_spark.sources.txlog import read_table

    spark = _spark()
    with open(f"{root}/books.pkl", "rb") as fh:
        books = pickle.load(fh)
    ivf = IVFIndex(
        assigned=read_table(spark, f"{root}/vectors"),
        centroids=load_centroids(spark, f"{root}/vectors"),
        id_col="vec_id", vec_col="embedding",
    )
    pq = PQIndex(
        codes=spark.read.parquet(f"{root}/codes"), books=books,
        id_col="vec_id",
    )
    docs = spark.read.parquet(f"{root}/docs")

    def request(i, text):
        q = spark.createDataFrame(
            pd.DataFrame({
                "query_id": [surrogate_key(i)],
                "query_vector": [
                    [float(x) for x in embed_query_text(text, dim=DIM)]
                ],
            }),
            "query_id string, query_vector array<float>",
        )
        hits = ivf_pq_search(
            ivf, pq, q, K, probe_percent=PROBE, method="broadcast"
        )
        # a sort-merge join: broadcasting docs (F.broadcast, or the
        # planner's own choice, as its files are under 10 MB) fails at
        # this size on a 2 GiB driver heap ("Not enough memory to build
        # and broadcast the table")
        rows = hits.join(
            docs.hint("merge"), hits.neighbor_id == docs.vec_id, "left"
        ).select(
            "query_id", F.col("rank").cast("long").alias("rank"),
            "neighbor_id", "score", "lang", "source",
        ).collect()
        return [tuple(r) for r in sorted(rows, key=lambda r: r.rank)]

    j0 = _jobs(spark)
    answers, ms = _timed([
        (lambda i=i, t=t: request(i, t)) for i, t in enumerate(_texts())
    ])
    equal = {}
    for layout in ("tx", "plain"):
        saved = f"{root}/replica_answers_{layout}.json"
        if os.path.exists(saved):
            with open(saved) as fh:
                want = [[tuple(r) for r in a] for a in json.load(fh)]
            equal[layout] = answers == want
    out = _report("broadcast", spark, ms, _jobs(spark) - j0, {
        "rows_equal_replica": equal,
    })
    spark.stop()
    return out


if __name__ == "__main__":
    step, root = sys.argv[1], sys.argv[2]
    if step == "build":
        os.makedirs(root, exist_ok=True)
        result = build(root, float(sys.argv[3]) if len(sys.argv) > 3 else 2.2)
    elif step == "replica":
        result = replica(root, *sys.argv[3:])
    else:
        result = broadcast(root)
    print(json.dumps(result))
