"""The request path of ``ServingReplica``: requests answered from one
generation (codes resident, vectors and hydration memory-mapped) must
return exactly the rows of ``ivf_pq_search(method="broadcast")`` plus
the broadcast hydration join, must launch no Spark job, and must keep
answering from the generation they hold across a ``refresh``."""

import gc
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq_files
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.operators import serving as serving_mod
from rag_vertex_ai_vector_search_spark.operators.ivf import (
    IVFIndex,
    build_ivf_index,
)
from rag_vertex_ai_vector_search_spark.operators.pq import (
    PQIndex,
    encode_pq,
    ivf_pq_search,
    train_pq,
)
from rag_vertex_ai_vector_search_spark.operators.serving import (
    ReplicaSource,
    ServingReplica,
    embed_query_text,
    surrogate_key,
)
from rag_vertex_ai_vector_search_spark.sources import load_table
from rag_vertex_ai_vector_search_spark.sources.txlog import tx_append

TEXTS = [
    "what is the pricing summary of urgent orders",
    "shipping priority of late line items",
    "supplier volume by nation and region",
    "customer returns in the last quarter",
    "market share of a part type",
    "",
    "orders orders orders",
    "promotion effect on revenue",
]

RESTRICTS = {
    "none": None,
    "labels": lambda: F.col("label").isin(1, 2, 3, 7),
    "label_range": lambda: F.col("label") >= 5,
    "odd_leaf": lambda: F.col("cluster_id") % 2 == 1,
    "nothing": lambda: F.col("label") > 100,
}


@pytest.fixture(scope="module")
def index(spark, sf_smoke):
    """One index, its replicas with and without a hydration table, and
    the DataFrames the batch route reads. The code table keeps
    ``label`` for restricts; the vector table carries it for crowding.
    Every seventh vector is repeated under a new id with no hydration
    row, so equal scores must break ties by id and hydration must
    miss."""
    emb = load_table(spark, sf_smoke, "embeddings")
    vec_id = F.col("vec_id")
    emb = emb.unionByName(
        emb.filter(vec_id % 7 == 0).withColumn("vec_id", vec_id + 100000)
    )
    ivf = build_ivf_index(emb, n_clusters=8)
    books = train_pq(emb, m=8, ksub=16, iters=2, sample_rows=300)
    codes = encode_pq(
        ivf.assigned, books, keep_cols=("cluster_id", "label")
    ).codes
    ivf_index = IVFIndex(
        assigned=ivf.assigned, centroids=ivf.centroids,
        id_col="vec_id", vec_col="embedding",
    )
    pq_index = PQIndex(codes=codes, books=books, id_col="vec_id")
    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "lang", "source"
    )
    return {
        "ivf": ivf_index, "pq": pq_index,
        "docs": (ServingReplica(spark, ivf_index, pq_index, docs, dim=64),
                 docs),
        "plain": (ServingReplica(spark, ivf_index, pq_index, None, dim=64),
                  None),
    }


def _batch_route(spark, ivf_index, pq_index, docs, reqs, k, **kw):
    """The reference: the window's query vectors as one LocalRelation
    through ``ivf_pq_search(method="broadcast")`` and a broadcast
    hydration join. Returns the frame and its rows per request."""
    keys = [surrogate_key(d) for d, _ in reqs]
    queries = spark.createDataFrame(
        pd.DataFrame({
            "query_id": keys,
            "query_vector": [
                [float(x) for x in embed_query_text(t, dim=64)]
                for _, t in reqs
            ],
        }),
        "query_id string, query_vector array<float>",
    )
    hits = ivf_pq_search(
        ivf_index, pq_index, queries, k, method="broadcast", **kw
    )
    if docs is not None:
        hits = hits.join(
            F.broadcast(docs), hits.neighbor_id == docs.doc_id, "left"
        ).select(
            "query_id", F.col("rank").cast("long").alias("rank"),
            "neighbor_id", "score", "lang", "source",
        )
    by_key = {key: [] for key in keys}
    for row in hits.collect():
        by_key[row.query_id].append(row)
    rows = [sorted(by_key[key], key=lambda r: r.rank) for key in keys]
    return hits, rows


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_resident_requests_launch_no_job(spark, index):
    rep = index["docs"][0]
    j0 = _jobs(spark)
    rows = rep.query(TEXTS[0], doc_id=1, k=10, probe_percent=50.0).collect()
    assert len(rows) == 10
    window = rep.query_batch(
        [(10 + i, t) for i, t in enumerate(TEXTS)], k=5, probe_percent=25.0
    )
    assert all(0 < len(r) <= 5 for _, r in window)
    restricted = rep.query(
        TEXTS[1], doc_id=2, k=5, probe_percent=100.0,
        restrict=F.col("label").isin(1, 2), per_crowding_k=1,
        crowding_col="label",
    ).collect()
    assert restricted
    assert _jobs(spark) == j0


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hydrated=st.booleans(),
    k=st.integers(1, 12),
    probe_percent=st.sampled_from([5.0, 12.5, 25.0, 50.0, 100.0]),
    rerank=st.one_of(st.none(), st.integers(1, 80)),
    restrict=st.sampled_from(sorted(RESTRICTS)),
    cap=st.one_of(st.none(), st.integers(1, 3)),
    window=st.lists(
        st.sampled_from(range(len(TEXTS))), min_size=1, max_size=6
    ),
)
def test_resident_rows_equal_spark_cascade(
    spark, index, hydrated, k, probe_percent, rerank, restrict, cap, window
):
    rep, docs = index["docs" if hydrated else "plain"]
    make = RESTRICTS[restrict]
    kw = dict(
        k=k, probe_percent=probe_percent, rerank_candidates=rerank,
        restrict=make() if make else None,
        per_crowding_k=cap, crowding_col="label" if cap else None,
    )
    reqs = [(100 + i, TEXTS[t]) for i, t in enumerate(window)]

    got = rep.query_batch(reqs, **kw)
    frame, want = _batch_route(
        spark, index["ivf"], index["pq"], docs, reqs, **kw
    )
    assert [d for d, _ in got] == [d for d, _ in reqs]
    for (_, g), w in zip(got, want):
        assert list(map(tuple, g)) == list(map(tuple, w))

    doc_id, text = reqs[0]
    one = rep.query(text, doc_id=doc_id, **kw)
    assert one.columns == frame.columns
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, got[0][1]))


# ---- the lifecycle of generations over a local tx vector table ----------

DIM = 8


def _vector_frame(spark, ids, vecs, centroids):
    cid = (
        (vecs.astype(np.float64)[:, None, :] - centroids[None]) ** 2
    ).sum(axis=2).argmin(axis=1)
    return spark.createDataFrame(
        pd.DataFrame({
            "vec_id": list(ids),
            "embedding": [[float(x) for x in v] for v in vecs],
            "label": [int(i) % 5 for i in ids],
            "cluster_id": [int(c) for c in cid],
        }),
        "vec_id long, embedding array<float>, label int, cluster_id int",
    )


@pytest.fixture
def layout(spark, tmp_path):
    """A small source: vectors as a local tx table (read batch by
    batch), codes as plain parquet, hydration rows as a parquet dir
    the docs loader re-reads."""
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((120, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32
    )
    centroids = vecs[:4].astype(np.float64)
    paths = {n: str(tmp_path / n) for n in ("vectors", "codes", "docs")}
    df = _vector_frame(spark, range(120), vecs, centroids)
    tx_append(spark, paths["vectors"], df.repartition(3),
              partition_cols=("cluster_id",))
    books = train_pq(df, m=4, ksub=8, iters=2, sample_rows=120)
    encode_pq(df, books, keep_cols=("cluster_id", "label")).codes.write \
        .partitionBy("cluster_id").parquet(paths["codes"])
    os.makedirs(paths["docs"])
    pq_files.write_table(pa.table({
        "vec_id": pa.array(range(120), pa.int64()),
        "lang": ["en"] * 120, "source": [f"s{i}" for i in range(120)],
    }), os.path.join(paths["docs"], "part-0.parquet"))
    src = ReplicaSource(
        vectors_path=paths["vectors"], codes_path=paths["codes"],
        centroids=centroids, books=books,
        docs=lambda s: s.read.parquet(paths["docs"]),
        extra_paths=(paths["docs"],),
    )
    return src, paths, centroids


def _replica(spark, src):
    return ServingReplica.from_source(
        spark, src, dim=DIM, doc_id_col="vec_id"
    )


def _append(spark, src, paths, centroids, ids, vecs):
    df = _vector_frame(spark, ids, vecs, centroids)
    tx_append(spark, paths["vectors"], df, partition_cols=("cluster_id",))
    encode_pq(df, src.books, keep_cols=("cluster_id", "label")) \
        .codes.write.mode("append").partitionBy("cluster_id") \
        .parquet(paths["codes"])


def test_tx_source_requests_launch_no_job(spark, layout):
    src, _paths, _c = layout
    rep = _replica(spark, src)
    j0 = _jobs(spark)
    assert len(rep.query(TEXTS[0], doc_id=1, k=5, probe_percent=50.0)
               .collect()) == 5
    window = rep.query_batch(
        [(10 + i, t) for i, t in enumerate(TEXTS)], k=3, probe_percent=25.0
    )
    assert all(len(r) == 3 for _, r in window)
    assert _jobs(spark) == j0


def test_held_generation_answers_after_its_files_are_unlinked(
    spark, layout
):
    src, paths, centroids = layout
    rep = _replica(spark, src)
    held = rep._state  # what an in-flight request captured
    reqs = [(1, TEXTS[0]), (2, TEXTS[3])]
    keys = [surrogate_key(d) for d, _ in reqs]
    vecs = [embed_query_text(t, dim=DIM) for _, t in reqs]
    kw = dict(probe_percent=100.0, rerank_candidates=None, restrict=None,
              per_crowding_k=None, crowding_col=None)
    before, _ = rep._answer(held, keys, vecs, 5, **kw)
    assert os.listdir(held.dir)

    # plant each query's own vector: the new generation must rank it 1
    _append(spark, src, paths, centroids, [900, 901], np.stack(vecs))
    assert rep.is_stale()
    rep.refresh()
    assert not os.path.exists(held.dir)
    after, _ = rep._answer(held, keys, vecs, 5, **kw)
    assert after.equals(before)
    fresh = rep.query_batch(
        reqs, k=5, probe_percent=100.0, rerank_candidates=200
    )
    assert [rows[0].neighbor_id for _, rows in fresh] == [900, 901]


UNREPRESENTABLE = {
    "duplicate vector ids": "null or duplicate vector ids",
    "null vectors": "null vectors",
    "ragged vectors": "ragged vectors",
    "duplicate hydration ids": "null or duplicate hydration ids",
    "codes over budget": "exceeds RESIDENT_BUDGET_BYTES",
}


@pytest.mark.parametrize("case", sorted(UNREPRESENTABLE))
def test_unrepresentable_input_raises_at_refresh(
    spark, layout, monkeypatch, case
):
    src, paths, centroids = layout
    rep = _replica(spark, src)
    want = rep.query(TEXTS[0], doc_id=1, k=5).collect()
    bad = {"null vectors": None, "ragged vectors": [1.0] * (DIM - 1)}
    if case == "duplicate vector ids":
        _append(spark, src, paths, centroids, [7], np.ones((1, DIM)))
    elif case in bad:
        df = spark.createDataFrame(
            [(500, bad[case], 0, 0)],
            "vec_id long, embedding array<float>, label int, cluster_id int",
        )
        tx_append(spark, paths["vectors"], df, partition_cols=("cluster_id",))
    elif case == "duplicate hydration ids":
        pq_files.write_table(pa.table({
            "vec_id": pa.array([3], pa.int64()), "lang": ["de"],
            "source": ["dup"],
        }), os.path.join(paths["docs"], "part-1.parquet"))
    else:
        monkeypatch.setattr(serving_mod, "RESIDENT_BUDGET_BYTES", 1)
    with pytest.raises(ValueError, match=UNREPRESENTABLE[case]) as err:
        rep.refresh()
    assert 'ivf_pq_search(method="cogroup")' in str(err.value)
    # the generation in place keeps serving
    assert rep.query(TEXTS[0], doc_id=1, k=5).collect() == want


def test_plain_parquet_vectors_over_budget_are_served(
    spark, layout, tmp_path, monkeypatch
):
    """A plain-parquet vector layout (what ``IVFIndex.save`` writes) is
    read batch by batch like a local tx table, so a vector table over
    ``RESIDENT_BUDGET_BYTES`` is still served when its codes fit. The
    same vectors as a DataFrame would be collected whole: refused."""
    src, paths, _c = layout
    plain = str(tmp_path / "plain_vectors")
    spark.read.parquet(paths["vectors"]).write.partitionBy(
        "cluster_id"
    ).parquet(plain)
    codes = str(tmp_path / "one_file_codes")
    spark.read.parquet(paths["codes"]).coalesce(1).write.parquet(codes)

    def nbytes(root):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, files in os.walk(root) for f in files
            if not f.startswith(("_", "."))
        )

    # budget: the codes fit, the vectors do not
    budget = nbytes(codes)
    assert nbytes(plain) > budget
    want = _replica(spark, src).query_batch(
        [(1, TEXTS[0]), (2, TEXTS[3])], k=5, probe_percent=100.0
    )
    monkeypatch.setattr(serving_mod, "RESIDENT_BUDGET_BYTES", budget)
    rep = _replica(spark, ReplicaSource(
        vectors_path=plain, codes_path=codes,
        centroids=src.centroids, books=src.books, docs=src.docs,
    ))
    j0 = _jobs(spark)
    got = rep.query_batch(
        [(1, TEXTS[0]), (2, TEXTS[3])], k=5, probe_percent=100.0
    )
    assert _jobs(spark) == j0
    assert got == want

    vectors = spark.read.parquet(plain)
    with pytest.raises(ValueError, match="vector table exceeds") as err:
        ServingReplica(
            spark,
            IVFIndex(assigned=vectors, centroids=src.centroids,
                     id_col="vec_id", vec_col="embedding"),
            PQIndex(codes=codes, books=src.books, id_col="vec_id"),
            dim=DIM,
        )
    assert "not a local table" in str(err.value)
    assert 'ivf_pq_search(method="cogroup")' in str(err.value)


def test_temp_dir_removed_when_replica_is_collected(spark, layout):
    rep = _replica(spark, layout[0])
    tmp = rep._dir
    assert os.listdir(tmp)
    del rep
    gc.collect()
    assert not os.path.exists(tmp)


def test_replica_without_codes_keeps_centroids_and_refuses_queries(
    spark, layout
):
    src, _paths, centroids = layout
    rep = _replica(spark, ReplicaSource(
        vectors_path=src.vectors_path, centroids=centroids,
    ))
    assert np.array_equal(rep.centroids, centroids)
    assert not rep.is_stale()
    with pytest.raises(ValueError, match="no code table"):
        rep.query(TEXTS[0])
