"""The resident request path of ``ServingReplica``: requests answered
from driver-resident arrays must return exactly the rows of the Spark
cascade (the same replica built with ``RESIDENT_BUDGET_BYTES`` = 0), and
must launch no Spark job."""

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
    train_pq,
)
from rag_vertex_ai_vector_search_spark.operators.serving import (
    ServingReplica,
)
from rag_vertex_ai_vector_search_spark.sources import load_table

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
def replicas(spark, sf_smoke):
    """(resident, spark-path) replica pairs over one index, with and
    without a hydration table. The code table keeps ``label`` for
    restricts; the vector table carries it for crowding. Every seventh
    vector is repeated under a new id with no hydration row, so equal
    scores must break ties by id and hydration must miss."""
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

    def pair(hydrate):
        resident = ServingReplica(spark, ivf_index, pq_index, hydrate, dim=64)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(serving_mod, "RESIDENT_BUDGET_BYTES", 0)
            cascade = ServingReplica(
                spark, ivf_index, pq_index, hydrate, dim=64
            )
        assert resident._state[3] is not None
        assert cascade._state[3] is None
        return resident, cascade

    return {"docs": pair(docs), "plain": pair(None)}


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_resident_requests_launch_no_job(spark, replicas):
    rep = replicas["docs"][0]
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
    replicas, hydrated, k, probe_percent, rerank, restrict, cap, window
):
    resident, cascade = replicas["docs" if hydrated else "plain"]
    make = RESTRICTS[restrict]
    kw = dict(
        k=k, probe_percent=probe_percent, rerank_candidates=rerank,
        restrict=make() if make else None,
        per_crowding_k=cap, crowding_col="label" if cap else None,
    )
    reqs = [(100 + i, TEXTS[t]) for i, t in enumerate(window)]

    got = resident.query_batch(reqs, **kw)
    want = cascade.query_batch(reqs, **kw)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, g), (_, w) in zip(got, want):
        assert list(map(tuple, g)) == list(map(tuple, w))

    doc_id, text = reqs[0]
    one = resident.query(text, doc_id=doc_id, **kw)
    assert one.columns == cascade.query(text, doc_id=doc_id, **kw).columns
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, got[0][1]))
