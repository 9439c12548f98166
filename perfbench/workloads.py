"""The ``serve`` and ``churn`` workloads. Each drives the engine only
through its public functions, counts operations, and checks every answer
against ``oracle`` computations made apart from the engine.

Both workloads report the same end-to-end metrics, each measured where
that workload does the work (README.md defines them per workload); work
is a whole number of identical rounds, so the share of failed operations
never depends on timing.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq_files

import oracle
from inputs import Corpus

from rag_vertex_ai_vector_search_spark.operators import ingest as ingest_mod
from rag_vertex_ai_vector_search_spark.operators import ivf as ivf_mod
from rag_vertex_ai_vector_search_spark.operators import pq as pq_mod
from rag_vertex_ai_vector_search_spark.operators import serving as serving_mod
from rag_vertex_ai_vector_search_spark.sources import txlog as txlog_mod
from rag_vertex_ai_vector_search_spark.streaming import ivf_stream as stream_mod
from rag_vertex_ai_vector_search_spark.streaming import maintenance as maint_mod

K = 10
N_CLUSTERS = 16
PROBE_PERCENT = 75.0
RERANK = 100
PQ_M, PQ_KSUB, PQ_ITERS = 8, 64, 6
WINDOW = 64


class Run:
    """Operation accounting and timings for one benchmark run."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: int,
                 t_start: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.t_start = t_start
        self.setup_s = None
        self.attempted = 0
        self.failed = 0
        self.setup_problems: list[str] = []
        self.query_ms: list[float] = []
        self.query_jobs: list[int] = []
        self.recall: list[float] = []
        self.window_requests = 0
        self.window_s = 0.0
        self.ingest_rates: list[float] = []
        self.build_s: list[float] = []
        self.fresh_s: list[float] = []
        self.disk_bytes_per_doc = None
        self.answered_at = None
        self.jsc = spark.sparkContext._jsc.sc()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def next_job(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def op(self, what: str, problems) -> bool:
        """Count one operation; it fails if any check found a problem."""
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"FAILED {what}: {problems[:3]}", file=sys.stderr)
            return False
        return True

    def rounds(self, nominal_round_s: float) -> int:
        """Rounds per run: a fixed function of ``--seconds``, never of
        measured time, so two runs do the same work."""
        return max(1, round(self.seconds / nominal_round_s))

    def mark_setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start
        self.tracer.phase = "timed"

    def metrics(self) -> dict:
        def m(v, unit):
            return {"value": float(v), "unit": unit}

        return {
            "setup_s": m(self.setup_s, "s"),
            "query_p50_ms": m(statistics.median(self.query_ms), "ms"),
            "batch_qps": m(self.window_requests / self.window_s, "1/s"),
            "recall_at_10": m(statistics.fmean(self.recall), "ratio"),
            "jobs_per_query": m(statistics.median(self.query_jobs), "count"),
            "ingest_docs_per_s": m(statistics.median(self.ingest_rates), "1/s"),
            "index_build_s": m(statistics.median(self.build_s), "s"),
            "freshness_s": m(statistics.median(self.fresh_s), "s"),
            "disk_bytes_per_doc": m(self.disk_bytes_per_doc, "B"),
        }


# ---------------------------------------------------------------- shared


def ingest_round(run: Run, pdf, out_dir: str, mode: str) -> tuple[object, int]:
    """One ingest_documents + write_ingest; returns the result and the
    committed version."""
    tr = run.tracer
    with tr.span("ingest.round"):
        with tr.span("ingest.ingest_documents"):
            res = ingest_mod.ingest_documents(
                run.spark.createDataFrame(
                    pdf, "doc_id long, text string, lang string, source string"
                ),
                extra_restrict_cols=("lang", "source"),
            )
        with tr.span("ingest.write_ingest"):
            version = ingest_mod.write_ingest(res, out_dir, mode)
    return res, version


class Index:
    """Paths and resident state of one serving index."""

    def __init__(self, run: Run, name: str):
        self.ivf = run.path(f"{name}_ivf")
        self.codes = run.path(f"{name}_codes")
        self.docs = run.path(f"{name}_docs")
        self.replica = None


def hydration_table(root: str, name: str, pdf) -> None:
    """The replica's hydration rows (key, lang, source) for ``pdf``,
    written as one parquet file with pyarrow."""
    os.makedirs(root, exist_ok=True)
    pq_files.write_table(pa.table({
        "data_point_id": [oracle.key(d) for d in pdf.doc_id],
        "lang": list(pdf.lang), "source": list(pdf.source),
    }), os.path.join(root, name))


def build_index(run: Run, out_dir: str, name: str, docs) -> Index:
    """IVF build + PQ train + encode + layout write + replica warm over
    the committed datapoints of a dual-sink ingest table; ``docs`` are
    the rows to hydrate from."""
    spark, tr = run.spark, run.tracer
    idx = Index(run, name)
    dp = ingest_mod.read_ingest_table(spark, out_dir, "datapoints")
    with tr.span("ivf.build_ivf_index"):
        ivf = ivf_mod.build_ivf_index(
            dp, id_col="data_point_id", vec_col="feature_vector",
            n_clusters=N_CLUSTERS, seed=run.seed,
        )
    with tr.span("ivf.save"):
        ivf.save(idx.ivf)
    assigned = spark.read.parquet(idx.ivf)
    with tr.span("pq.train_pq"):
        books = pq_mod.train_pq(
            assigned, vec_col="feature_vector", m=PQ_M, ksub=PQ_KSUB,
            iters=PQ_ITERS, seed=run.seed,
        )
    with tr.span("pq.encode_pq"):
        pq_mod.encode_pq(
            assigned, books, id_col="data_point_id",
            vec_col="feature_vector", keep_cols=("cluster_id",),
        ).codes.write.partitionBy("cluster_id").parquet(idx.codes)
    hydration_table(idx.docs, "part-00000.parquet", docs)
    source = serving_mod.ReplicaSource(
        vectors_path=idx.ivf, codes_path=idx.codes, books=books,
        docs=lambda s: s.read.parquet(idx.docs),
        id_col="data_point_id", vec_col="feature_vector",
        extra_paths=(idx.docs,),
    )
    with tr.span("serving.from_source"):
        idx.replica = serving_mod.ServingReplica.from_source(
            spark, source, doc_id_col="data_point_id"
        )
    return idx


class Truth:
    """What the generator says the index holds: key -> (doc_id, text,
    lang, source).

    A query whose text equals a stored text must return one of the keys
    holding it at rank 1 (``expect_top``) -- unless every such key had
    its text rewritten after its first upsert: the streaming merge keeps
    an updated key in its old leaf until a recluster, so its new vector
    may sit in a leaf the probe skips (the engine's documented sticky
    assignment)."""

    def __init__(self, pdf=None):
        self.rows: dict[str, tuple] = {}
        self.by_text: dict[str, set] = {}
        self.rewritten: set[str] = set()
        if pdf is not None:
            self.put(pdf)

    def put(self, pdf) -> None:
        for d, t, lang, src in zip(pdf.doc_id, pdf.text, pdf.lang, pdf.source):
            k = oracle.key(d)
            if k in self.rows:
                self.by_text[self.rows[k][1]].discard(k)
                self.rewritten.add(k)
            self.rows[k] = (int(d), t, lang, src)
            self.by_text.setdefault(t, set()).add(k)
        self.hydrate = {k: (v[2], v[3]) for k, v in self.rows.items()}

    def expect_top(self, text: str) -> set | None:
        keys = self.by_text.get(text)
        return keys if keys and keys - self.rewritten else None

    def frame(self, corpus: Corpus):
        ids = sorted(v[0] for v in self.rows.values())
        return corpus.frame(ids, [self.rows[oracle.key(i)][1] for i in ids])

    def check_vectors(self, ids, vecs) -> list[str]:
        """Stored keys are exactly the live keys, once each, and every
        vector is the reference embedding of the key's latest text."""
        problems = []
        if len(ids) != len(set(ids)):
            problems.append(f"{len(ids) - len(set(ids))} duplicate keys")
        if set(ids) != set(self.rows):
            problems.append(
                f"key set differs: {len(set(ids) - set(self.rows))} extra, "
                f"{len(set(self.rows) - set(ids))} missing"
            )
        for k, v in zip(ids, vecs):
            if k in self.rows and not oracle.close_vec(v, oracle.embed(self.rows[k][1])):
                problems.append(f"vector of {k} is not the embedding of its text")
                break
        return problems


def request(run: Run, idx: Index, rid: int, text: str, brute, truth: Truth,
            *, timed: bool = True) -> list:
    """One single request, timed around query(...).collect(), checked;
    returns the answer rows as sorted tuples."""
    tr, rep = run.tracer, idx.replica
    j0 = run.next_job()
    t0 = time.perf_counter()
    with tr.span("serving.query", request=rid):
        df = rep.query(text, doc_id=rid, k=K, probe_percent=PROBE_PERCENT,
                       rerank_candidates=RERANK)
    with tr.span("serving.query.collect", request=rid):
        rows = df.collect()
    run.answered_at = time.perf_counter()
    dt = run.answered_at - t0
    jobs = run.next_job() - j0
    q = oracle.embed(text)
    got_q = rep.query_vector_df(rid, text).collect()[0].query_vector
    problems, recall = oracle.check_answer(
        [r.asDict() for r in rows], q, brute, K, truth.hydrate,
        expect_top=truth.expect_top(text),
    )
    if not oracle.close_vec(got_q, q):
        problems.append("query vector differs from the reference embedding")
    if run.op("query", problems) and timed:
        run.query_ms.append(dt * 1e3)
        run.query_jobs.append(jobs)
        run.recall.append(recall)
    return sorted(map(tuple, rows))


def window(run: Run, idx: Index, reqs, brute, truth: Truth,
           *, timed: bool = True, singles: dict | None = None) -> None:
    """One coalesced window through query_batch, every answer checked;
    ``singles`` maps request ids already answered by ``query`` to those
    answers, which the window's answers must equal."""
    t0 = time.perf_counter()
    with run.tracer.span("serving.query_batch", request=reqs[0][0]):
        out = idx.replica.query_batch(
            reqs, k=K, probe_percent=PROBE_PERCENT, rerank_candidates=RERANK
        )
    dt = time.perf_counter() - t0
    problems, recalls = [], []
    for (rid, text), (got_id, rows) in zip(reqs, out):
        p, r = oracle.check_answer(
            [x.asDict() for x in rows], oracle.embed(text), brute, K,
            truth.hydrate, expect_top=truth.expect_top(text),
        )
        problems += p if got_id == rid else ["answers out of request order"]
        if singles and rid in singles and singles[rid] != sorted(map(tuple, rows)):
            problems.append(f"window answer for {rid} differs from query()")
        recalls.append(r)
    if run.op("window", problems) and timed:
        run.window_s += dt
        run.window_requests += len(reqs)
        run.recall += recalls


def brute_from_layout(root: str):
    cols = oracle.read_parquet(
        oracle.layout_files(root), ["data_point_id", "feature_vector"]
    )
    return cols["data_point_id"], cols["feature_vector"]


def tx_files(run: Run, path: str, version=None, prefix: str = "") -> list[str]:
    log = txlog_mod.TxLog(run.spark, path)
    return [os.path.join(path, r) for r in log.live_files(version)
            if r.startswith(prefix)]


def tx_counters(run: Run, paths) -> None:
    """Commit, live-file and on-disk-file counts of the tx tables."""
    for p in paths:
        log = txlog_mod.TxLog(run.spark, p)
        run.tracer.count("txlog.commits", log.current_version() + 1)
        run.tracer.count("txlog.live_files", len(log.live_files()))
        run.tracer.count("txlog.disk_files", len(oracle.layout_files(p)))


def check_ingest(run: Run, results, out_dir: str, version: int, truth: Truth,
                 n_rejected: int) -> list[str]:
    """Both dual-sink sides read at one committed version hold equal key
    sets; keys are sha256(doc_id); row counts equal the accepted docs;
    vectors have unit norm and equal the reference embedding of each
    doc's text; the reject sides of ``results`` hold exactly the planted
    docs."""
    problems = []
    dp = oracle.read_parquet(tx_files(run, out_dir, version, "datapoints/"),
                             ["data_point_id", "feature_vector"])
    md = oracle.read_parquet(tx_files(run, out_dir, version, "metadata/"),
                             ["data_point_id", "doc_id"])
    if set(dp["data_point_id"]) != set(md["data_point_id"]):
        problems.append("datapoints and metadata key sets differ")
    if any(k != oracle.key(d) for k, d in zip(md["data_point_id"], md["doc_id"])):
        problems.append("data_point_id is not sha256(doc_id)")
    if len(md["doc_id"]) != len(truth.rows):
        problems.append(f"{len(md['doc_id'])} rows, expected {len(truth.rows)}")
    if any(abs(float(np.linalg.norm(np.asarray(v, dtype=np.float64))) - 1.0) > 1e-6
           for v in dp["feature_vector"]):
        problems.append("vector without unit norm")
    problems += truth.check_vectors(dp["data_point_id"], dp["feature_vector"])
    rejected = sum(res.rejected.count() for res in results)
    if rejected != n_rejected:
        problems.append(f"{rejected} rejected, planted {n_rejected}")
    return problems


def _count_embedded(tr, vec) -> None:
    tr.count("hashing.texts_embedded")


def _leaves_per_query(tr, probes) -> None:
    for p in probes:
        tr.sample("pq.probed_leaves", len({int(c) for c in p}))


def patch_layers(run: Run) -> None:
    """In the traced run, calls the engine makes into these layers
    become child spans of the benchmark's own spans. Two of them also
    read the call's result: each text the engine embeds on the driver
    counts toward ``hashing.texts_embedded``, and each query's probe
    list, as the engine computes it, gives ``pq.probed_leaves``."""
    tr = run.tracer
    tr.patch(serving_mod, "embed_query_text", "hashing.embed_query_text",
             observe=_count_embedded)
    tr.patch(pq_mod, "ivf_pq_search", "pq.ivf_pq_search")
    tr.patch(ivf_mod, "_probe_assign_np", "ivf.probe_assign",
             observe=_leaves_per_query)
    tr.patch(txlog_mod, "read_table_any", "txlog.read_table_any")
    tr.patch(txlog_mod, "tx_vacuum", "txlog.tx_vacuum")


# ------------------------------------------------------------------ serve

SERVE_DOCS = 1200
SERVE_OVER_LIMIT = 2
SERVE_CHUNKS = 6  # the corpus lands in this many equal appends
SERVE_SINGLES = 6  # per round, then one window holding them too
SERVE_ROUND_S = 10.5  # nominal wall of one round on a 4-core host


def serve(run: Run) -> None:
    """Read-only traffic over a warm replica. Set-up ingests a corpus
    through the dual sink and builds the index and replica; the timed
    phase is rounds of single requests, each followed by one coalesced
    window that repeats them."""
    patch_layers(run)
    corpus = Corpus(run.seed)
    docs = corpus.fresh(SERVE_DOCS, over_limit=SERVE_OVER_LIMIT)
    accepted = docs.iloc[: SERVE_DOCS - SERVE_OVER_LIMIT]
    truth = Truth(accepted)
    out_dir = run.path("serve_ingest")
    # the corpus lands as equal appends, the over-limit docs in the
    # first; ingest_docs_per_s is the rate over all of them, which
    # averages the first append's worker start and the later appends'
    # JIT warm-up over more jobs than one large append would
    size = SERVE_DOCS // SERVE_CHUNKS
    order = np.roll(np.arange(SERVE_DOCS), size)
    results = []
    t_land = time.perf_counter()
    for c in range(SERVE_CHUNKS):
        res, version = ingest_round(
            run, docs.iloc[order[c * size:(c + 1) * size]], out_dir,
            "overwrite" if c == 0 else "append",
        )
        results.append(res)
    run.ingest_rates.append(SERVE_DOCS / (time.perf_counter() - t_land))
    t0 = time.perf_counter()
    run.setup_problems += check_ingest(run, results, out_dir, version, truth,
                                       SERVE_OVER_LIMIT)
    t1 = time.perf_counter()
    idx = build_index(run, out_dir, "serve", accepted)
    t2 = time.perf_counter()
    run.build_s.append(t2 - t1)
    ids, vecs = brute_from_layout(idx.ivf)
    run.setup_problems += truth.check_vectors(ids, vecs)
    brute = oracle.BruteForce(ids, vecs)
    checks_s = (t1 - t0) + (time.perf_counter() - t2)
    # untimed warm-up: the first request and the first window of a
    # process run far slower than later ones. The request asks for a
    # stored doc, so freshness is the way from landing through ingest
    # and build to a rank-1 answer (checks excluded).
    warm = corpus.queries(accepted, WINDOW)
    request(run, idx, *warm[0], brute, truth, timed=False)
    run.fresh_s.append(run.answered_at - t_land - checks_s)
    window(run, idx, warm, brute, truth, timed=False)
    run.disk_bytes_per_doc = sum(
        oracle.dir_bytes(p) for p in (out_dir, idx.ivf, idx.codes, idx.docs)
    ) / len(truth.rows)
    tx_counters(run, [out_dir])
    run.mark_setup_done()

    for _ in range(run.rounds(SERVE_ROUND_S)):
        singles = {}
        reqs = corpus.queries(accepted, WINDOW)
        for rid, text in reqs[:SERVE_SINGLES]:
            singles[rid] = request(run, idx, rid, text, brute, truth)
        window(run, idx, reqs, brute, truth, singles=singles)
    run.tracer.unpatch()


# ------------------------------------------------------------------ churn

CHURN_DOCS = 800
CHURN_NEW, CHURN_CHANGED, CHURN_PLANTED = 60, 40, 2
CHURN_SINGLES = 4  # live requests per update, after the planted one
CHURN_WINDOWS = 2  # windows per update: enough window time per run that
# batch_qps is not set by a few seconds of host speed
CHURN_ROUND_S = 16.0  # nominal wall of one round on a 4-core host


class Churn:
    """A live index fed by a file source: stream merge -> full PQ
    re-encode -> replica refresh per batch."""

    def __init__(self, run: Run):
        self.run = run
        self.src = run.path("churn_src")
        self.index = run.path("churn_ivf")
        self.codes = run.path("churn_codes")
        self.docs = run.path("churn_docs")
        self.ckpt = run.path("churn_ckpt")
        os.makedirs(self.src)
        self.truth = Truth()
        self.batches = 0
        self.centroids = None
        self.books = None

    def land(self, pdf) -> float:
        """Write one batch file into the source, and the hydration rows
        of its new docs; returns the landing time."""
        name = f"batch-{self.batches:05d}.parquet"
        self.batches += 1
        hydration_table(self.docs, name, pdf[[
            oracle.key(d) not in self.truth.rows for d in pdf.doc_id]])
        pq_files.write_table(pa.table({
            "doc_id": pa.array(pdf.doc_id, pa.int64()),
            "text": list(pdf.text),
        }), os.path.join(self.src, name))
        t = time.perf_counter()
        self.truth.put(pdf)
        return t

    def merge(self) -> None:
        """Merge every landed batch: a streaming upsert run until the
        source is drained, then stopped (a live stream's idle polling
        of the source slows every request beside it)."""
        with self.run.tracer.span("ivf_stream.merge"):
            q = stream_mod.stream_merge_into_ivf_index(
                self.run.spark.readStream.schema("doc_id long, text string")
                .parquet(self.src),
                self.index, self.centroids, checkpoint_dir=self.ckpt,
                n_buckets=4, txlog=True,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

    def encode(self) -> None:
        """Full re-encode: the engine has no incremental code upkeep."""
        with self.run.tracer.span("pq.encode_pq"):
            pq_mod.encode_pq(
                txlog_mod.read_table_any(self.run.spark, self.index),
                self.books, id_col="data_point_id", vec_col="feature_vector",
                keep_cols=("cluster_id",),
            ).codes.write.mode("overwrite").partitionBy("cluster_id").parquet(self.codes)

    def stored(self):
        cols = oracle.read_parquet(tx_files(self.run, self.index),
                                   ["data_point_id", "feature_vector"])
        return cols["data_point_id"], cols["feature_vector"]


def churn(run: Run) -> None:
    """Upsert batches into a live index while a warm replica answers
    requests; a round is one update cycle and its requests, and one
    maintenance pass follows the last round."""
    spark, tr = run.spark, run.tracer
    patch_layers(run)
    corpus = Corpus(run.seed)
    ch = Churn(run)
    initial = corpus.fresh(CHURN_DOCS)
    ch.land(initial)
    # leaves seeded from the first docs' embeddings (driver-side)
    ch.centroids = np.stack([
        serving_mod.embed_query_text(t) for t in initial.text[:N_CLUSTERS]
    ]).astype(np.float64)
    ch.merge()
    ch.books = pq_mod.train_pq(
        txlog_mod.read_table_any(spark, ch.index), vec_col="feature_vector",
        m=PQ_M, ksub=PQ_KSUB, iters=PQ_ITERS, seed=run.seed,
    )
    ch.encode()
    idx = Index(run, "churn")
    idx.replica = serving_mod.ServingReplica.from_source(
        spark,
        serving_mod.ReplicaSource(
            vectors_path=ch.index, codes_path=ch.codes, books=ch.books,
            centroids=lambda: ch.centroids,
            docs=lambda s: s.read.parquet(ch.docs),
            id_col="data_point_id", vec_col="feature_vector",
            extra_paths=(ch.docs,),
        ),
        doc_id_col="data_point_id",
    )
    run.setup_problems += ch.truth.check_vectors(*ch.stored())
    run.mark_setup_done()

    for _ in range(run.rounds(CHURN_ROUND_S)):
        live = ch.truth.frame(corpus)
        changed = corpus.edit(live.iloc[corpus.rng.choice(
            len(live), CHURN_CHANGED, replace=False)], 1.0)
        planted = corpus.fresh(CHURN_PLANTED, dup_share=0.0)
        batch = pd.concat([corpus.fresh(CHURN_NEW, dup_share=0.0),
                           changed, planted], ignore_index=True)
        t_land = ch.land(batch)
        with tr.span("churn.update"):
            t0 = time.perf_counter()
            ch.merge()
            t1 = time.perf_counter()
            ch.encode()
            with tr.span("serving.is_stale"):
                stale = idx.replica.is_stale()
            with tr.span("serving.refresh"):
                idx.replica.refresh()
            t2 = time.perf_counter()
        run.ingest_rates.append(len(batch) / (t1 - t0))
        run.build_s.append(t2 - t1)
        ids, vecs = ch.stored()
        problems = ch.truth.check_vectors(ids, vecs)
        if not stale:
            problems.append("replica not stale after a merge")
        run.op("update", problems)
        brute = oracle.BruteForce(ids, vecs)
        checks_s = time.perf_counter() - t2
        # the first single request asks for a planted doc: it times
        # freshness, and runs first after the refresh, so it is not a
        # query_p50_ms sample. Then live singles; the first window
        # repeats the singles and asks for every planted doc, the
        # others ask for new live queries.
        reqs = [(10**12 + corpus.next_id + j, t)
                for j, t in enumerate(planted.text)]
        corpus.next_id += len(reqs)
        reqs += corpus.queries(live, WINDOW - len(reqs))
        rid, text = reqs[0]
        singles = {rid: request(run, idx, rid, text, brute, ch.truth,
                                timed=False)}
        run.fresh_s.append(run.answered_at - t_land - checks_s)
        for rid, text in reqs[CHURN_PLANTED:CHURN_PLANTED + CHURN_SINGLES]:
            singles[rid] = request(run, idx, rid, text, brute, ch.truth)
        window(run, idx, reqs, brute, ch.truth, singles=singles)
        for _ in range(CHURN_WINDOWS - 1):
            window(run, idx, corpus.queries(live, WINDOW), brute, ch.truth)
    # one maintenance pass per run, after the last batch
    with tr.span("maintenance.maintain_index"):
        report = maint_mod.maintain_index(
            spark, ch.index, ch.centroids, min_age_seconds=0,
            max_leaf_rows=10**9, max_drift_fraction=1.1,
        )
    ch.centroids = report["centroids"]
    for step in ("heal_gc", "compact", "drift"):
        tr.count(f"maintenance.{step}_s", report["timings"][step])
    tr.count("maintenance.files_before", report["files_before"])
    tr.count("maintenance.files_after", report["files_after"])
    run.op("maintain", ch.truth.check_vectors(*ch.stored()))
    tr.unpatch()
    run.disk_bytes_per_doc = sum(
        oracle.dir_bytes(p) for p in (ch.index, ch.codes, ch.docs)
    ) / len(ch.truth.rows)
    tx_counters(run, [ch.index])
