"""sf-scaling evidence curve (VERDICT r5 #8): measure the repo's
heaviest bench queries at sf0.1 AND a locally-synthesized Nx fixture
(default 10x ~ sf1), and report the per-query scaling exponent
alpha = log(t_Nx / t_1x) / log(N)  --  alpha ~ 1.0 = linear scaling,
the cheapest locally-obtainable proof that the 100 TB plan shapes
hold beyond the single sf0.1 measurement point.

The Nx fixture replicates sf0.1 with id-shifted epochs (deterministic;
epoch>0 documents get a per-epoch text suffix so exact-duplicate mass
does not multiply and dedup selectivity stays in-distribution). Events
shift by epoch days to EXTEND the stream rather than stack the same
timestamps. Usage:

    python scripts/scale_curve.py            # build fixture + bench
    python scripts/scale_curve.py --reuse    # reuse existing fixture

Prints one JSON line per run; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

SRC = "/root/testdata/sf0.1"
EPOCHS = int(os.environ.get("SPARK_GRAFT_SCALE_EPOCHS", "10"))
DST = os.environ.get(
    "SPARK_GRAFT_SCALE_DIR", f"/tmp/sparkgraft_sf0.1x{EPOCHS}"
)

# The heaviest bench queries of BENCH_r05 (plan-audited set) + the two
# ANN recall gates (embeddings-table scaling).
QUERIES = [
    "dedup_minhash_lsh",
    "dedup_clusters_cc",
    "training_corpus_pipeline",
    "dsir_importance",
    "web_corpus_pipeline",
    "ann_recall_ivf",
    "ann_recall_pq",
    # r6-new heavy queries. NOTE: semdedup is measured in its
    # PRODUCTION configuration (n_clusters ~ rows/500, gemm pairs) --
    # the declared gate's fixed-16-data-row quantizer is the ORACLE
    # config and is quadratic-per-cluster by construction, which is
    # exactly the regime the scaling cluster count exists to avoid.
    "semdedup_production",
    "bpe_train_merges",
    # r10-new heavy queries: the streaming maintenance gates run real
    # micro-batched lineages whose per-batch partials are bounded --
    # the curve checks the end-to-end run (source write + N sinks +
    # state-table read-back) stays ~linear. Minhash is measured in its
    # PRODUCTION configuration (full corpus, xxhash64) -- the declared
    # gate's doc_id < 120 cap is an oracle device, the semdedup rule.
    # The reembed capstone is EXCLUDED by design: its forced 64-row
    # leaf cap is a fixture-relative test device that recluster cannot
    # (and should not) satisfy at 10x row counts.
    "streaming_minhash_production",
    "streaming_sketches_maintained",
    # r10-late: the continuous-ingest merge sink gate embeds + merges
    # the FULL corpus across 3 micro-batches -- production-shaped
    "streaming_merge_upsert_maintained",
    # r11 (VERDICT r10 #3): the three STATE-STORE-bound stateful gates,
    # in production configs -- no sentinel batch, no oracle-device row
    # caps. Their cost is state-store I/O, the one term least readable
    # from plan shape; the scaled fixture EXTENDS the event stream by
    # epoch-shifted time ranges (same 1500-user population, so
    # sessionizer/join state stays O(active keys in horizon) while
    # throughput scales -- exactly the economics the curve checks).
    "streaming_sessionize_production",
    "streaming_interval_join_attrib",
    "streaming_dedup_exact_production",
    # r12 (VERDICT r11 #3): the orchestrated nightly maintenance pass
    # itself -- its cost is a sum of listing scans + the compaction
    # rewrite + the budget-capped recluster, the one operator whose
    # cost could bend upward with FILE COUNT rather than bytes. The
    # index build is cached per sf_dir; each timed run plants fresh
    # micro-batch debt (fragmented leaves + a crash remnant) and pays
    # the full heal -> GC -> compact -> drift -> recluster pass at the
    # production leaf cap, live-writer off. The per-step split prints
    # from maintain_index's report["timings"].
    "maintain_index_production",
    # r12-new operators: the WordPiece lifecycle (vocabulary-sized
    # merge rounds + per-DISTINCT-word longest-match encode + one
    # positions join) and the z-order layout REWRITE (one sort
    # shuffle; the Morton key is codegen'd integer terms).
    "wordpiece_tokenize_corpus",
    "zorder_write_production",
    # r13-new operators: multimodal lossy-DCT decode THROUGHPUT over
    # the full documents table (the declared gates cap doc_id < 12 as
    # an oracle device; this measures the real decode economics -- a
    # narrow mapInPandas, no shuffle, alpha ~ 1 expected) and the
    # request-coalescing serving window against the scaled index
    # (probed-leaf ADC cost grows with leaf size; window fixed).
    "multimodal_dct_production",
    "serving_batch_production",
    # r14-new operators: video decode throughput over the FULL
    # documents table (container walk O(videos) + per-frame decode,
    # narrow mapInPandas; the declared gate caps doc_id < 8 as an
    # oracle device), the FFT audio featurizer over the full table
    # (decode + rfft per doc, shuffle-free), and the DoReMi mixture
    # (one corpus explode -> vocabulary-sized everything).
    "video_dct_production",
    "audio_spectral_production",
    "doremi_domain_mix",
]


def _streaming_minhash_production(spark, sf_dir):
    """Online MinHash-LSH dedup at production config: the FULL
    documents table streamed in 3 micro-batches (doc_id % 3 groups)
    through streaming/dedup_minhash.py, maintaining the banded
    signature state table across batches."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from rag_vertex_ai_vector_search_spark.sources import load_table
    from rag_vertex_ai_vector_search_spark.streaming.dedup_minhash import (
        stream_dedup_minhash,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="scale_stream_mh_")
    try:
        src = f"{work}/src"
        docs.filter(F.col("doc_id") % 3 == 0).write.parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            src
        )
        q = stream_dedup_minhash(
            stream,
            state_path=f"{work}/state",
            out_path=f"{work}/out",
            checkpoint_dir=f"{work}/ckpt",
            est_threshold=0.5,
        )
        try:
            q.processAllAvailable()
            for e in (1, 2):
                # coalesce(1): a mid-run multi-file append races the
                # file-source listing (CLAUDE.md streaming-append rule);
                # one file commits atomically to the listing.
                docs.filter(F.col("doc_id") % 3 == e).coalesce(
                    1
                ).write.mode("append").parquet(src)
                q.processAllAvailable()
            last = q.lastProgress
        finally:
            q.stop()
        # Guard on the BATCH count, not on out-table epochs: at 10x the
        # epoch-shifted near-dup variants mean batches 1-2 legitimately
        # keep ZERO rows (every doc near-dups a batch-0 keeper), and an
        # empty dynamic-overwrite partition writes no epoch dir -- but a
        # split epoch would still show up as batchId > 2.
        if last is None or int(last["batchId"]) != 2:
            raise RuntimeError(
                "scale-curve stream ran "
                f"{(int(last['batchId']) + 1) if last else 0} micro-"
                "batches; expected exactly 3 (one per doc_id % 3 group)"
            )
        return spark.read.parquet(f"{work}/out").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _streaming_sessionize_production(spark, sf_dir):
    """applyInPandasWithState sessionizer at production config: the
    FULL events table in 3 time-range micro-batches, NO sentinel batch
    (the archive gate's sentinel is an oracle device) -- pending
    sessions close via the event-time timeout as the watermark
    advances; the last ones legitimately stay pending."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from rag_vertex_ai_vector_search_spark.sources import load_table
    from rag_vertex_ai_vector_search_spark.streaming.stateful import (
        stream_sessionize,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    tmin, tmax = ev.agg(F.min("ts"), F.max("ts")).first()
    t1 = tmin + (tmax - tmin) / 3
    t2 = tmin + 2 * ((tmax - tmin) / 3)
    qname = f"scale_sessions_{uuid.uuid4().hex}"
    work = tempfile.mkdtemp(prefix="scale_sessionize_")
    try:
        src = f"{work}/src"
        ev.filter(F.col("ts") < F.lit(t1)).coalesce(1).write.parquet(src)
        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_sessionize(stream, f"{work}/ckpt", qname)
        try:
            q.processAllAvailable()
            for cond in (
                (F.col("ts") >= F.lit(t1)) & (F.col("ts") < F.lit(t2)),
                F.col("ts") >= F.lit(t2),
            ):
                # single-file append: atomic w.r.t. the source listing
                ev.filter(cond).coalesce(1).write.mode("append").parquet(
                    src
                )
                q.processAllAvailable()
        finally:
            q.stop()
        return spark.sql(
            f"SELECT * FROM {qname}"
        ).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(qname)
        shutil.rmtree(work, ignore_errors=True)


def _streaming_dedup_exact_production(spark, sf_dir):
    """dropDuplicatesWithinWatermark at production config: the FULL
    documents corpus (no doc_id cap, no planted copies -- the fixture's
    real exact duplicates are the workload) streamed in 3 micro-batches
    5 minutes apart, all inside the 10-minute horizon. State-store
    bound, so shuffle partitions scope to 8 (CLAUDE.md r10 rule)."""
    import datetime as _dt
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from __spark_entry__ import _scoped_shuffle_partitions
    from rag_vertex_ai_vector_search_spark.sources import load_table
    from rag_vertex_ai_vector_search_spark.streaming.dedup import (
        stream_dedup_exact,
    )

    t0 = _dt.datetime(2024, 6, 1)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="scale_dedupx_")
    try:
        src = f"{work}/src"
        out = f"{work}/out"

        def batch(e):
            return docs.filter(F.col("doc_id") % 3 == e).select(
                "doc_id",
                F.lit(t0 + _dt.timedelta(minutes=5 * e)).alias("ts"),
                "text",
            )

        batch(0).coalesce(1).write.parquet(src)
        stream = (
            spark.readStream
            .schema("doc_id long, ts timestamp, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with _scoped_shuffle_partitions(spark, 8):
            q = (
                stream_dedup_exact(stream, horizon="10 minutes")
                .select("doc_id", "fingerprint")
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", f"{work}/ckpt")
                .start()
            )
            try:
                q.processAllAvailable()
                for e in (1, 2):
                    batch(e).coalesce(1).write.mode("append").parquet(src)
                    q.processAllAvailable()
            finally:
                q.stop()
        return spark.read.parquet(out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_MAINTAIN_CACHE: dict = {}


def _maintain_index_production(spark, sf_dir):
    """One orchestrated nightly maintenance pass over a production-
    shaped IVF layout (leaves ~500 rows: n_clusters = n/500). The
    trained index is cached per sf_dir (warm-build cost is not the
    operator under test); each timed call writes the layout with
    REALISTIC merge debt -- per-micro-batch merges concentrate in hot
    leaves, so the HOT QUARTER of leaves lands freshly fragmented
    (~16 files each) while cold leaves stay at one file (r16; the r15
    shape fragmented every leaf, which forced the compaction to be a
    full-table rewrite by construction and hid the scoped-compaction
    lever) -- plus a crash-remnant _temporary dir. Then it pays the
    full heal -> GC -> scoped-compact -> drift -> recluster pass with
    the writer paused, and asserts row-set equality (count + distinct
    ids) across the pass. max_leaf_rows = 1.1x the mean leaf flags the
    KMeans imbalance tail, so the recluster step genuinely runs."""
    import shutil
    import tempfile

    from rag_vertex_ai_vector_search_spark.operators.ivf import (
        build_ivf_index,
    )
    from rag_vertex_ai_vector_search_spark.sources import load_table
    from rag_vertex_ai_vector_search_spark.streaming.maintenance import (
        maintain_index,
    )

    if sf_dir not in _MAINTAIN_CACHE:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        n = emb.count()
        n_clusters = max(8, n // 500)
        ivf = build_ivf_index(emb, n_clusters=n_clusters)
        # cap = 1.1x the mean leaf: the KMeans imbalance tail always
        # has members above it, so the recluster step genuinely runs
        # at every scale (production semantics: a nightly pass that
        # finds work), while the worst-first budget bounds its cost.
        cap = max(1, int(round(1.1 * n / n_clusters)))
        _MAINTAIN_CACHE[sf_dir] = (
            ivf.assigned.localCheckpoint(eager=True), ivf.centroids, cap
        )
    assigned, centroids, cap = _MAINTAIN_CACHE[sf_dir]

    work = tempfile.mkdtemp(prefix="scale_maintain_")
    try:
        from pyspark.sql import functions as F

        path = f"{work}/index"
        hot = assigned.filter(F.col("cluster_id") % 4 == 0)
        cold = assigned.filter(F.col("cluster_id") % 4 != 0)
        hot.repartition(16).write.partitionBy("cluster_id").parquet(path)
        cold.repartition(1).write.mode("append").partitionBy(
            "cluster_id"
        ).parquet(path)
        os.makedirs(f"{path}/_temporary/0", exist_ok=True)
        n_rows = assigned.count()
        report = maintain_index(
            spark, path, centroids,
            writer_active=False, min_age_seconds=0.0,
            max_leaf_rows=cap, vec_col="embedding", id_col="vec_id",
        )
        print(
            f"# maintain_index split ({sf_dir}): {report['timings']} "
            f"files {report['files_before']}->{report['files_after']} "
            f"scope={report['compact_scope']} "
            f"recluster_ran={report['recluster_ran']}",
            file=sys.stderr,
        )
        spark.catalog.refreshByPath(path)
        after = spark.read.parquet(path)
        got = after.agg(
            F.count(F.lit(1)), F.countDistinct("vec_id")
        ).collect()[0]
        assert (got[0], got[1]) == (n_rows, n_rows), (
            f"maintenance changed the row set: {got} != {n_rows}"
        )
        return after.groupBy("cluster_id").count().localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _zorder_write_production(spark, sf_dir):
    """write_zordered over the orders table: the layout rewrite cost
    (key projection + repartitionByRange + in-partition sort + write),
    the compaction envelope with a sort key attached."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from rag_vertex_ai_vector_search_spark.operators.layout import (
        write_zordered,
    )
    from rag_vertex_ai_vector_search_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_orderdate").cast("long").alias("o_epoch"),
    )
    work = tempfile.mkdtemp(prefix="scale_zorder_")
    try:
        write_zordered(
            orders, f"{work}/z", ["o_custkey", "o_epoch"], bits=16,
        )
        return spark.read.parquet(f"{work}/z").groupBy(
            "o_custkey"
        ).count().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _multimodal_dct_production(spark, sf_dir):
    """4:2:0 flat-block synthesis + REAL subsampled decode + per-block
    stats over the FULL documents table -- the decode-throughput
    economics of the multimodal pipeline (one narrow mapInPandas
    stage; at 100 TB the same stage maps over a binaryFile scan)."""
    from rag_vertex_ai_vector_search_spark.multimodal.binary_ops import (
        extract_dct_block_stats,
    )
    from rag_vertex_ai_vector_search_spark.multimodal.synthesis import (
        synthesize_media_dct420,
    )
    from rag_vertex_ai_vector_search_spark.sources import fan_out, load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return extract_dct_block_stats(
        synthesize_media_dct420(fan_out(docs))
    )


_SERVING_SCALE_CACHE: dict = {}


def _serving_batch_production(spark, sf_dir):
    """Request-coalescing serving window (ServingReplica.query_batch,
    256 requests, one job-free pass) against an IVF-PQ index over the
    SCALED embeddings table; the warm-replica build is cached per
    sf_dir (startup cost, paid outside the timing like bench.py's
    serving entries)."""
    from pyspark.sql import functions as F

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

    rep = _SERVING_SCALE_CACHE.get(sf_dir)
    if rep is None:
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        ivf = build_ivf_index(emb, n_clusters=max(8, n // 500))
        ivf.assigned.cache().count()
        books = train_pq(emb, m=8, ksub=16, iters=4, sample_rows=2000)
        pq = encode_pq(ivf.assigned, books, keep_cols=("cluster_id",))
        pq.codes.cache().count()
        rep = ServingReplica(
            spark,
            IVFIndex(
                assigned=ivf.assigned, centroids=ivf.centroids,
                id_col="vec_id", vec_col="embedding",
            ),
            PQIndex(codes=pq.codes, books=books, id_col="vec_id"),
            None,
            dim=64,
        )
        _SERVING_SCALE_CACHE[sf_dir] = rep
    answers = rep.query_batch(
        [(920000 + i, f"scale window {i}") for i in range(256)],
        k=10, probe_percent=10.0,
    )
    assert sum(len(r) for _, r in answers) > 0
    return spark.range(1).select(F.lit(len(answers)).alias("n"))


def _video_dct_production(spark, sf_dir):
    """MJPEG AVI synthesis + ONE RIFF walk per video + per-frame real
    decode + block stats over the FULL documents table (the r14 video
    gate's machinery at decode-throughput scale)."""
    from rag_vertex_ai_vector_search_spark.multimodal.binary_ops import (
        extract_dct_block_stats,
        slice_video_frames,
    )
    from rag_vertex_ai_vector_search_spark.multimodal.synthesis import (
        synthesize_media_video_dct,
    )
    from rag_vertex_ai_vector_search_spark.sources import fan_out, load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    frames = slice_video_frames(
        synthesize_media_video_dct(fan_out(docs)), every_k=1
    )
    return extract_dct_block_stats(
        frames.select(
            "doc_id", "frame_index",
            F.col("frame_payload").alias("content"),
        ),
        passthrough_cols=("frame_index",),
    )


def _audio_spectral_production(spark, sf_dir):
    """Three-tone WAV synthesis + real decode + numpy rfft + spectral
    features over the FULL documents table."""
    from rag_vertex_ai_vector_search_spark.multimodal.binary_ops import (
        extract_audio_spectral_features,
    )
    from rag_vertex_ai_vector_search_spark.multimodal.synthesis import (
        synthesize_audio_spectral,
    )
    from rag_vertex_ai_vector_search_spark.sources import fan_out, load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return extract_audio_spectral_features(
        synthesize_audio_spectral(fan_out(docs))
    ).drop("features")


_LOCAL_PRODUCTION = {
    "video_dct_production": _video_dct_production,
    "audio_spectral_production": _audio_spectral_production,
    "multimodal_dct_production": _multimodal_dct_production,
    "serving_batch_production": _serving_batch_production,
    "streaming_minhash_production": _streaming_minhash_production,
    "streaming_sessionize_production": _streaming_sessionize_production,
    "streaming_dedup_exact_production": _streaming_dedup_exact_production,
    "maintain_index_production": _maintain_index_production,
    "zorder_write_production": _zorder_write_production,
}


def _resolve(name, entrymod):
    if name == "semdedup_production":
        # single definition, shared with the bench harness (r7: the
        # production config is benched in bench.py proper too)
        from bench import _semdedup_production

        return _semdedup_production
    if name in _LOCAL_PRODUCTION:
        return _LOCAL_PRODUCTION[name]
    qs = entrymod.queries()
    if name in qs:
        return qs[name]
    return entrymod.queries_archive()[name]


def build_fixture(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(DST, exist_ok=True)

    def union_epochs(df, transforms):
        out = None
        for e in range(EPOCHS):
            part = transforms(df, e)
            out = part if out is None else out.unionByName(part)
        return out

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    n_docs = docs.count()
    union_epochs(
        docs,
        lambda df, e: df.select(
            (F.col("doc_id") + F.lit(e * n_docs)).alias("doc_id"),
            (
                F.col("text") if e == 0
                else F.concat(F.col("text"), F.lit(f" epoch{e}"))
            ).alias("text"),
            *[c for c in df.columns if c not in ("doc_id", "text")],
        ),
    ).coalesce(1).write.mode("overwrite").parquet(f"{DST}/documents.parquet")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    n_emb = emb.count()
    union_epochs(
        emb,
        lambda df, e: df.select(
            (F.col("vec_id") + F.lit(e * n_emb)).alias("vec_id"),
            *[c for c in df.columns if c != "vec_id"],
        ),
    ).coalesce(1).write.mode("overwrite").parquet(f"{DST}/embeddings.parquet")

    # events: EXTEND the stream rather than stack the same timestamps
    # -- each epoch shifts by (span + 1 day), so event time keeps
    # advancing and watermark/state semantics stay in-distribution;
    # the user population is unchanged (state stays O(active keys in
    # horizon) while throughput scales -- the stateful-gate economics
    # the r11 curve rows check). Read via load_table (normalizes the
    # fixture's NANOS physical type).
    from rag_vertex_ai_vector_search_spark.sources import load_table

    events = load_table(spark, SRC.rstrip("/"), "events")
    n_events = events.count()
    import datetime as _dt

    tmin, tmax = events.agg(F.min("ts"), F.max("ts")).first()
    shift_days = (tmax - tmin).days + 1
    union_epochs(
        events,
        lambda df, e: df.select(
            (F.col("event_id") + F.lit(e * n_events)).alias("event_id"),
            (
                F.col("ts")
                + F.expr(f"INTERVAL {e * shift_days} DAYS")
            ).alias("ts"),
            *[c for c in df.columns if c not in ("event_id", "ts")],
        ),
    ).coalesce(1).write.mode("overwrite").parquet(f"{DST}/events.parquet")

    # remaining tables: byte-identical copies (only the hot tables scale)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        dst = f"{DST}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(f"{SRC}/{t}.parquet", dst)


def main() -> None:
    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "8g")
        .appName("scale_curve")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if "--reuse" not in sys.argv or not os.path.exists(f"{DST}/documents.parquet"):
        build_fixture(spark)

    import math
    results = {}
    only = os.environ.get("SPARK_GRAFT_SCALE_ONLY")
    names = (
        [n for n in QUERIES if n in set(only.split(","))]
        if only else QUERIES
    )
    for name in names:
        fn = _resolve(name, entrymod)
        times = {}
        for label, sf_dir in (("base", SRC), ("scaled", DST)):
            best = None
            for _ in range(2):  # min-of-2, same policy as bench.py
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            times[label] = round(best, 3)
        alpha = math.log(times["scaled"] / times["base"]) / math.log(EPOCHS)
        results[name] = {**times, "alpha": round(alpha, 2)}
        print(f"# {name}: {times['base']}s -> {times['scaled']}s "
              f"(alpha={results[name]['alpha']})", file=sys.stderr)
    print(json.dumps({"metric": "scale_curve", "epochs": EPOCHS,
                      "queries": results}))


if __name__ == "__main__":
    main()
