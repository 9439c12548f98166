"""Wall of one small stream-merge epoch on each executor, over local tx
indexes of growing live size: the measurement behind
``ivf_stream.DRIVER_EPOCH_BUDGET_BYTES``.

    python scripts/epoch_crossover.py DIR [ROWS ...]

For each ROWS (default 10000 40000 160000 320000) it builds one tx index
of that many documents (dim 64, the default 32 merge buckets, texts of
about 60 words), then runs one epoch of 60 new keys and 40 rewrites into
fresh copies of it, alternating the driver executor (the budget raised
past the index) and the Spark executor (the budget at 0), ``REPS`` times
each. It prints one JSON line per size: the index's live bytes, and per
executor the epoch walls (median, min, max, in seconds) and the jobs one
epoch launches, and for the driver the Arrow memory it holds when the
kernel returns (the touched rows read, the update rows and the
winners; the sort before the write adds one more copy of the touched
rows). The build is not a measurement. DIR is deleted.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rag_vertex_ai_vector_search_spark.session import get_spark  # noqa: E402
from rag_vertex_ai_vector_search_spark.sources.txlog import TxLog  # noqa: E402
from rag_vertex_ai_vector_search_spark.streaming import ivf_stream  # noqa: E402

DIM = 64
REPS = 3
SCHEMA = "doc_id long, text string"
CENTROIDS = np.random.RandomState(3).randn(16, DIM)
VOCAB = [f"w{i}" for i in range(4000)]


def _texts(rng, n: int) -> list[str]:
    lengths = np.clip(rng.lognormal(4.1, 0.6, n), 8, 600).astype(int)
    return [" ".join(rng.choice(VOCAB, size=k)) for k in lengths]


def _land(src: str, ids, texts) -> None:
    os.makedirs(src, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(list(ids), pa.int64()),
        "text": pa.array(texts, pa.string()),
    }), os.path.join(src, "batch.parquet"))


def _epoch(spark, src: str, index: str, ckpt: str, budget: int) -> tuple:
    """(wall of the merge, jobs it launched, Arrow bytes allocated when
    the kernel returned on the driver or 0) of draining ``src``."""
    timed: list[tuple[float, int]] = []
    held = [0]
    merge = ivf_stream._tx_merge_batch
    kernel = ivf_stream.merge_keys

    def _held(*args, **kwargs):
        out = kernel(*args, **kwargs)
        held[0] = max(held[0], pa.total_allocated_bytes())
        return out
    jsc = spark.sparkContext._jsc.sc()

    def _timed(*args, **kwargs):
        j0 = jsc.dagScheduler().nextJobId()
        t0 = time.perf_counter()
        out = merge(*args, **kwargs)
        timed.append((
            time.perf_counter() - t0, jsc.dagScheduler().nextJobId() - j0
        ))
        return out

    saved = ivf_stream.DRIVER_EPOCH_BUDGET_BYTES
    ivf_stream.DRIVER_EPOCH_BUDGET_BYTES = budget
    ivf_stream._tx_merge_batch = _timed
    ivf_stream.merge_keys = _held
    try:
        q = ivf_stream.stream_merge_into_ivf_index(
            spark.readStream.schema(SCHEMA).parquet(src), index, CENTROIDS,
            checkpoint_dir=ckpt, dim=DIM, txlog=True,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        ivf_stream._tx_merge_batch = merge
        ivf_stream.merge_keys = kernel
        ivf_stream.DRIVER_EPOCH_BUDGET_BYTES = saved
    (wall, jobs), = timed
    return wall, jobs, held[0]


def main(root: str, sizes: list[int]) -> None:
    spark = get_spark("epoch-crossover")
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(1)
    for n in sizes:
        work = os.path.join(root, str(n))
        base = os.path.join(work, "base")
        _land(os.path.join(work, "src0"), range(n), _texts(rng, n))
        _epoch(spark, os.path.join(work, "src0"), base,
               os.path.join(work, "ck0"), 0)
        live = TxLog(spark, base).table_stats()[1]
        upd = os.path.join(work, "src1")
        _land(upd, [*range(n, n + 60), *range(40)], _texts(rng, 100))
        walls: dict[str, list[float]] = {"driver": [], "spark": []}
        jobs: dict[str, int] = {}
        held = 0
        for rep in range(REPS):
            order = ("driver", "spark") if rep % 2 == 0 else ("spark", "driver")
            for side in order:
                index = os.path.join(work, f"{side}{rep}")
                shutil.copytree(base, index)
                wall, jobs[side], h = _epoch(
                    spark, upd, index, os.path.join(work, f"ck-{side}{rep}"),
                    2 * live + (1 << 30) if side == "driver" else 0,
                )
                walls[side].append(wall)
                held = max(held, h)
                shutil.rmtree(index)
        print(json.dumps({
            "rows": n, "live_bytes": live, "driver_arrow_bytes": held,
            **{
                side: {
                    "median_s": round(statistics.median(w), 3),
                    "min_s": round(min(w), 3), "max_s": round(max(w), 3),
                    "jobs": jobs[side],
                }
                for side, w in walls.items()
            },
        }), flush=True)
        shutil.rmtree(work)
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1], [int(x) for x in sys.argv[2:]] or [10000, 40000, 160000, 320000])
