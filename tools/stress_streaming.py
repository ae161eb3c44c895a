"""Streaming throughput probe (r11, VERDICT r10 task 5) — the
streaming modules are equivalence- and restart-tested but were never
MEASURED. This drives the production foreachBatch dedup pipeline
(probe → drop near-dups → ONE idempotent multi-table transaction
commit → fold index) with 100+ real microbatches at sf3 corpus volume and records
the numbers a capacity plan needs:

- sustained docs/s end-to-end (wall clock over all microbatches);
- per-batch commit latency: first / median / p90 / last — the curve
  must be FLAT in corpus size (the incremental index probes
  bucket-bounded candidates; a rising curve would mean probe cost
  grows with the accumulated corpus, the O(n²) failure mode);
- state size over time: admitted-corpus / signature / band table
  rows and on-disk bytes at the end, plus the manifest version count
  (3 commits per batch) — growth must be O(admitted batch), never
  O(corpus) per batch.

The batch stream is the sf3 documents table re-written as
``n_batches`` small parquet files and consumed with
``maxFilesPerTrigger=1`` — one file per microbatch, Trigger.AvailableNow,
so the probe is deterministic and replayable.

Usage: python tools/stress_streaming.py [replicas] [n_batches] [src]
                                        [maintenance_every]
       (defaults 30, 128, /root/testdata/sf0.1, 0=off; TE_SF1_REUSE=1
       reuses the stress_sf1 build. maintenance_every=k inlines the
       compact+vacuum pair every k batches — the r11 fix for the
       measured +4 ms/batch manifest/file growth.)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.stress_sf1 import OUT, build  # noqa: E402

STREAM_SRC = "/tmp/te_stream_docs"
ROOT = "/tmp/te_stream_dedup"


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirnames, filenames in os.walk(path):
        for f in filenames:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    maintenance = int(sys.argv[4]) if len(sys.argv) > 4 else 0

    from trendengine_spark.session import get_spark
    from trendengine_spark.streaming.dedup_pipeline import (
        dedup_fold_batch,
        init_dedup_root,
    )
    from trendengine_spark.tablelog import (
        current_version,
        read_multi_versioned,
    )

    spark = get_spark(app_name="stress_streaming")
    if os.environ.get("TE_SF1_REUSE") == "1" and os.path.exists(OUT):
        print("build: reused existing", file=sys.stderr)
    else:
        t0 = time.perf_counter()
        build(spark, src, replicas)
        print(f"build: {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    docs = spark.read.parquet(f"{OUT}/documents.parquet")
    n_docs = docs.count()
    schema = docs.schema

    keep_src = os.environ.get("TE_STREAM_KEEP_SRC") == "1"
    if os.environ.get("TE_STREAM_RESUME") == "1":
        print("resuming from existing checkpoint", file=sys.stderr)
    else:
        # TE_STREAM_KEEP_SRC=1 wipes only the dedup root and keeps
        # the microbatch files: kill/resume runs must consume the
        # IDENTICAL batch sequence as the clean run they are compared
        # against (a keyless repartition re-deals docs to batches, and
        # first-seen dedup admission is batch-composition-dependent —
        # a rebuilt source makes a 1-row state delta look like an
        # exactly-once violation; r14 probe lesson)
        targets = (ROOT,) if keep_src else (STREAM_SRC, ROOT)
        for p in targets:
            shutil.rmtree(p, ignore_errors=True)
    # one file per microbatch: keyless repartition = RoundRobin
    # partitioning, every partition non-empty and near-equal (hashing
    # doc_id % n left ~1/e of the partitions empty — 81 files, not
    # 128)
    if os.environ.get("TE_STREAM_RESUME") != "1":
        if not (keep_src and os.path.exists(STREAM_SRC)):
            docs.repartition(n_batches).write.parquet(STREAM_SRC)
        init_dedup_root(ROOT, num_perm=64, bands=16)

    lat: list[float] = []

    # r14 (VERDICT r13 #7): exactly-once restart at probe scale.
    # TE_STREAM_KILL_AT=k hard-kills the process (os._exit — no
    # cleanup, the honest crash) the first time batch k is ENTERED,
    # leaving a torn run behind; relaunching the same command resumes
    # from the checkpoint and must replay batch k exactly once (the
    # per-batch multi-table transaction commit is idempotent on
    # batch id). The final state digest must equal a clean run's.
    kill_at = int(os.environ.get("TE_STREAM_KILL_AT", "-1"))
    kill_marker = os.path.join(ROOT, "_killed_once")

    def fold(bdf, bid):
        if bid == kill_at and not os.path.exists(kill_marker):
            with open(kill_marker, "w") as fh:
                fh.write(str(bid))
            print(f"KILLING at batch {bid}", file=sys.stderr, flush=True)
            os._exit(17)
        t0 = time.perf_counter()
        dedup_fold_batch(
            bdf, bid, ROOT, threshold=0.9,
            maintenance_every=maintenance or None,
        )
        lat.append(time.perf_counter() - t0)
        if bid % 16 == 0:
            print(f"batch {bid}: {lat[-1]:.2f}s", file=sys.stderr)

    t0 = time.perf_counter()
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(STREAM_SRC)
        .writeStream.foreachBatch(fold)
        .queryName("stress_dedup_stream")
        .option("checkpointLocation", os.path.join(ROOT, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0

    corpus = read_multi_versioned(spark, ROOT, "corpus")
    sigs = read_multi_versioned(spark, ROOT, "signatures")
    bands = read_multi_versioned(spark, ROOT, "bands")
    slat = sorted(lat)
    print(
        json.dumps(
            {
                "probe": "streaming_dedup",
                "maintenance_every": maintenance,
                "replicas": replicas,
                "n_docs": n_docs,
                "n_batches": len(lat),
                "wall_sec": round(wall, 1),
                "docs_per_sec": round(n_docs / wall, 1),
                "batch_latency_sec": {
                    "first": round(lat[0], 2),
                    "median": round(slat[len(slat) // 2], 2),
                    "p90": round(slat[int(len(slat) * 0.9)], 2),
                    "last": round(lat[-1], 2),
                    "max": round(slat[-1], 2),
                },
                "state_rows": {
                    "corpus": corpus.count(),
                    "signatures": sigs.count(),
                    "bands": bands.count(),
                },
                "state_bytes": {
                    "corpus": _du(os.path.join(ROOT, "corpus")),
                    "signatures": _du(os.path.join(ROOT, "signatures")),
                    "bands": _du(os.path.join(ROOT, "bands")),
                },
                "manifest_versions": {"root": current_version(ROOT)},
                # order-independent content digest of the admitted
                # corpus — the exactly-once comparator across
                # kill/resume vs clean runs
                "corpus_digest": int(
                    corpus.selectExpr(
                        "COALESCE(sum(pmod(xxhash64(doc_id),"
                        " 1000000007)), 0) AS h"
                    ).first()["h"]
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
