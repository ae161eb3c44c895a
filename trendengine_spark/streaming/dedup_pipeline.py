"""Streaming corpus dedup: foreachBatch glue composing the
incremental MinHash index (:mod:`trendengine_spark.operators.dedup`)
with the versioned-table layer (:mod:`trendengine_spark.tablelog`) —
the production "curate as it lands" loop:

    batch k arrives → probe against the index of batches 0..k-1 →
    drop near-dup hits (and within-batch exact dups) → publish the
    survivors to the admitted-corpus table → fold their signatures
    and band rows into the index → next batch sees them.

Exactly-once BY COMPOSITION, not by a new mechanism: the corpus,
signature and band tables are members of ONE multi-table transaction
root (r12 — VERDICT r11 task 3; previously three ORDERED per-table
commits whose crash-window safety needed a paragraph of reasoning):
each microbatch stages all three tables' files invisibly and then a
single atomic manifest commit
(:func:`~trendengine_spark.tablelog.publish_multi_versioned_batch`)
makes them visible together with the streaming ``batch_id`` recorded
as the replay marker. A replayed microbatch is a no-op; a crash
anywhere before the commit leaves only invisible stragglers — the
index can never be in a state where a batch's bands are visible
without its signatures or corpus rows. All-or-nothing, one word.
Within-batch duplicate texts are collapsed keep-first (min id)
before probing.

State crossing the network per batch: the batch itself, its
signatures (num_perm longs/doc) and band keys — never the corpus;
probe cost vs corpus size is measured FLAT in
``tools/stress_streaming.py`` (SCALE.md).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trendengine_spark.operators.dedup import (
    band_table,
    minhash_signatures,
    normalize_text,
    probe_minhash_index,
)
from trendengine_spark.tablelog import (
    _read_manifest,
    current_version,
    last_batch_id,
    publish_multi_versioned_batch,
    read_multi_versioned,
)

CORPUS, SIGS, BANDS = "corpus", "signatures", "bands"


def init_dedup_root(
    root: str, num_perm: int = 64, bands: int = 16, n: int = 3
) -> dict:
    """Create an empty streaming-dedup root: the hash-family manifest
    for the (initially empty) multi-table transaction. Probe and fold
    can then never disagree on the family."""
    if num_perm % bands:
        raise ValueError("num_perm must divide into bands")
    os.makedirs(root, exist_ok=True)
    meta = {"num_perm": num_perm, "bands": bands, "n": n}
    with open(os.path.join(root, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def _meta(root: str) -> dict:
    with open(os.path.join(root, "meta.json")) as fh:
        return json.load(fh)


def dedup_fold_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    maintenance_every: int | None = None,
) -> dict:
    """Probe-then-fold one microbatch (module-level so the retry /
    crash-window contract is directly testable). Returns
    {"skipped": bool, "admitted": n, "dropped": n}.

    ``maintenance_every=k`` (r11 — the streaming throughput probe
    measured per-batch latency creeping ~+4 ms/batch because each
    append commit grows the manifest file list by one and the probe
    re-plans over every file): every k-th applied batch, compact +
    vacuum the transaction root (`tablelog.compact_versioned`
    carries the newest ``batch_id`` into the compacted manifest, so
    replay dedup keeps answering across maintenance — its documented
    contract). The k-th batch pays the rewrite (O(state), amortized
    O(state/k) per batch) and every batch after it probes a snapshot
    whose file count is the DATA's natural count, not the commit
    count — the Iceberg rewrite+expire maintenance pair, inlined into
    the stream as ONE transaction per maintenance round (r12;
    previously three compactions + three vacuums)."""
    applied = last_batch_id(root)
    if applied is not None and batch_id <= applied:
        return {"skipped": True, "admitted": 0, "dropped": 0}
    meta = _meta(root)
    num_perm, n_bands, n = meta["num_perm"], meta["bands"], meta["n"]
    spark = batch_df.sparkSession

    # within-batch exact dedup, keep-first by id (cheap, deterministic)
    norm = normalize_text(F.col(text_col)).alias("_norm")
    keep_first = (
        batch_df.select(F.col(id_col), norm)
        .groupBy("_norm")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    batch = batch_df.join(keep_first, id_col, "left_semi")

    sig = minhash_signatures(
        batch, num_perm, id_col, text_col, n
    ).localCheckpoint()
    # the index is one pinned transaction version: bands and
    # signatures are ALWAYS mutually consistent (single commit), so
    # the batch can never candidate against itself in any crash state
    hits = None
    v = current_version(root)
    if v >= 0 and _read_manifest(root, v)["tables"].get(BANDS):
        hits = probe_minhash_index(
            sig,
            read_multi_versioned(spark, root, BANDS, version=v),
            read_multi_versioned(spark, root, SIGS, version=v),
            num_perm,
            n_bands,
            threshold,
        )
    if hits is not None:
        # ONE probe execution (r12): the dup-id set is checkpointed
        # (tiny — ids only), so the three table stagings and the
        # admitted count derive from it instead of re-running the
        # candidate join + verify once per downstream action (the
        # r11 shape re-executed the probe up to four times per batch)
        dup_ids = (
            hits.select(F.col("new_id").alias(id_col))
            .distinct()
            .localCheckpoint()
        )
        survivors = batch.join(dup_ids, id_col, "left_anti")
        sig_kept = sig.join(
            dup_ids.select(F.col(id_col).alias("id")), "id", "left_anti"
        )
    else:
        survivors = batch
        sig_kept = sig
    n_batch = batch_df.count()
    n_kept = sig_kept.count()
    # ONE atomic commit spanning all three tables (+ replay marker)
    committed = publish_multi_versioned_batch(
        {
            CORPUS: survivors,
            SIGS: sig_kept,
            BANDS: band_table(sig_kept, num_perm, n_bands),
        },
        batch_id,
        root,
    )
    if (
        maintenance_every
        and committed
        and batch_id > 0
        and batch_id % maintenance_every == 0
    ):
        from trendengine_spark.tablelog import (
            compact_versioned,
            vacuum_versioned,
        )

        compact_versioned(spark, root)
        vacuum_versioned(root, keep_last=2)
    return {
        "skipped": not committed,
        "admitted": n_kept,
        "dropped": n_batch - n_kept,
    }


def run_dedup_stream(
    docs: DataFrame,
    root: str,
    threshold: float = 0.9,
    checkpoint: str | None = None,
    query_name: str = "dedup_pipeline",
    id_col: str = "doc_id",
    text_col: str = "text",
    maintenance_every: int | None = None,
):
    """Attach the fold to a streaming document source. One microbatch
    = one probe + ONE idempotent multi-table commit; restart resumes
    from the checkpoint and replays are no-ops. ``maintenance_every``
    inlines the compaction+vacuum maintenance pair every k batches
    (see :func:`dedup_fold_batch`)."""
    return (
        docs.writeStream.foreachBatch(
            lambda bdf, bid: dedup_fold_batch(
                bdf, bid, root, threshold, id_col, text_col,
                maintenance_every,
            )
        )
        .queryName(query_name)
        .option(
            "checkpointLocation",
            checkpoint or os.path.join(root, "_checkpoint"),
        )
        .trigger(availableNow=True)
        .start()
    )
