"""LLM-pipeline operator throughput stress (not part of the driver
bench).

Synthesizes N documents (deterministic token soup from a small
vocabulary, every 20th document a near-duplicate of its predecessor)
and measures the dedup + text-analysis paths end-to-end at 20-100×
the bench corpus. This is the scale-out evidence for the SURVEY §2.6
LLM rows: shingling/signatures are projection+partial-agg (linear,
no wide shuffle), LSH pairing shuffles only band buckets.

Observed on local[32] (round 6 — SQL-built signature plan + narrow
bucket shuffle with cached-signature verify, the registry/bench
posture; r2 was 5.7k/6.3k docs/s), 120 tokens/doc, planted dups
found exactly (no false pairs at threshold 0.5):

    100k docs: MinHash-LSH 26k docs/s (3.8-4.1s warm-JIT min-of-4;
               carry=True measures 5.1-5.3s)
    200k docs: MinHash-LSH 13k docs/s (15.3s; the sig table outgrows
               the broadcast threshold so verification shuffle-joins).
               carry=True hits a CLIFF here — 37-84s: 3.2M band rows
               each dragging a 64-long signature is a ~1.6 GB bucket
               shuffle that spills; the narrow posture shuffles 77 MB.
               This is why the carried variant was removed.
    100k docs: paragraph_dedup (32-token block, md5-keyed
               first-occurrence) ~32k docs/s on a shared box;
               finds exactly the planted 20k duplicate blocks
               (5k copied docs × 4 blocks).

Round 7 (aggregate+join-back plan, 1M docs × 120 tokens ≈ 200× the
sf0.1 documents table, ~0.9 GB of raw text):
    quality_features   0.6s  (1.7M docs/s)
    exact_dedup        6.9s  (145k docs/s; exact planted 50k dups)
    paragraph_dedup    9.2s  (109k docs/s; exact planted 200k blocks)
    minhash_lsh_pairs 29.2s  (34k docs/s; exact planted pairs)
    curation_flagship  9.6s  (104k docs/s — quality gate → lang
                       select → survivor election → 512-token packing
                       over 64 shards, the flagship composition)
    No resource cliff anywhere at 1M docs; the only known cliff was
    the carried-signature LSH variant's band-shuffle spill (≥200k
    docs, documented above), and that variant is removed.
    Hot-block stress — ONE 32-token boilerplate block shared by all
    1M docs (10^6 copies of one md5 key): agg plan 6.4s, old window
    plan 4.7s (at 40-token docs: 3.3s both). At this size the hot
    partition is ~50 MB so the window's single task doesn't yet
    straggle and the agg plan's second pass over the blocks costs
    more than the skew saves; the reason the agg plan is the registry
    posture is structural — GROUP BY partial-aggregates the hot key
    map-side (final agg sees #partitions rows), and the join-back's
    hot PROBE partition is AQE-splittable (one-row build side), while
    a PARTITION BY h window can never be split: at 10^7-10^8 copies
    per key (100 TB boilerplate rates) the window pins a whole-corpus
    hot key to one task and the agg plan does not.
    tests/test_plans.py pins the agg shape.

Usage: python tools/stress_llm.py [n_docs] [tokens_per_doc]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_tok = int(sys.argv[2]) if len(sys.argv) > 2 else 120

    from trendengine_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
    )
    from trendengine_spark.operators.text import quality_features
    from trendengine_spark.session import get_spark

    spark = get_spark(app_name="stress_llm")
    vocab_size = 50_000
    # deterministic token soup: token j of doc i = word[xxhash64(i, j) % V]
    # (hash-mixed so distinct docs share only chance tokens — a linear
    # congruential stream here creates huge accidental duplicate classes);
    # every 20th doc copies its predecessor's stream (exact dup by text)
    base_id = F.when(
        F.col("doc_id") % 20 == 19, F.col("doc_id") - 1
    ).otherwise(F.col("doc_id"))
    docs = (
        spark.range(n_docs)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_tok - 1)),
                    lambda j: F.concat(
                        F.lit("w"),
                        F.pmod(F.xxhash64(base_id, j), F.lit(vocab_size)).cast(
                            "string"
                        ),
                    ),
                ),
            ),
        )
        .repartition(64)
        .cache()
    )
    n = docs.count()

    def _blocks(src):
        toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
        return (
            src.select("doc_id", toks.alias("ts"))
            .select(
                "doc_id",
                F.explode(
                    F.sequence(
                        F.lit(0),
                        F.greatest(F.size("ts") - 1, F.lit(0)),
                        F.lit(32),
                    )
                ).alias("s"),
                "ts",
            )
            .select(
                "doc_id",
                (F.col("s") / 32).cast("int").alias("chunk_idx"),
                F.md5(F.concat_ws(" ", F.slice("ts", F.col("s") + 1, 32))).alias("h"),
            )
        )

    def paragraph_dedup(src=None):
        # same plan as the dedup_paragraph_global registry query (r7,
        # skew-proofed): GROUP BY h → (count, min(struct)) with
        # map-side partial aggregation, then join the winner back —
        # no PARTITION BY h window (which cannot partial-aggregate a
        # hot boilerplate hash). Returns the duplicate (non-kept) rows.
        ch = _blocks(docs if src is None else src)
        agg = ch.groupBy("h").agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.struct("doc_id", "chunk_idx")).alias("w"),
        )
        return ch.join(agg, "h").filter(
            (F.col("doc_id") != F.col("w.doc_id"))
            | (F.col("chunk_idx") != F.col("w.chunk_idx"))
        )

    def paragraph_dedup_window(src):
        # the pre-r7 window formulation, kept only as the straggler
        # comparison baseline for the hot-block stress
        from pyspark.sql import Window

        ch = _blocks(src)
        w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
        return ch.withColumn("rnk", F.row_number().over(w)).filter(
            F.col("rnk") > 1
        )

    def curation_flagship():
        # the flagship_curation_pipeline composition at stress scale:
        # quality gate -> lang selection -> exact-dedup survivor
        # election -> GPT-style packing (same operators, synthetic
        # lang column keyed off doc_id)
        from trendengine_spark.operators.pipeline import pack_concat_chunks
        from trendengine_spark.operators.text import token_count

        langs = F.element_at(
            F.array(F.lit("en"), F.lit("zh"), F.lit("de"), F.lit("fr")),
            (F.col("doc_id") % 4 + 1).cast("int"),
        )
        d = docs.withColumn("lang", langs)
        filt = d.filter(
            F.col("lang").isin("en", "zh", "de")
            & (token_count(F.col("text")) >= 20)
        )
        norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        reps = (
            filt.groupBy(norm.alias("_n"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        surv = filt.join(reps, "doc_id", "left_semi")
        packed = pack_concat_chunks(surv, seq_len=512, n_shards=64)
        return packed.join(surv.select("doc_id", "lang"), "doc_id")

    for name, fn in [
        ("quality_features", lambda: quality_features(docs)),
        ("exact_dedup", lambda: exact_dedup(docs)),
        ("paragraph_dedup", paragraph_dedup),
        ("minhash_lsh_pairs", lambda: minhash_lsh_pairs(docs, threshold=0.5)),
        ("curation_flagship", curation_flagship),
    ]:
        t0 = time.perf_counter()
        out = fn()
        cnt = out.count()
        dt = time.perf_counter() - t0
        print(f"{name}: {cnt} rows from {n} docs in {dt:.1f}s -> {n / dt:.0f} docs/s")

    # --- hot-block stress (VERDICT r6 task 2): one 32-token
    # boilerplate block shared by EVERY document — the license-header
    # case block dedup exists for. All n_docs copies hash to ONE key;
    # the aggregate+join-back plan must absorb it map-side while the
    # old window plan funnels every copy through a single task.
    hot = F.concat_ws(
        " ",
        F.transform(F.sequence(F.lit(0), F.lit(31)), lambda j: F.concat(F.lit("boiler"), j.cast("string"))),
    )
    hot_docs = (
        spark.range(n_docs)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                hot,
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(0), F.lit(n_tok - 33)),
                        lambda j: F.concat(
                            F.lit("w"),
                            F.pmod(F.xxhash64("doc_id", j), F.lit(vocab_size)).cast("string"),
                        ),
                    ),
                ),
            ),
        )
        .repartition(64)
        .cache()
    )
    hot_docs.count()
    for name, fn in [
        ("hot_block_dedup_agg", lambda: paragraph_dedup(hot_docs)),
        ("hot_block_dedup_window", lambda: paragraph_dedup_window(hot_docs)),
    ]:
        t0 = time.perf_counter()
        cnt = fn().count()
        dt = time.perf_counter() - t0
        print(
            f"{name}: {cnt} dup rows, {n_docs} copies of the hot block "
            f"in {dt:.1f}s -> {n_docs / dt:.0f} docs/s"
        )


if __name__ == "__main__":
    main()


def containment_hot_shingle_stress(spark) -> None:
    """r8 (VERDICT r7 task 5): boilerplate-heavy corpus — every doc
    shares one license-style sentence, so one shingle has document
    frequency = corpus size and the uncapped inverted index owes df²
    directed candidate pairs from that shingle alone. Shows the
    ``max_df`` cap bounding candidate volume: uncapped measured on a
    small corpus (the df² slope makes 10⁴ uncapped infeasible by
    construction), capped measured on the full 10⁴."""
    import time

    from pyspark.sql import functions as F

    from trendengine_spark.operators.dedup import ngram_containment_pairs

    def corpus(n_docs: int, planted: int = 0):
        # last `planted` docs are content copies of earlier docs: their
        # unique-shingle df is 2, so they MUST survive any cap >= 2
        boiler = "all rights reserved by the example corpus authority"
        src = F.when(
            F.col("id") >= n_docs - planted, F.col("id") - (n_docs - planted)
        ).otherwise(F.col("id"))
        return (
            spark.range(n_docs)
            .select(
                F.col("id").alias("doc_id"),
                F.concat(
                    F.lit(boiler + " "),
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.sequence(F.lit(0), F.lit(40)),
                            lambda j: F.concat(
                                F.lit("u"),
                                F.pmod(
                                    F.xxhash64(src, j), F.lit(50_000)
                                ).cast("string"),
                            ),
                        ),
                    ),
                ).alias("text"),
            )
            .repartition(32)
            .cache()
        )

    small, big, planted = 2_000, 10_000, 50
    c_small, c_big = corpus(small), corpus(big, planted=planted)
    c_small.count(), c_big.count()
    t0 = time.perf_counter()
    n_unc = ngram_containment_pairs(c_small, threshold=0.1, n=3).count()
    dt_unc = time.perf_counter() - t0
    print(
        f"containment uncapped @{small} docs: {n_unc} pairs in "
        f"{dt_unc:.1f}s (hot shingle df={small} -> df^2 candidates)"
    )
    for cap in (100,):
        t0 = time.perf_counter()
        got = ngram_containment_pairs(
            c_big, threshold=0.5, n=3, max_df=cap
        ).count()
        dt_cap = time.perf_counter() - t0
        print(
            f"containment max_df={cap} @{big} docs: {got} pairs "
            f"(want {2 * planted} planted-copy directed pairs) in "
            f"{dt_cap:.1f}s ({big / dt_cap:.0f} docs/s)"
        )
        assert got == 2 * planted, got


def incremental_index_growth_stress(spark, n_batches: int = 10,
                                    batch_docs: int = 10_000) -> None:
    """r8 (VERDICT r7 task 7): the incremental-dedup loop run
    batch-over-batch — probe batch k against an index holding batches
    0..k-1, then fold it in (append_minhash_index). Records the probe
    cost curve as the corpus grows 1x..Nx: the claim 'the corpus is
    never re-signatured' predicts near-flat probe time (the stored
    side contributes one parquet scan + bucket equi-join, no shingle/
    hash work). Each batch plants copies of batch-0 docs, which must
    keep surfacing at every index size."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from trendengine_spark.operators.dedup import (
        append_minhash_index,
        incremental_minhash_dedup,
        write_minhash_index,
    )

    planted = 20

    def batch(k: int):
        # doc ids are globally unique per batch; `planted` docs of
        # every batch k>0 are exact copies of batch-0 docs
        src = F.when(
            F.col("id") % batch_docs < planted, F.col("id") % batch_docs
        ).otherwise(F.col("id"))
        return (
            spark.range(k * batch_docs, (k + 1) * batch_docs)
            .select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(0), F.lit(60)),
                        lambda j: F.concat(
                            F.lit("w"),
                            F.pmod(F.xxhash64(src, j), F.lit(80_000)).cast(
                                "string"
                            ),
                        ),
                    ),
                ).alias("text"),
            )
            .repartition(32)
        )

    root = tempfile.mkdtemp(prefix="te_incr_idx_")
    try:
        idx = f"{root}/index"
        write_minhash_index(batch(0), idx, num_perm=64, bands=16)
        for k in range(1, n_batches):
            b = batch(k)
            t0 = time.perf_counter()
            hits = incremental_minhash_dedup(b, idx, threshold=0.9)
            n_hit_docs = hits.select("new_id").distinct().count()
            dt = time.perf_counter() - t0
            print(
                f"batch {k}: probe vs {k * batch_docs}-doc index: "
                f"{dt:.2f}s, {n_hit_docs} planted dup docs "
                f"(want {planted})"
            )
            assert n_hit_docs == planted, n_hit_docs
            append_minhash_index(b, idx)
    finally:
        shutil.rmtree(root, ignore_errors=True)
