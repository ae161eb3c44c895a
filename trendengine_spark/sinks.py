"""Result sinks (reference S4/S5).

The reference writes two CSV side-outputs per run —
``time_series.csv`` (``TrendEngine/calculations/polytrend.py:483,503``,
``dbest.py:544-545``) and ``PolyTrend_result.csv`` /
``DBEST_result.csv`` (``polytrend.py:490-491``,
``dbest.py:568-569,620-621``). The engine writes them distributed
(``df.write.csv``), plus parquet for the canonical result store.

The reference's ``save_ts_to_csv`` truthiness bug (string "no" is
truthy, so the polygon path always wrote the file —
``polytrend.py:482`` vs the correct ``== "yes"`` at ``:502``,
SURVEY §4.4.4) is fixed by taking a real boolean.

Scale note: a CSV sink at 100 TB is a partitioned directory write —
no single-file coalesce by default (``single_file=True`` exists for
small result tables only; it routes through one task)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_csv(
    df: DataFrame,
    path: str,
    save: bool = True,
    single_file: bool = False,
    mode: str = "overwrite",
) -> None:
    """CSV sink with header (reference ``to_csv``). ``save=False`` is
    a no-op (boolean, not the reference's truthy-string check).

    ``single_file`` uses ``repartition(1)``, not ``coalesce(1)``
    (r15 streaming/sinks sweep, VERDICT r14 #6): coalesce(1) removes
    the shuffle AND collapses the ENTIRE upstream computation into
    one task — a result produced by a parallel fit stage would be
    recomputed serially. repartition(1) keeps the upstream plan at
    full width and funnels only the bounded result rows through the
    single write task."""
    if not save:
        return
    out = df.repartition(1) if single_file else df
    out.write.mode(mode).option("header", "true").csv(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink: pre-shuffles data into
    ``num_buckets`` hash buckets on ``bucket_cols`` (optionally
    sorted within buckets) so subsequent equi-joins/aggregations on
    those keys read co-located data and skip the exchange entirely —
    the ahead-of-time answer to repeated large joins at 100 TB.
    Bucketing requires ``saveAsTable`` (bucket metadata lives in the
    catalog, not plain files).

    The ``repartition(num_buckets, cols)`` is the r14 co-location
    fix (the IVFPQ-index lesson, same class): ``bucketBy`` alone
    writes one file per (task × touched bucket) — measured 1,025
    files for a 32-bucket 60M-row fact. Spark's bucket assignment
    and HashPartitioning share the Murmur3-pmod rule, so shuffling
    into exactly ``num_buckets`` partitions first lands each bucket
    wholly in one task → one file per bucket."""
    w = (
        df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def save_polytrend_outputs(
    result: DataFrame,
    time_series: DataFrame | None,
    out_dir: str,
    save_result: bool = True,
    save_ts: bool = False,
) -> None:
    """Reference-compatible side outputs: ``PolyTrend_result.csv``
    (``polytrend.py:490-491``) and ``time_series.csv``
    (``polytrend.py:483,503``) under ``out_dir``. Booleans, not the
    reference's truthy-string check (its polygon path wrote the
    time-series CSV even when the form said "no" — SURVEY §4.4.4)."""
    import os

    write_csv(
        result, os.path.join(out_dir, "PolyTrend_result.csv"),
        save=save_result, single_file=True,
    )
    if time_series is not None:
        write_csv(
            time_series, os.path.join(out_dir, "time_series.csv"),
            save=save_ts, single_file=True,
        )


#: Row bound per file of a partitioned :func:`write_parquet`: a
#: dominant partition value splits into files of at most this many
#: rows instead of one file of any size.
MAX_RECORDS_PER_FILE = 10_000_000


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet result sink; ``partition_by`` for the canonical
    (series, year) layout of SURVEY §1.4.

    r15 (the IVFPQ-index / write_bucketed lesson, guide §6): a
    ``partitionBy`` write without co-location first emits one file
    per (task x touched partition value) — the r14 probe measured
    23,936 files for a 197 MB partitioned index. Hash-repartitioning
    on the partition columns lands every value wholly in one task:
    one file per partition directory, or more for a value with over
    :data:`MAX_RECORDS_PER_FILE` rows (``maxRecordsPerFile``). A
    skewed value is still written by that one task."""
    if partition_by:
        df = df.repartition(*[F.col(c) for c in partition_by])
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by).option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
    w.parquet(path)


def _swap_dirs(tmp: str, path: str) -> None:
    """Crash-safe directory swap: rename the live dir ASIDE first,
    move the new one in, then delete the old. A crash leaves either
    the original intact (before the second rename) or the new data
    live + a stale ``._old`` to clean up — never a missing or
    half-deleted table (the naive rmtree-then-replace loses the whole
    table if interrupted between the two)."""
    import os
    import shutil

    old_dir = path.rstrip("/") + "._old"
    if os.path.exists(old_dir):
        shutil.rmtree(old_dir)
    os.replace(path, old_dir)
    os.replace(tmp, path)
    shutil.rmtree(old_dir)


def compact_parquet(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files
    sized for scan efficiency (~``target_bytes`` each, the row-group
    sweet spot the r3 bench identified — tiny files/row groups cap
    Spark scans at one task per file and bloat the NameNode/listing
    path at 100 TB; streaming sinks and over-parallel writers produce
    them constantly).

    Sizing is derived from the CURRENT on-disk bytes (compressed), so
    the rewrite preserves the compression ratio roughly 1:1. Files
    are combined with ``coalesce`` when shrinking (no shuffle — the
    dominant compaction case) and ``repartition`` only when the data
    must spread wider. ``sort_within_by`` optionally re-sorts rows
    inside each output file (e.g. a Z-order key column from
    :func:`~trendengine_spark.operators.spatial.cluster_by_curve`)
    so min-max stats stay tight after the merge. Writes to a
    temporary sibling directory first, then swaps — a crash never
    leaves the table truncated. Returns the output file count.
    """
    import glob as _glob
    import os

    files = _glob.glob(os.path.join(path, "*.parquet")) + _glob.glob(
        os.path.join(path, "part-*")
    )
    total = sum(os.path.getsize(f) for f in set(files))
    n_out = max(1, -(-total // target_bytes))  # ceil
    df = spark.read.parquet(path)
    cur = df.rdd.getNumPartitions()
    out = df.coalesce(n_out) if n_out <= cur else df.repartition(n_out)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    tmp = path.rstrip("/") + "._compact_tmp"
    out.write.mode("overwrite").parquet(tmp)
    _swap_dirs(tmp, path)
    return len(_glob.glob(os.path.join(path, "part-*.parquet")))


def merge_upsert(
    spark,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    deleted_col: str | None = None,
    collect_stats: bool = True,
) -> dict:
    """MERGE INTO for a plain-parquet table: rows in ``updates``
    replace target rows with the same key, new keys insert, and (when
    ``deleted_col`` names a boolean column on ``updates``) flagged
    keys delete — the warehouse upsert/CDC-apply primitive.

    Plan shape: ONE left-anti join keyed on ``key_cols`` (kept target
    rows) + a union with the surviving updates — no full-outer join,
    no row-by-row driver logic; both sides shuffle once on the merge
    key. Rewrite is atomic via the tmp-dir swap (:func:`compact_parquet`'s
    pattern): a crash never leaves the table half-merged. At 100 TB
    the production answer is a table format with file-level pruning
    and a transaction log (Delta/Iceberg ``MERGE``); this is the
    engine-native rendering with the same single-shuffle join shape —
    partition the table and merge partition-by-partition to avoid
    rewriting cold data.

    Returns {"replaced_or_deleted": n target rows removed,
    "applied": n update rows written, "total": final row count}.
    ``collect_stats=False`` skips the two extra count jobs those
    first two numbers cost (they re-scan target + anti-join) and
    returns them as None — the large-table CDC posture.
    """
    target = spark.read.parquet(target_path)
    keys = updates.select(*key_cols)
    kept = target.join(keys, key_cols, "left_anti")
    if collect_stats:
        kept_n = kept.count()
        touched = target.count() - kept_n
    else:
        kept_n = touched = None
    if deleted_col is not None:
        surviving = updates.filter(
            ~F.coalesce(F.col(deleted_col), F.lit(False))
        ).drop(deleted_col)
    else:
        surviving = updates
    surviving = surviving.select(*target.columns)
    merged = kept.unionByName(surviving)
    tmp = target_path.rstrip("/") + "._merge_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    total = spark.read.parquet(tmp).count()
    _swap_dirs(tmp, target_path)
    return {
        "replaced_or_deleted": touched,
        "applied": None if kept_n is None else total - kept_n,
        "total": total,
    }


def _rollup_state_aggs(agg_spec: dict[str, tuple[str, str]]) -> list:
    """Partial-aggregate state expressions for :func:`maintain_rollup`.

    Every supported aggregate is ALGEBRAIC — its state merges by
    re-aggregating state rows (sum-of-counts, sum-of-sums, min-of-
    mins, max-of-maxes) — which is exactly what makes incremental
    maintenance a union + group-by instead of a recompute. Double
    sums are kept as DECIMAL(28,10) state so base+delta equals the
    full recompute bit-for-bit (float partial sums would drift with
    grouping order)."""
    exprs = []
    for out, (kind, src) in agg_spec.items():
        if kind == "count":
            exprs.append(F.count(F.lit(1)).alias(out))
        elif kind == "sum":
            exprs.append(F.sum(F.col(src).cast("decimal(28,10)")).alias(out))
        elif kind == "min":
            exprs.append(F.min(src).alias(out))
        elif kind == "max":
            exprs.append(F.max(src).alias(out))
        elif kind == "approx_distinct":
            # HLL sketch state (binary): register-wise max merge means
            # union-of-sub-sketches == sketch-of-union EXACTLY, so the
            # incremental estimate equals the full-recompute estimate
            exprs.append(F.hll_sketch_agg(src).alias(out))
        else:  # pragma: no cover - authoring guard
            raise ValueError(f"unsupported rollup aggregate {kind!r}")
    return exprs


def _rollup_merge_aggs(agg_spec: dict[str, tuple[str, str]]) -> list:
    exprs = []
    for out, (kind, _src) in agg_spec.items():
        if kind in ("count", "sum"):
            exprs.append(F.sum(out).alias(out))
        elif kind == "min":
            exprs.append(F.min(out).alias(out))
        elif kind == "approx_distinct":
            exprs.append(F.hll_union_agg(out).alias(out))
        else:
            exprs.append(F.max(out).alias(out))
    return exprs


def maintain_rollup(
    spark,
    target_path: str,
    delta: DataFrame,
    keys: list[str],
    agg_spec: dict[str, tuple[str, str]],
    applied_batch_id: int | None = None,
) -> dict:
    """Incrementally maintain a pre-aggregated rollup table: fold a
    new batch into the stored partial-aggregate state WITHOUT
    re-scanning history — the materialized-view maintenance primitive
    a streaming ingest needs once the fact history stops being cheap
    to re-aggregate.

    ``agg_spec``: output column → (kind, source column), kind in
    {count, sum, min, max} (all algebraic; avg = sum/count at read
    time via :func:`read_rollup`). Plan: the delta partial-aggregates
    map-side (one shuffle keyed by ``keys``, one row per touched
    group), unions with the stored state, and re-aggregates — cost
    scales with |delta| + |rollup|, never with history. The rewrite
    swaps atomically (:func:`_swap_dirs`); at 100 TB partition the
    rollup and rewrite only partitions the delta touches.

    ``applied_batch_id``, when given, is written as an
    ``_applied_batch`` file INSIDE the rollup directory BEFORE the
    swap, so one rename publishes data and idempotence marker
    together — the streaming fold (:func:`~trendengine_spark.
    streaming.cdc.fold_rollup_batch`) reads it to skip retried
    batches, and there is no window where new state is visible
    without its marker (a sidecar marker written after the swap had
    exactly that double-count window — ADVICE r6 fix). Spark's
    parquet reader ignores underscore-prefixed files.

    Returns {"groups": row count of the new rollup}.
    """
    import os

    def _existing_marker() -> str | None:
        # in-directory marker (current layout), else a pre-r7 sidecar
        # (target + '._applied_batch') left by an upgraded table
        for p in (
            os.path.join(target_path, "_applied_batch"),
            target_path.rstrip("/") + "._applied_batch",
        ):
            try:
                with open(p) as fh:
                    return fh.read().strip()
            except OSError:
                continue
        return None

    def _mark(d: str) -> None:
        # A direct (non-streaming) maintain_rollup call on a
        # stream-maintained rollup must PRESERVE the exactly-once
        # watermark: swapping in a marker-less directory would erase
        # it and let a later replayed microbatch double-fold
        # (ADVICE r7 fix). Legacy sidecar markers migrate into the
        # directory on the first fold after upgrade.
        value = (
            str(applied_batch_id)
            if applied_batch_id is not None
            else _existing_marker()
        )
        if value is not None:
            with open(os.path.join(d, "_applied_batch"), "w") as fh:
                fh.write(value)

    partial = delta.groupBy(*keys).agg(*_rollup_state_aggs(agg_spec))
    if os.path.exists(target_path):
        state = spark.read.parquet(target_path)
        merged = (
            state.unionByName(partial)
            .groupBy(*keys)
            .agg(*_rollup_merge_aggs(agg_spec))
        )
        tmp = target_path.rstrip("/") + "._rollup_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        _mark(tmp)
        _swap_dirs(tmp, target_path)
    else:
        # initial create: stage + marker into a tmp dir, publish with
        # ONE rename (writing marker after a direct create would leave
        # a marker-less visible table on a crash in between)
        tmp = target_path.rstrip("/") + "._rollup_tmp"
        partial.write.mode("overwrite").parquet(tmp)
        _mark(tmp)
        os.replace(tmp, target_path)
    n = spark.read.parquet(target_path).count()
    return {"groups": n}


def read_rollup(
    spark,
    target_path: str,
    avg_pairs: dict[str, tuple[str, str]] | None = None,
    estimate_cols: list[str] | None = None,
) -> DataFrame:
    """Read a :func:`maintain_rollup` table, finalizing derived
    aggregates: ``avg_pairs`` maps an output column to its
    (sum_state, count_state) columns (avg = exact decimal sum /
    count, cast to double at the end); ``estimate_cols`` names
    approx_distinct sketch columns to finalize with
    ``hll_sketch_estimate`` (replacing the binary state)."""
    df = spark.read.parquet(target_path)
    for out, (s, c) in (avg_pairs or {}).items():
        df = df.withColumn(
            out, (F.col(s) / F.col(c)).cast("double")
        )
    for c in estimate_cols or []:
        df = df.withColumn(c, F.hll_sketch_estimate(F.col(c)))
    return df


def merge_upsert_partitioned(
    spark,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    deleted_col: str | None = None,
) -> dict:
    """Partition-pruned MERGE for a hive-partitioned parquet table
    (``target/col=value/`` layout): only partitions that appear in
    ``updates`` are read, merged and atomically swapped — cold
    partitions are NOT rewritten (or even scanned). This is the
    documented 100 TB posture of :func:`merge_upsert` made concrete:
    the rewrite cost scales with the touched slice, not the table.

    Each touched partition swaps independently via the crash-safe
    rename pattern, so a crash mid-merge leaves every partition
    either fully old or fully new (per-partition atomicity — the
    same guarantee a transaction-log format gives per commit, minus
    cross-partition atomicity, which plain parquet cannot provide).

    ``partition_col`` must be a string or integer column: the hive
    directory name is derived with ``str(value)``, which for floats,
    dates/timestamps, or strings needing hive path escaping (space,
    ``/``, ``=``) diverges from Spark's own partition-path encoding
    and would target a wrong or invalid directory — rejected up
    front rather than mis-merged (ADVICE r6 fix). String values are
    checked for path-hostile characters. ``updates`` is persisted for
    the loop (each touched partition filters it once; without the
    persist every iteration re-ran the full updates plan).

    Returns {"touched_partitions": [...], "applied": update rows}.
    """
    import os
    import re

    from pyspark.sql import types as T

    ptype = updates.schema[partition_col].dataType
    if not isinstance(
        ptype,
        (T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType),
    ):
        raise ValueError(
            f"merge_upsert_partitioned requires a string/integer partition "
            f"column; {partition_col!r} is {ptype.simpleString()} (its str() "
            f"form need not match Spark's hive partition-path encoding)"
        )
    updates = updates.persist()
    try:
        vals = [
            r[0] for r in updates.select(partition_col).distinct().collect()
        ]
        if isinstance(ptype, T.StringType):
            bad = [
                v for v in vals
                if v is None or re.search(r"[/=\s%#?\\]", v)
            ]
            if bad:
                raise ValueError(
                    f"partition values {bad!r} need hive path escaping; "
                    f"use Spark's own partitionBy writer for these"
                )
        elif any(v is None for v in vals):
            raise ValueError("null partition values are not supported")
        touched = sorted(str(v) for v in vals)
        if deleted_col is not None:
            surviving = updates.filter(
                ~F.coalesce(F.col(deleted_col), F.lit(False))
            ).drop(deleted_col)
        else:
            surviving = updates
        applied = 0
        for v in touched:
            part_dir = os.path.join(target_path, f"{partition_col}={v}")
            # compare against the typed literal, not str(v): the
            # directory name is str-derived but the filter must match
            # the column's own type semantics
            lit_v = F.lit(v).cast(ptype)
            upd_v = surviving.filter(F.col(partition_col) == lit_v).drop(
                partition_col
            )
            keys_v = updates.filter(F.col(partition_col) == lit_v).select(
                *key_cols
            )
            if os.path.exists(part_dir):
                tgt = spark.read.parquet(part_dir)
                kept = tgt.join(keys_v, key_cols, "left_anti")
                merged = kept.unionByName(upd_v.select(*tgt.columns))
            else:
                merged = upd_v
            tmp = part_dir.rstrip("/") + "._merge_tmp"
            merged.write.mode("overwrite").parquet(tmp)
            applied += upd_v.count()
            if os.path.exists(part_dir):
                _swap_dirs(tmp, part_dir)
            else:
                os.replace(tmp, part_dir)
        return {"touched_partitions": touched, "applied": applied}
    finally:
        updates.unpersist()


def init_join_view(spark, view_path: str, a: DataFrame, b: DataFrame,
                   on: list[str]) -> int:
    """Materialize the initial state of an incrementally-maintained
    inner-join view A ⋈ B as version 0 of a manifest-versioned table
    (:mod:`trendengine_spark.tablelog`). See :func:`maintain_join_view`."""
    from trendengine_spark.tablelog import write_versioned

    return write_versioned(spark, a.join(b, on), view_path)


def maintain_join_view(
    spark,
    view_path: str,
    a_old: DataFrame,
    delta_a: DataFrame | None,
    b_old: DataFrame,
    delta_b: DataFrame | None,
    on: list[str],
    batch_id: int = 0,
) -> bool:
    """Incremental view maintenance for an INNER JOIN over append-only
    sources — the join sibling of :func:`maintain_rollup`: when new
    rows ΔA and/or ΔB arrive, the view grows by exactly

        ΔV  =  ΔA ⋈ (B ∪ ΔB)  ∪  A_old ⋈ ΔB

    (the cross term ΔA ⋈ ΔB appears once, inside the first leg), so
    maintenance cost scales with |Δ| · matched-fan-in, never with
    |A| · |B| — the reason warehouses maintain join views at all.
    Deletions/updates are out of scope by contract (append-only
    sources; for updating sources compose with SCD2 history so
    updates become appends).

    ΔV commits as the next APPEND version of the manifest-versioned
    view (file-list fold, no data rewrite), carrying ``batch_id`` so
    a retried microbatch is a no-op — this composes directly with a
    streaming ``foreachBatch``. Readers pinned to any version see a
    consistent prefix of batches. Returns True when a version was
    committed (False: empty delta or replayed batch id).
    """
    from trendengine_spark.tablelog import publish_versioned_batch

    legs = []
    if delta_a is not None:
        b_new = b_old if delta_b is None else b_old.unionByName(delta_b)
        legs.append(delta_a.join(b_new, on))
    if delta_b is not None:
        legs.append(a_old.join(delta_b, on))
    if not legs:
        return False
    dv = legs[0]
    for leg in legs[1:]:
        dv = dv.unionByName(leg)
    return publish_versioned_batch(dv, batch_id, view_path, mode="append")


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    rows_per_shard: int,
    shard_key: str | None = None,
    compression: str | None = "gzip",
) -> dict:
    """Export a curated corpus as size-targeted JSONL training shards
    — the output half of the ingest→curate→export loop
    (:func:`~trendengine_spark.ingest.read_jsonl_corpus` is the input
    half). Training loaders want MANY similar-sized shards they can
    assign to workers; a naive ``df.write.json`` emits whatever the
    upstream partitioning happened to be (one giant file after a
    coalesce, hundreds of tiny ones after a wide shuffle).

    Sharding is deterministic: shard id = ``xxhash64(shard_key) mod
    n_shards`` with ``n_shards = ceil(n / rows_per_shard)`` — every
    run of the same data yields the same shard membership, so an
    export can be resumed/verified. Each shard lands as ONE file in
    its own ``_shard=<i>/`` directory: the write partitions BY the
    shard column, so even when the pre-write repartition hashes two
    shard ids into one task (hash collision — a flat layout silently
    merges them) the dynamic-partition writer still separates them
    exactly. Shard sizes are binomial around the target (hash
    assignment); exactness of the TOTAL is manifest-checked. Returns
    a manifest dict ``{"n_rows", "n_shards", "rows_per_shard"}`` and
    writes it alongside the shards as ``_manifest.json``.

    One extra shuffle over a plain write — the price of shard-size
    control; rows are sorted by key within a shard so shard content
    is byte-reproducible.
    """
    import json
    import math

    key = shard_key or df.columns[0]
    n = df.count()
    n_shards = max(1, math.ceil(n / rows_per_shard))
    bucketed = df.withColumn(
        "_shard",
        F.pmod(F.xxhash64(F.col(key)), F.lit(n_shards)).cast("int"),
    )
    (
        bucketed.repartition(n_shards, "_shard")
        .sortWithinPartitions("_shard", key)
        .write.mode("overwrite")
        .partitionBy("_shard")
        .options(**({"compression": compression} if compression else {}))
        .json(path)
    )
    manifest = {
        "n_rows": n,
        "n_shards": n_shards,
        "rows_per_shard": rows_per_shard,
    }
    # Hadoop FS API, not open(): the export path is any scheme the
    # session can write (s3a://, hdfs://, file:/) — a driver-local
    # open() silently writes the manifest to the wrong filesystem
    spark = df.sparkSession
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path, "_manifest.json")
    fs = hpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    out_stream = fs.create(hpath, True)
    try:
        out_stream.write(bytearray(json.dumps(manifest).encode("utf-8")))
    finally:
        out_stream.close()
    return manifest
