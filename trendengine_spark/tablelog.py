"""Manifest-versioned parquet tables: snapshot isolation + time travel.

The swap-based sinks (:mod:`.sinks`) are crash-safe but not
READER-safe: an in-flight scan of a directory being swapped can see a
mix of old and new files. The transaction-log answer (what
Delta/Iceberg do) is to never mutate visible state — every write
lands new immutable files and commits by publishing a MANIFEST that
names the table's exact file set; readers pin one manifest and are
immune to concurrent writers; old manifests remain readable (time
travel) until vacuumed.

This module is that mechanism reduced to its engine-portable core:

- data files live under ``<path>/data/`` with unique names (never
  overwritten, never deleted by writers);
- ``<path>/_manifests/vNNNNNN.json`` lists the file names of one
  version (readable version = the manifest exists, entirely);
- ``read_versioned`` loads the newest (or a pinned) manifest and
  scans exactly those files;
- ``vacuum_versioned`` removes data files referenced only by
  dropped manifests.

One commit rule covers every write: :func:`_commit` reads the head
manifest, FOLDS it into the next manifest body and links that body at
head + 1 with ``os.link``, which fails instead of overwriting. A writer
that loses the race folds again on the winner's manifest, so a
manifest only ever lands directly above the one it was built from and
no commit can drop another's files. Snapshot, append, compaction and
multi-table commits differ only in their fold. At 100 TB the same
layout is fronted by a catalog/lock service for the link step — the
read path is unchanged.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


def _manifest_paths(path: str) -> list[str]:
    d = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


def _manifest_file(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:06d}.json")


def current_version(path: str) -> int:
    """Newest committed version number, or -1 for an empty table.

    O(1) in the commit count (r7): committers maintain a ``_head``
    hint file next to the manifests; the reader takes the hint and
    probes FORWARD until the next version is missing, so a stale or
    lost hint (the hint write is advisory, after the atomic commit)
    only costs extra probes, never a wrong answer — the manifest
    files remain the single source of truth. Without the hint this
    listed the whole manifest directory per lookup: at 10^5 commits
    that is a 10^5-entry listdir on EVERY commit and snapshot read
    (measured: ~0.9 ms/commit at 10^2 manifests growing to ~40 ms at
    3·10^4 — linear; the hint holds it flat at ~0.1 ms)."""
    d = os.path.join(path, _MANIFEST_DIR)
    v = -1
    hint = os.path.join(d, "_head")
    try:
        with open(hint) as fh:
            h = int(fh.read().strip())
        if h >= 0 and os.path.exists(_manifest_file(path, h)):
            v = h
    except (OSError, ValueError):
        pass
    if v < 0:
        ms = _manifest_paths(path)
        if not ms:
            return -1
        v = int(os.path.basename(ms[-1])[1:-5])
    while os.path.exists(_manifest_file(path, v + 1)):
        v += 1
    return v


def _write_head_hint(path: str, version: int) -> None:
    """Advisory head pointer — written AFTER the atomic manifest link,
    monotonic (never moved backwards), safe to lose or race: readers
    verify against the manifests and probe forward."""
    hint = os.path.join(path, _MANIFEST_DIR, "_head")
    try:
        with open(hint) as fh:
            if int(fh.read().strip()) >= version:
                return
    except (OSError, ValueError):
        pass
    tmp = hint + f".tmp{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, hint)


def _stage_files(df: DataFrame, path: str) -> list[str]:
    """Write ``df`` and move its part files into the immutable
    ``data/`` pool under unique names; returns the names. Nothing is
    visible until a manifest references them."""
    os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
    staging = os.path.join(path, f"_staging_{uuid.uuid4().hex}")
    df.write.parquet(staging)
    names = []
    for f in sorted(os.listdir(staging)):
        if not f.endswith(".parquet"):
            continue
        unique = f"{uuid.uuid4().hex}.parquet"
        os.replace(
            os.path.join(staging, f),
            os.path.join(path, _DATA_DIR, unique),
        )
        names.append(unique)
    for f in os.listdir(staging):  # _SUCCESS, .crc droppings
        os.remove(os.path.join(staging, f))
    os.rmdir(staging)
    return names


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_file(path, version)) as fh:
        return json.load(fh)


def _file_stats(path: str, name: str) -> dict:
    """Per-file column statistics from the parquet footer (r8): row
    count + min/max per primitive column, folded across row groups —
    the data-skipping metadata every log-structured format records at
    commit (Iceberg manifests, Delta add-file stats). One local footer
    read per NEW file per commit; JSON-safe types only (int/float/
    str/bool — timestamps and binary are skipped, which is always
    safe: a column absent from stats is never pruned on)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(os.path.join(path, _DATA_DIR, name))
    cols: dict[str, list] = {}
    rows = pf.metadata.num_rows
    for rg in range(pf.metadata.num_row_groups):
        g = pf.metadata.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            st = c.statistics
            if st is None or not st.has_min_max:
                cols[c.path_in_schema] = None  # some group lacks stats
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    cols[c.path_in_schema] = None
                    continue
            if not isinstance(mn, (int, float, str, bool)) or isinstance(
                mn, bool
            ) != isinstance(mx, bool):
                cols[c.path_in_schema] = None
                continue
            cur = cols.get(c.path_in_schema)
            if cur is None and c.path_in_schema in cols:
                continue  # already invalidated
            if cur is None:
                cols[c.path_in_schema] = [mn, mx]
            else:
                cols[c.path_in_schema] = [min(cur[0], mn), max(cur[1], mx)]
    return {
        "rows": rows,
        "cols": {k: v for k, v in cols.items() if v is not None},
    }


def last_batch_id(path: str) -> int | None:
    """Highest streaming batch id visible in the manifest chain —
    the newest manifest that RECORDS one, not merely the head (r9,
    ADVICE): a non-streaming commit interleaved after a microbatch
    (``write_versioned`` carries no batch_id) must not reset the
    replay high-water mark to None, or a replayed microbatch would
    double-append. Scans back from the head and stops at the first
    manifest carrying a batch_id; manifests are one small JSON read
    each and streaming tables interleave few blind commits, so the
    walk is short in practice (and bounded by the version count).
    Stops at the vacuum floor (r10, ADVICE): ``vacuum_versioned``
    deletes old manifests, so the walk treats a missing manifest as
    the oldest surviving one — a fully-vacuumed chain of blind
    commits yields ``None``, not ``FileNotFoundError``. Only a
    MISSING manifest means vacuumed (r11, ADVICE): other OSErrors
    (EACCES/EIO) are transient read failures and must propagate —
    mapping them to None would make the replay dedup fail open and
    double-append an already-applied batch."""
    v = current_version(path)
    while v >= 0:
        try:
            bid = _read_manifest(path, v).get("batch_id")
        except FileNotFoundError:
            return None  # manifest vacuumed: oldest surviving reached
        if bid is not None:
            return bid
        v -= 1
    return None


def _applied(root: str, batch_id: int) -> bool:
    """Whether streaming batch ``batch_id`` is already committed."""
    bid = last_batch_id(root)
    return bid is not None and batch_id <= bid


def _tables(m: dict | None) -> dict[str, list[str]]:
    """A manifest's member tables → file lists. A single-table
    manifest (``files`` plus flat ``stats``) is one table, ``""``, at
    the root; a multi-table root's manifest keys both by table."""
    if m is None:
        return {}
    return m["tables"] if "tables" in m else {"": m["files"]}


def _new_stats(root: str, tables: dict[str, list[str]]) -> dict[str, dict]:
    """Footer stats of newly staged files, per table (r8) — read once
    per new file, before the commit loop. A file that cannot be read
    records no entry, which pruning treats as "never skip"."""
    out: dict[str, dict] = {}
    for t, files in tables.items():
        out[t] = {}
        for f in files:
            try:
                out[t][f] = _file_stats(os.path.join(root, t), f)
            except Exception:
                pass
    return out


def _body(
    head: dict | None,
    tables: dict[str, list[str]],
    new_stats: dict[str, dict],
    batch_id: int | None,
) -> dict:
    """The manifest body listing ``tables``: stats of files carried
    from ``head`` are inherited, new files take ``new_stats`` — commit
    cost stays O(new files). Written in the single-table format when
    ``tables`` is just the root table."""
    old = (head or {}).get("stats", {})
    if head is not None and "tables" not in head:
        old = {"": old}
    stats = {}
    for t, files in tables.items():
        old_t, new_t = old.get(t, {}), new_stats.get(t, {})
        stats[t] = {f: s for f in files if (s := new_t.get(f) or old_t.get(f))}
    if set(tables) == {""}:
        body = {"files": tables[""], "stats": stats[""]}
    else:
        body = {"tables": tables, "stats": stats}
    if batch_id is not None:
        body["batch_id"] = batch_id
    return body


def _commit(root: str, fold: Callable[[dict | None], dict | None]) -> int | None:
    """THE commit point of every write. Reads the head manifest (None
    for an empty table), calls ``fold(head)`` for the next manifest
    body and links it at head + 1 with ``os.link``; a lost race calls
    ``fold`` again on the winner's manifest. ``fold`` returns None to
    skip the commit (an already-applied ``batch_id``) or raises to
    abort it. Returns the committed version, or None when skipped. A
    crash before the link leaves only invisible stragglers."""
    os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
    while True:
        head_v = current_version(root)
        body = fold(_read_manifest(root, head_v) if head_v >= 0 else None)
        if body is None:
            return None
        version = head_v + 1
        final = _manifest_file(root, version)
        tmp = final + f".tmp{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            # committed_at (r10): audit metadata for table_history /
            # retention only — never query semantics
            json.dump(
                {"version": version, **body, "committed_at": time.time()}, fh
            )
        try:
            os.link(tmp, final)
        except FileExistsError:
            continue  # lost the race: fold again on the winner's manifest
        finally:
            os.remove(tmp)
        _write_head_hint(root, version)
        return version


def _publish(
    root: str,
    staged: dict[str, list[str]],
    append: bool,
    batch_id: int | None = None,
) -> int | None:
    """Commit staged files (per member table; ``""`` is the root
    table) as the next version: on their own, or with ``append`` after
    the head's files, member tables the batch does not touch carried
    through. A ``batch_id`` is recorded in the manifest, and the
    commit is skipped (None) when that batch is already applied."""
    new_stats = _new_stats(root, staged)

    def fold(head):
        if batch_id is not None and _applied(root, batch_id):
            return None
        tables = dict(_tables(head)) if append else {}
        for t, files in staged.items():
            tables[t] = tables.get(t, []) + files
        return _body(head, tables, new_stats, batch_id)

    return _commit(root, fold)


def write_versioned(spark: SparkSession, df: DataFrame, path: str) -> int:
    """Commit ``df`` as the table's next version; returns the version.

    Stage (invisible) → one atomic manifest link (the commit).
    Readers pinned to any OTHER version are unaffected: no visible
    file is ever mutated."""
    return _publish(path, {"": _stage_files(df, path)}, append=False)


def write_versioned_clustered(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    zorder_cols: tuple[str, str],
    num_partitions: int | None = None,
) -> int:
    """Commit ``df`` Z-ORDER-CLUSTERED on two numeric columns — the
    Delta ``OPTIMIZE ZORDER BY`` / Iceberg sort-order analog for the
    versioned layer (r9): rows are laid out along the Morton curve of
    the two columns before staging, so every data file covers a
    compact 2-D cell and the manifest's per-file min/max stats
    (`_file_stats`) become SELECTIVE ON BOTH COLUMNS at once —
    `read_versioned(predicate={x: (lo, hi), y: (lo, hi)})` then skips
    most files at PLANNING time without opening them. A plain
    (unclustered or single-column-sorted) layout leaves one of the
    two ranges near-full-width per file, so two-sided box predicates
    prune nothing; measured 16/16 files read unclustered vs 3/16
    clustered on a 1/400 box (tests/test_ingest_sinks.py).

    Layout mechanics reuse the spatial operator verbatim
    (`operators/spatial.cluster_by_curve`): one min/max aggregate
    maps each cluster column to [0, 2¹⁶) integer cells (layout-only —
    query results never depend on the quantization), one RANGE
    shuffle on the Morton key (sampled bounds, no global sort
    barrier), sort within partitions, key dropped before staging.
    At 100 TB this is the same one extra shuffle per ingest batch
    that every clustered lakehouse write pays, bought back on every
    selective read."""
    staged = _stage_files(_zorder_layout(df, zorder_cols, num_partitions), path)
    return _publish(path, {"": staged}, append=False)


def _zorder_layout(
    df: DataFrame,
    zorder_cols: tuple[str, str],
    num_partitions: int | None = None,
) -> DataFrame:
    """The layout step of :func:`write_versioned_clustered`, shared
    with the streaming publisher: quantize the two cluster columns to
    [0, 2¹⁶) cells (one bounded min/max aggregate — layout-only,
    results never depend on it), range-shuffle on the Morton key,
    sort within partitions, drop the key."""
    from pyspark.sql import functions as F

    from trendengine_spark.operators.spatial import (
        cluster_by_curve,
        morton_key,
    )

    cx, cy = zorder_cols
    bounds = df.agg(
        F.min(cx).alias("x0"),
        F.max(cx).alias("x1"),
        F.min(cy).alias("y0"),
        F.max(cy).alias("y1"),
    ).collect()[0]  # bounded: one row
    if bounds["x0"] is None:  # empty batch: nothing to lay out
        return df
    span_x = float(bounds["x1"] - bounds["x0"]) or 1.0
    span_y = float(bounds["y1"] - bounds["y0"]) or 1.0
    qx = F.least(
        F.lit(65535),
        F.floor((F.col(cx) - F.lit(bounds["x0"])) / F.lit(span_x) * 65535),
    ).cast("long")
    qy = F.least(
        F.lit(65535),
        F.floor((F.col(cy) - F.lit(bounds["y0"])) / F.lit(span_y) * 65535),
    ).cast("long")
    return cluster_by_curve(df, morton_key(qx, qy), num_partitions).drop(
        "_zkey"
    )


def read_versioned(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    predicate: dict[str, tuple] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Scan exactly one committed version (newest by default) — a
    pinned snapshot, immune to later writes until vacuumed.

    ``predicate`` (r8): {column: (lo, hi)} closed intervals used for
    MANIFEST-LEVEL file skipping — a file whose recorded [min, max]
    cannot intersect every interval is excluded from the scan without
    being opened (the Iceberg/Delta data-skipping step that runs
    BEFORE parquet row-group pruning; at 10⁶-file scale this is the
    difference between planning against a manifest and touching
    storage). CONSERVATIVE by contract: files without stats for a
    predicated column are always kept, pass None for lo/hi to leave a
    side unbounded, and callers still apply the exact filter — the
    predicate only shrinks the file list, never the semantics."""
    v = current_version(path) if version is None else version
    manifest = os.path.join(path, _MANIFEST_DIR, f"v{v:06d}.json")
    with open(manifest) as fh:
        m = json.load(fh)
    files = m["files"]
    if predicate:
        stats = m.get("stats", {})
        kept = []
        for f in files:
            cols = stats.get(f, {}).get("cols", {})
            keep = True
            for col, (lo, hi) in predicate.items():
                rng = cols.get(col)
                if rng is None:
                    continue  # no stats: cannot skip
                mn, mx = rng
                if (hi is not None and mn > hi) or (
                    lo is not None and mx < lo
                ):
                    keep = False
                    break
            if keep:
                kept.append(f)
        files = kept
    reader = spark.read
    if merge_schema:
        # schema evolution (r8): an appended batch may carry ADDED
        # columns; the default reader takes one file's footer as the
        # schema and silently drops the others' extras. mergeSchema
        # unions footers (absent columns read as null) — opt-in, as
        # in every parquet engine, because footer-merging costs a
        # planning pass over all files.
        reader = reader.option("mergeSchema", "true")
    if not files:
        if predicate and m["files"]:
            # everything pruned: an empty frame with the right schema
            return reader.parquet(
                os.path.join(path, _DATA_DIR, m["files"][0])
            ).limit(0)
        raise ValueError(f"version {v} of {path} is empty")
    return reader.parquet(
        *[os.path.join(path, _DATA_DIR, f) for f in files]
    )


def vacuum_versioned(path: str, keep_last: int = 2) -> dict:
    """Drop all but the newest ``keep_last`` manifests and delete data
    files no surviving manifest references (incl. crash stragglers
    that were never committed), in every table the surviving
    manifests name — the root table of a single-table path, each
    member table of a multi-table root. Run only when no reader can
    still be pinned older than the horizon — the retention contract
    every log-structured table format has."""
    import shutil

    ms = _manifest_paths(path)
    keep, drop = ms[-keep_last:], ms[:-keep_last]
    referenced: dict[str, set[str]] = {}
    for m in keep:
        with open(m) as fh:
            for t, files in _tables(json.load(fh)).items():
                referenced.setdefault(t, set()).update(files)
    removed = 0
    for t, names in referenced.items():
        table_dir = os.path.join(path, t)
        data_dir = os.path.join(table_dir, _DATA_DIR)
        for f in os.listdir(data_dir) if os.path.isdir(data_dir) else []:
            if f not in names:
                os.remove(os.path.join(data_dir, f))
                removed += 1
        # a writer that crashed BEFORE moving its part files leaves a
        # _staging_* directory; vacuum runs under the same no-live-writer
        # contract as file deletion, so these are always dead
        for d in os.listdir(table_dir):
            if d.startswith("_staging_"):
                shutil.rmtree(os.path.join(table_dir, d))
    for m in drop:
        os.remove(m)
    return {"dropped_manifests": len(drop), "removed_files": removed}


def compact_versioned(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    zorder_by: tuple[str, str] | None = None,
) -> int:
    """Rewrite the newest version's data into ~``target_bytes`` files
    per table and publish the compacted file sets as the next version
    — the manifest-growth answer for append-mode tables: every
    streaming append manifest lists ALL previous files plus its own,
    so after 10^5 small-batch commits the manifest names 10^5+ files
    (multi-MB JSON, re-parsed per snapshot read) and the scan opens
    10^5 tiny parquet files. Compaction resets both to the data's
    natural file count; older versions stay readable (time travel)
    until :func:`vacuum_versioned` reclaims them — run the two
    together as the maintenance pair every table format ships
    (Iceberg rewrite_data_files + expire_snapshots). Works on a
    single-table path and on a multi-table root alike (every member
    table compacted, one commit). Returns the new version.

    The commit is a fold over the snapshot read at the top: files a
    concurrent writer added on top of that snapshot are appended,
    uncompacted, onto the compacted set — they get folded by the next
    maintenance run. A winner that REPLACED a table's lineage
    (snapshot-mode commit: its list is not a superset of ours) cannot
    be rebased; that aborts with a clear error rather than
    resurrecting replaced data. The newest manifest's ``batch_id`` is
    carried into the compacted manifest so :func:`last_batch_id` keeps
    answering after maintenance and a replayed streaming microbatch
    stays a no-op."""
    v = current_version(path)
    snap = _tables(_read_manifest(path, v))
    staged: dict[str, list[str]] = {}
    for t, files in snap.items():
        if not files:
            staged[t] = []
            continue
        table_dir = os.path.join(path, t)
        paths = [os.path.join(table_dir, _DATA_DIR, f) for f in files]
        total = sum(os.path.getsize(p) for p in paths if os.path.exists(p))
        n_out = max(1, -(-total // target_bytes))  # ceil
        df = spark.read.parquet(*paths)
        # zorder_by (r9): compaction doubles as the re-clustering pass
        # (Delta OPTIMIZE ZORDER) — appended-but-unclustered batches
        # fold into the Morton layout here, restoring planning-time
        # prunability across the WHOLE table, not just per batch
        if zorder_by is not None:
            out = _zorder_layout(df, zorder_by, n_out)
        else:
            out = df.coalesce(n_out)
        staged[t] = _stage_files(out, table_dir)
    new_stats = _new_stats(path, staged)

    def fold(head):
        tables = {}
        for t, files in _tables(head).items():
            old = set(snap.get(t, []))
            if not old.issubset(files):
                raise RuntimeError(
                    f"compact_versioned: version {head['version']} replaced "
                    f"the lineage of table {t!r} compacted from version {v}; "
                    "aborting (re-run compaction)"
                )
            tables[t] = staged.get(t, []) + [f for f in files if f not in old]
        return _body(head, tables, new_stats, head.get("batch_id"))

    return _commit(path, fold)


def publish_versioned_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    mode: str = "append",
    zorder_by: tuple[str, str] | None = None,
    zorder_partitions: int | None = None,
) -> bool:
    """One microbatch commit of :func:`publish_stream_versioned`
    (module-level so the retry/no-op contract is directly testable).
    Returns True when a version was committed, False when the batch
    was skipped as empty or as an already-applied retry.
    ``zorder_by`` lays the batch's files out along the Morton curve
    before staging (r9) — streaming ingestion then lands with
    planning-time-prunable per-file stats on both cluster columns,
    batch by batch, no rewrite ever needed."""
    if batch_df.isEmpty() or _applied(path, batch_id):
        return False  # empty, or a retry of an already-committed batch
    if zorder_by is not None:
        batch_df = _zorder_layout(batch_df, zorder_by, zorder_partitions)
    staged = {"": _stage_files(batch_df, path)}
    return _publish(path, staged, mode != "snapshot", batch_id) is not None


def publish_stream_versioned(
    events: DataFrame,
    path: str,
    checkpoint: str | None = None,
    query_name: str = "versioned_publish",
    mode: str = "append",
    zorder_by: tuple[str, str] | None = None,
    zorder_partitions: int | None = None,
):
    """Streaming publisher: every microbatch commits one table version
    (``mode='snapshot'`` publishes the batch AS the new table;
    ``'append'`` unions it with the current version's files by
    listing them in the new manifest — no data rewrite either way).
    Readers always see a complete committed version; a batch that
    crashes mid-write leaves only invisible stragglers (the append
    manifest is assembled BEFORE its single atomic commit — no
    window where a version shows only the new batch).

    Exactly-once (r7, ADVICE fix): every commit records its streaming
    ``batch_id`` in the manifest, and a batch whose id is ≤ the
    newest manifest's recorded id is skipped as an already-applied
    retry. This closes the append-mode double-apply window the
    version≈batch argument alone left open: a crash between the
    manifest commit and the streaming checkpoint commit replays the
    batch, and without the marker the retry would fold fresh copies
    of the same rows onto a file list that already contains the first
    attempt's. Append commits are folds (:func:`_commit`), so a
    concurrent writer's commit is never dropped. Residual contract:
    one streaming writer per table (the checkpoint's own contract)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        publish_versioned_batch(
            batch_df, batch_id, path, mode, zorder_by, zorder_partitions
        )

    writer = (
        events.writeStream.foreachBatch(_apply)
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


# ------------------------------------------------- multi-table transactions
# r12 (VERDICT r11 task 3): a transaction spanning SEVERAL tables as
# ONE atomic commit — the catalog-level commit every lakehouse needs
# the moment a pipeline maintains correlated tables (the streaming
# dedup fold's corpus/signatures/bands). Layout: each member table
# keeps its own immutable ``<root>/<table>/data/`` pool (staging and
# footer-stats machinery reused verbatim), but there is exactly ONE
# manifest chain at ``<root>/_manifests/`` whose entries map table →
# file list. The commit is the same fold (:func:`_commit`); readers pin
# one root manifest and see every member table at the same version —
# all-or-nothing by construction, no commit ordering to reason about,
# no intermediate states for a crash to expose. ``last_batch_id``,
# ``current_version``, ``compact_versioned`` and ``vacuum_versioned``
# work on the root unchanged (the manifest carries the same
# ``batch_id`` marker).


def read_multi_versioned(
    spark: SparkSession,
    root: str,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Scan one member table of a multi-table transaction root at one
    committed version (newest by default) — the per-table
    :func:`read_versioned` with the file list taken from the ROOT
    manifest, so readers of several member tables at the same pinned
    version see one consistent transaction."""
    v = current_version(root) if version is None else version
    m = _read_manifest(root, v)
    files = m["tables"].get(table, [])
    if not files:
        raise ValueError(f"table {table!r} of {root} is empty at v{v}")
    return spark.read.parquet(
        *[os.path.join(root, table, _DATA_DIR, f) for f in files]
    )


def publish_multi_versioned_batch(
    dfs: dict[str, DataFrame],
    batch_id: int,
    root: str,
) -> bool:
    """One streaming microbatch as ONE transaction across the member
    tables: stage every table's files (invisible), then a single
    atomic append commit records them all plus the ``batch_id``
    replay marker. Returns False when the batch id is already
    applied. A batch whose DataFrames are all empty still commits a
    marker-only manifest (unchanged file lists) so its replay is a
    strict no-op rather than a re-computation. Crash anywhere before
    the commit leaves only invisible stragglers in the data pools —
    there is no partial-visibility window at all, which is the point
    of the transaction (the r11 fold needed a paragraph of ordering
    argument for its three separate commits; this needs one word:
    all-or-nothing)."""
    if _applied(root, batch_id):
        return False
    staged = {
        t: _stage_files(df, os.path.join(root, t)) for t, df in dfs.items()
    }
    return _publish(root, staged, append=True, batch_id=batch_id) is not None


def table_history(path: str) -> list[dict]:
    """Commit log of a versioned table — the DESCRIBE HISTORY analog
    (Delta `history()`, Iceberg `snapshots`): one entry per SURVIVING
    manifest, oldest first, from manifest metadata alone (no data
    files opened — row counts sum the per-file stats recorded at
    commit, O(manifests) local JSON reads). Vacuumed versions are
    absent by definition; manifests from before the r10
    `committed_at` stamp report ``committed_at=None``. Each entry:
    {version, committed_at, n_files, rows (None when any file lacks
    stats), batch_id}."""
    out = []
    for m in _manifest_paths(path):
        with open(m) as fh:
            b = json.load(fh)
        stats = b.get("stats", {})
        rows = 0
        for f in b["files"]:
            s = stats.get(f)
            if s is None or "rows" not in s:
                rows = None
                break
            rows += s["rows"]
        out.append(
            {
                "version": b["version"],
                "committed_at": b.get("committed_at"),
                "n_files": len(b["files"]),
                "rows": rows,
                "batch_id": b.get("batch_id"),
            }
        )
    return out


def diff_versions(
    spark: SparkSession, path: str, v_old: int, v_new: int
) -> dict:
    """Change report between two committed versions — the audit a
    versioned table owes its consumers: schema drift (added/removed
    columns, type changes), row-count delta, and per-shared-column
    null-fraction drift. One aggregate pass per version (all counters
    partial-combined); no row-level diff (that is a join the caller
    can run on the two snapshots if the report warrants it).

    Returns {added_columns, removed_columns, type_changes,
    rows_old, rows_new, null_frac_drift: {col: (old, new)}}."""
    from pyspark.sql import functions as F

    old = read_versioned(spark, path, version=v_old)
    new = read_versioned(spark, path, version=v_new)
    ot = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    nt = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    shared = sorted(set(ot) & set(nt))

    def profile(df, cols):
        aggs = [F.count(F.lit(1)).alias("_n")] + [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_null_{c}")
            for c in cols
        ]
        r = df.agg(*aggs).collect()[0]
        n = r["_n"]
        return n, {
            c: (r[f"_null_{c}"] / n if n else 0.0) for c in cols
        }

    n_old, nulls_old = profile(old, shared)
    n_new, nulls_new = profile(new, shared)
    return {
        "added_columns": sorted(set(nt) - set(ot)),
        "removed_columns": sorted(set(ot) - set(nt)),
        "type_changes": {
            c: (ot[c], nt[c]) for c in shared if ot[c] != nt[c]
        },
        "rows_old": n_old,
        "rows_new": n_new,
        "null_frac_drift": {
            c: (round(nulls_old[c], 6), round(nulls_new[c], 6))
            for c in shared
            if nulls_old[c] != nulls_new[c]
        },
    }
