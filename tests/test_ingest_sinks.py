"""Ingest normalization (F6/F7) and CSV sinks (S4/S5)."""

from __future__ import annotations

import hashlib
import os

import pandas as pd
from pyspark.sql import functions as F

from trendengine_spark.ingest import (
    decode_epoch_ms,
    decode_epoch_ms_json,
    normalize_observations,
    parse_coordinates,
)
from trendengine_spark.sinks import write_csv


def test_decode_epoch_ms_both_wire_shapes(spark):
    pdf = pd.DataFrame(
        {
            "ms": [0, 1_600_000_000_000],
            "wrapped": ['{"value": 0}', '{"value": 1600000000000}'],
        }
    )
    df = spark.createDataFrame(pdf)
    out = df.select(
        decode_epoch_ms(F.col("ms")).alias("a"),
        decode_epoch_ms_json(F.col("wrapped")).alias("b"),
    ).toPandas()
    assert (out["a"] == out["b"]).all()
    assert str(out["a"].iloc[0]) == "1970-01-01 00:00:00"


def test_parse_coordinates(spark):
    df = spark.createDataFrame(pd.DataFrame({"c": ["[13.5, 52.25]", "[-1,2]"]}))
    out = df.select(parse_coordinates(F.col("c")).alias("p")).toPandas()
    assert out["p"].iloc[0]["lon"] == 13.5 and out["p"].iloc[0]["lat"] == 52.25
    assert out["p"].iloc[1]["lon"] == -1.0


def test_normalize_observations_canonical_schema(spark):
    pdf = pd.DataFrame(
        {
            "img": ["i1", "i2"],
            "lon": [13.00005, 14.0],
            "lat": [52.0, 53.0],
            "t_ms": [1_600_000_000_000, 1_600_000_060_000],
            "ndvi": [0.5, 0.6],
        }
    )
    out = normalize_observations(
        spark.createDataFrame(pdf),
        series_id="gimms",
        image_id="img",
        longitude="lon",
        latitude="lat",
        time_col="t_ms",
        value_col="ndvi",
        time_unit="epoch_ms",
        round_coords=4,
    )
    assert out.columns == [
        "series_id", "image_id", "longitude", "latitude", "time", "value",
    ]
    p = out.toPandas()
    assert p["series_id"].unique().tolist() == ["gimms"]
    assert p["longitude"].iloc[0] == 13.0001  # rounded to 4 (reference F5)


def test_csv_sink_boolean_gate(spark, tmp_path):
    df = spark.range(5).withColumnRenamed("id", "x")
    skipped = os.path.join(str(tmp_path), "skipped")
    written = os.path.join(str(tmp_path), "written")
    write_csv(df, skipped, save=False)
    assert not os.path.exists(skipped)  # reference truthiness bug fixed
    write_csv(df, written, save=True, single_file=True)
    files = [f for f in os.listdir(written) if f.endswith(".csv")]
    assert len(files) == 1
    back = spark.read.option("header", "true").csv(written).count()
    assert back == 5


def test_write_parquet_partitioned_one_file_per_value(spark, tmp_path):
    """r15 (VERDICT r14 #6, the IVFPQ-index fan-out lesson): a
    partitionBy write must co-locate on the partition columns first —
    without it every task emits a file into every partition value it
    touches (task x value files); with it, exactly one data file per
    partition directory."""
    from trendengine_spark.sinks import write_parquet

    df = (
        spark.range(1000)
        .repartition(8)  # many tasks, each touching every value
        .withColumn("p", (F.col("id") % 4).cast("int"))
    )
    out = os.path.join(str(tmp_path), "part_t")
    write_parquet(df, out, partition_by=["p"])
    for v in range(4):
        pdir = os.path.join(out, f"p={v}")
        files = [f for f in os.listdir(pdir) if f.startswith("part-")]
        assert len(files) == 1, (v, files)
    assert spark.read.parquet(out).count() == 1000


def test_write_parquet_splits_skewed_value(spark, tmp_path, monkeypatch):
    """A dominant partition value is split into files of at most
    MAX_RECORDS_PER_FILE rows; the small values keep one file each."""
    from trendengine_spark import sinks

    monkeypatch.setattr(sinks, "MAX_RECORDS_PER_FILE", 100)
    df = (
        spark.range(1000)
        .repartition(8)
        .withColumn("p", F.when(F.col("id") < 900, 0).otherwise(F.col("id") % 4 + 1))
    )
    out = os.path.join(str(tmp_path), "skew_t")
    sinks.write_parquet(df, out, partition_by=["p"])
    n_files = {
        v: len([f for f in os.listdir(os.path.join(out, f"p={v}")) if f.startswith("part-")])
        for v in range(5)
    }
    assert n_files == {0: 9, 1: 1, 2: 1, 3: 1, 4: 1}, n_files
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.filter("p = 0").count() == 900


def test_reference_named_outputs(spark, tmp_path):
    from trendengine_spark.sinks import save_polytrend_outputs

    res = spark.range(3).withColumnRenamed("id", "trend_type")
    ts = spark.range(5).withColumnRenamed("id", "value")
    save_polytrend_outputs(res, ts, str(tmp_path), save_result=True, save_ts=True)
    assert os.path.isdir(os.path.join(str(tmp_path), "PolyTrend_result.csv"))
    assert os.path.isdir(os.path.join(str(tmp_path), "time_series.csv"))
    # save_ts=False suppresses the side output (the reference's polygon
    # path wrote it unconditionally - truthiness bug, SURVEY 4.4.4)
    d2 = str(tmp_path) + "_2"
    save_polytrend_outputs(res, ts, d2, save_result=True, save_ts=False)
    assert os.path.isdir(os.path.join(d2, "PolyTrend_result.csv"))
    assert not os.path.exists(os.path.join(d2, "time_series.csv"))


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """64 tiny files → a handful of target-sized ones, byte-identical
    data, atomic swap (no intermediate dir left behind)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from trendengine_spark.sinks import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(20000).select(
        "id", (F.col("id") % 97).alias("k")
    ).repartition(64).write.parquet(path)
    assert len(glob.glob(path + "/part-*.parquet")) == 64
    before = spark.read.parquet(path).groupBy().sum("id", "k").collect()

    n = compact_parquet(spark, path, target_bytes=64 * 1024)
    assert n == len(glob.glob(path + "/part-*.parquet"))
    assert 1 <= n < 64
    assert not os.path.exists(path + "._compact_tmp")
    after = spark.read.parquet(path).groupBy().sum("id", "k").collect()
    assert before == after


def test_compact_parquet_sorts_within_files(spark, tmp_path):
    import glob

    import pandas as pd
    from pyspark.sql import functions as F

    from trendengine_spark.sinks import compact_parquet

    path = str(tmp_path / "sorted")
    spark.range(5000).select(
        "id", (F.col("id") * 2654435761 % 1000).alias("zkey")
    ).repartition(16).write.parquet(path)
    compact_parquet(spark, path, target_bytes=32 * 1024, sort_within_by=["zkey"])
    for f in glob.glob(path + "/part-*.parquet"):
        pdf = pd.read_parquet(f)
        if not pdf.empty:
            assert pdf["zkey"].is_monotonic_increasing


def test_merge_upsert_update_insert_delete(spark, tmp_path):
    """CDC-apply semantics: matching keys replaced, new keys inserted,
    tombstoned keys deleted; result is exact and the tmp dir is gone."""
    import os

    import pandas as pd

    from trendengine_spark.sinks import merge_upsert

    path = str(tmp_path / "dim")
    spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3, 4], "v": ["a", "b", "c", "d"]})
    ).write.parquet(path)

    updates = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [2, 5, 3],
                "v": ["B", "E", None],
                "_del": [False, False, True],
            }
        )
    )
    stats = merge_upsert(spark, path, updates, ["k"], deleted_col="_del")
    got = {
        r.k: r.v
        for r in spark.read.parquet(path).collect()
    }
    assert got == {1: "a", 2: "B", 4: "d", 5: "E"}  # 3 deleted, 2 updated->B, 5 inserted
    assert stats == {"replaced_or_deleted": 2, "applied": 2, "total": 4}
    assert not os.path.exists(path + "._merge_tmp")


def test_merge_upsert_pure_insert(spark, tmp_path):
    import pandas as pd

    from trendengine_spark.sinks import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame(pd.DataFrame({"k": [1], "v": [10.0]})).write.parquet(path)
    ups = spark.createDataFrame(pd.DataFrame({"k": [2, 3], "v": [20.0, 30.0]}))
    stats = merge_upsert(spark, path, ups, ["k"])
    assert stats == {"replaced_or_deleted": 0, "applied": 2, "total": 3}
    assert spark.read.parquet(path).count() == 3


def test_maintain_rollup_incremental_equals_full(spark, tmp_path):
    """base+delta maintenance must equal the direct full aggregate —
    including exact double sums (decimal state) and min/max, plus a
    read-time avg."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from trendengine_spark.sinks import maintain_rollup, read_rollup
    from trendengine_spark.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    spec = {
        "n": ("count", "value"),
        "v_sum": ("sum", "value"),
        "v_min": ("min", "value"),
        "v_max": ("max", "value"),
    }
    path = str(tmp_path / "rollup")
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    maintain_rollup(spark, path, half_a, ["event_type"], spec)
    out = maintain_rollup(spark, path, half_b, ["event_type"], spec)

    got = (
        read_rollup(spark, path, avg_pairs={"v_avg": ("v_sum", "n")})
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    want = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("v_sum"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
        .withColumn("v_avg", (F.col("v_sum") / F.col("n")).cast("double"))
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert out["groups"] == len(want)
    assert got["n"].tolist() == want["n"].tolist()
    assert got["v_sum"].tolist() == want["v_sum"].tolist()
    assert got["v_min"].tolist() == want["v_min"].tolist()
    assert got["v_max"].tolist() == want["v_max"].tolist()
    assert got["v_avg"].tolist() == want["v_avg"].tolist()


def test_merge_upsert_partitioned_rewrites_only_touched(spark, tmp_path):
    """Partition-pruned MERGE: content correct AND cold partition
    files physically untouched (same inode listing before/after)."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from trendengine_spark.sinks import merge_upsert_partitioned

    target = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 2, 3, 4, 5, 6],
                "seg": ["a", "a", "b", "b", "c", "c"],
                "v": ["x1", "x2", "x3", "x4", "x5", "x6"],
            }
        )
    )
    base.write.partitionBy("seg").parquet(target)

    def listing(seg):
        d = os.path.join(target, f"seg={seg}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    cold_before = listing("c")

    updates = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [2, 7, 3],
                "seg": ["a", "a", "b"],
                "v": ["X2", "X7", None],
                "_del": [False, False, True],
            }
        )
    )
    out = merge_upsert_partitioned(
        spark, target, updates, ["k"], "seg", deleted_col="_del"
    )
    assert out["touched_partitions"] == ["a", "b"]

    got = {
        (r["seg"], r["k"]): r["v"]
        for r in spark.read.parquet(target).collect()
    }
    assert got == {
        ("a", 1): "x1", ("a", 2): "X2", ("a", 7): "X7",
        ("b", 4): "x4", ("c", 5): "x5", ("c", 6): "x6",
    }
    assert listing("c") == cold_before  # cold partition untouched


def test_maintain_rollup_approx_distinct_merges_exactly(spark, tmp_path):
    """HLL sketch state: incremental base+delta estimate must equal
    the full-recompute estimate exactly (register-wise max merge),
    and stay within 5% of the exact distinct count."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from trendengine_spark.sinks import maintain_rollup, read_rollup
    from trendengine_spark.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    spec = {"n": ("count", "value"), "u_sketch": ("approx_distinct", "user_id")}
    path = str(tmp_path / "rollup_hll")
    maintain_rollup(
        spark, path, ev.filter(F.col("event_id") % 2 == 0),
        ["event_type"], spec,
    )
    maintain_rollup(
        spark, path, ev.filter(F.col("event_id") % 2 == 1),
        ["event_type"], spec,
    )
    got = {
        r["event_type"]: r["u_sketch"]
        for r in read_rollup(
            spark, path, estimate_cols=["u_sketch"]
        ).collect()
    }
    full = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
        )
        .collect()
    }
    assert got == full  # incremental merge == full recompute, exactly
    exact = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("d"))
        .collect()
    }
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])


def test_versioned_table_snapshot_isolation_and_vacuum(spark, tmp_path):
    """Manifest-versioned table: pinned readers see their version
    regardless of later commits; time travel works; vacuum removes
    only unreferenced files and keeps the retained versions
    readable."""
    import os

    import pandas as pd

    from trendengine_spark.tablelog import (
        current_version,
        read_versioned,
        vacuum_versioned,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    v0 = write_versioned(
        spark, spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})), path
    )
    assert (v0, current_version(path)) == (0, 0)

    pinned = read_versioned(spark, path, version=0)  # plan pinned to v0

    v1 = write_versioned(
        spark, spark.createDataFrame(pd.DataFrame({"k": [3], "v": ["c"]})), path
    )
    assert v1 == 1
    # latest sees v1; the pinned plan still scans v0's files
    assert {r.k for r in read_versioned(spark, path).collect()} == {3}
    assert {r.k for r in pinned.collect()} == {1, 2}
    # time travel
    assert {r.k for r in read_versioned(spark, path, version=0).collect()} == {1, 2}

    v2 = write_versioned(
        spark, spark.createDataFrame(pd.DataFrame({"k": [4], "v": ["d"]})), path
    )
    out = vacuum_versioned(path, keep_last=2)
    assert out["dropped_manifests"] == 1 and out["removed_files"] >= 1
    # v0 is gone, v1/v2 still readable
    assert {r.k for r in read_versioned(spark, path, version=v1).collect()} == {3}
    assert {r.k for r in read_versioned(spark, path, version=v2).collect()} == {4}
    assert not any(
        f.startswith("_staging") for f in os.listdir(path)
    )
    # a crashed writer's staging dir must be reaped by vacuum
    os.makedirs(os.path.join(path, "_staging_deadbeef"))
    vacuum_versioned(path, keep_last=2)
    assert not any(
        f.startswith("_staging") for f in os.listdir(path)
    )


def test_last_batch_id_survives_vacuumed_blind_commits(spark, tmp_path):
    """ADVICE r9: on a vacuumed table whose SURVIVING manifests carry
    no batch_id (plain write_versioned commits), last_batch_id must
    stop at the vacuum floor and return None — not crash the
    scan-back with FileNotFoundError — and publish_versioned_batch
    must still be able to publish."""
    import pandas as pd

    from trendengine_spark.tablelog import (
        last_batch_id,
        publish_versioned_batch,
        vacuum_versioned,
        write_versioned,
    )

    path = str(tmp_path / "vt_vac")
    df = spark.createDataFrame(pd.DataFrame({"k": [1], "v": ["a"]}))
    for _ in range(3):  # three blind commits (no batch_id)
        write_versioned(spark, df, path)
    vacuum_versioned(path, keep_last=2)  # v0's manifest removed
    assert last_batch_id(path) is None
    assert publish_versioned_batch(df, 7, path) is True
    assert last_batch_id(path) == 7


def test_table_history_commit_log(spark, tmp_path):
    """r10: table_history reads the commit log from manifests alone —
    versions, per-commit file/row counts from the recorded stats,
    batch ids, and commit timestamps; vacuumed versions drop out."""
    import pandas as pd

    from trendengine_spark.tablelog import (
        publish_versioned_batch,
        table_history,
        vacuum_versioned,
        write_versioned,
    )

    path = str(tmp_path / "vh")
    write_versioned(
        spark, spark.createDataFrame(pd.DataFrame({"k": [1, 2]})), path
    )
    publish_versioned_batch(
        spark.createDataFrame(pd.DataFrame({"k": [3]})), 5, path
    )
    h = table_history(path)
    assert [e["version"] for e in h] == [0, 1]
    assert [e["rows"] for e in h] == [2, 3]  # append folds v0's files
    assert h[0]["batch_id"] is None and h[1]["batch_id"] == 5
    assert all(e["committed_at"] is not None for e in h)
    assert h[1]["committed_at"] >= h[0]["committed_at"]
    write_versioned(
        spark, spark.createDataFrame(pd.DataFrame({"k": [9]})), path
    )
    vacuum_versioned(path, keep_last=2)
    assert [e["version"] for e in table_history(path)] == [1, 2]


def test_lifecycle_pipeline_manifest_prune(spark):
    """r10 flagship: the raster→trend lifecycle's AOI read must prune
    files at the MANIFEST level (z-order clustered commit ⇒ per-file
    min/max selective on both coordinates), and the pruned scan must
    return exactly the rows the full scan + exact filter returns —
    the predicate shrinks IO, never semantics."""
    import os
    import tempfile

    import pyspark.sql.functions as F

    from trendengine_spark.queries import REGISTRY
    from trendengine_spark.tablelog import read_versioned

    sf = "/root/testdata/sf0.001"
    out = REGISTRY["flagship_lifecycle_pipeline"].fn(spark, sf).collect()
    assert len(out) >= 1 and sum(r["n_pixels"] for r in out) == 16
    path = os.path.join(
        tempfile.gettempdir(),
        f"te_lifecycle_{hashlib.md5(sf.encode()).hexdigest()[:8]}",
    )
    aoi = (4.0, 6.0)
    pred = {"longitude": aoi, "latitude": aoi}
    full = read_versioned(spark, path)
    pruned = read_versioned(spark, path, predicate=pred)
    n_full, n_pruned = len(full.inputFiles()), len(pruned.inputFiles())
    assert n_full == 16 and n_pruned <= n_full // 4, (n_pruned, n_full)
    box = (
        (F.col("longitude") >= aoi[0]) & (F.col("longitude") < aoi[1])
        & (F.col("latitude") >= aoi[0]) & (F.col("latitude") < aoi[1])
    )
    assert pruned.filter(box).count() == full.filter(box).count()


def test_versioned_table_schema_evolution(spark, tmp_path):
    """A later version may add columns; each version reads with its
    own schema (no cross-file merge needed), and a mergeSchema scan
    over the data pool union-reads both generations with null fill."""
    import pandas as pd

    from trendengine_spark.tablelog import read_versioned, write_versioned

    path = str(tmp_path / "vt_evo")
    write_versioned(
        spark, spark.createDataFrame(pd.DataFrame({"k": [1], "v": ["a"]})), path
    )
    write_versioned(
        spark,
        spark.createDataFrame(
            pd.DataFrame({"k": [2], "v": ["b"], "extra": [9.5]})
        ),
        path,
    )
    v0 = read_versioned(spark, path, version=0)
    v1 = read_versioned(spark, path, version=1)
    assert v0.columns == ["k", "v"]
    assert v1.columns == ["k", "v", "extra"]
    assert v1.collect()[0]["extra"] == 9.5

    merged = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "vt_evo" / "data")
    )
    rows = {r["k"]: r["extra"] for r in merged.collect()}
    assert rows[2] == 9.5 and rows[1] is None


def test_versioned_commit_collision_retries(spark, tmp_path):
    """Two commits racing for the same version number must both land
    (the loser retries at the next version) — never silently clobber."""
    import pandas as pd

    from trendengine_spark.tablelog import (
        _publish,
        _stage_files,
        current_version,
        read_versioned,
        write_versioned,
    )

    path = str(tmp_path / "vt_race")
    write_versioned(
        spark, spark.createDataFrame(pd.DataFrame({"k": [0]})), path
    )
    a = _stage_files(
        spark.createDataFrame(pd.DataFrame({"k": [1]})), path
    )
    b = _stage_files(
        spark.createDataFrame(pd.DataFrame({"k": [2]})), path
    )
    # simulate the race: both saw current_version == 0; commit A
    # first, then B (which would have targeted v1 too)
    va = _publish(path, {"": a}, append=False)
    vb = _publish(path, {"": b}, append=False)
    assert (va, vb) == (1, 2)
    assert current_version(path) == 2
    assert {r.k for r in read_versioned(spark, path, version=1).collect()} == {1}
    assert {r.k for r in read_versioned(spark, path, version=2).collect()} == {2}


def test_versioned_append_batch_retry_is_noop(spark, tmp_path):
    """A retried streaming append batch (crash between manifest commit
    and checkpoint commit) must NOT double-append: the manifest
    records the batch id and a replayed id is skipped (ADVICE r6)."""
    from trendengine_spark.tablelog import (
        current_version,
        last_batch_id,
        publish_versioned_batch,
        read_versioned,
    )

    path = str(tmp_path / "vt")
    df = spark.range(10).withColumnRenamed("id", "k")
    assert publish_versioned_batch(df, 0, path, mode="append") is True
    assert publish_versioned_batch(df, 1, path, mode="append") is True
    v_before = current_version(path)
    n_before = read_versioned(spark, path).count()
    assert n_before == 20 and last_batch_id(path) == 1
    # replay batch 1 (and a stale batch 0): both no-ops
    assert publish_versioned_batch(df, 1, path, mode="append") is False
    assert publish_versioned_batch(df, 0, path, mode="append") is False
    assert current_version(path) == v_before
    assert read_versioned(spark, path).count() == n_before
    # a FRESH batch still commits
    assert publish_versioned_batch(df, 2, path, mode="append") is True
    assert read_versioned(spark, path).count() == 30


def test_versioned_snapshot_batch_retry_is_noop(spark, tmp_path):
    from trendengine_spark.tablelog import (
        current_version,
        publish_versioned_batch,
        read_versioned,
    )

    path = str(tmp_path / "vt")
    df = spark.range(5).withColumnRenamed("id", "k")
    assert publish_versioned_batch(df, 7, path, mode="snapshot") is True
    v = current_version(path)
    assert publish_versioned_batch(df, 7, path, mode="snapshot") is False
    assert current_version(path) == v
    assert read_versioned(spark, path).count() == 5


def _race_first_fold(monkeypatch, tl, compete):
    """Make the next commit race: its FIRST fold call runs
    ``compete()``, a competing writer that takes the slot the fold is
    building for. Returns the head version each fold call saw."""
    real, seen = tl._commit, []

    def racing(root, fold):
        # one race only: later commits, the competitor's too, run as is
        monkeypatch.setattr(tl, "_commit", real)

        def observed(head):
            seen.append(None if head is None else head["version"])
            if len(seen) == 1:
                compete()
            return fold(head)

        return real(root, observed)

    monkeypatch.setattr(tl, "_commit", racing)
    return seen


def test_append_refolds_on_winner_manifest(spark, tmp_path, monkeypatch):
    """An append that loses the commit race folds again on the
    winner's manifest: the final version lists both writers' files,
    never a stale list that drops the winner's."""
    import trendengine_spark.tablelog as tl

    path = str(tmp_path / "vt")

    def batch(lo):
        return spark.range(lo, lo + 10).withColumnRenamed("id", "k")

    tl.publish_versioned_batch(batch(0), 0, path)  # v0
    seen = _race_first_fold(
        monkeypatch, tl, lambda: tl.publish_versioned_batch(batch(100), 1, path)
    )
    assert tl.publish_versioned_batch(batch(10), 2, path) is True
    assert seen == [0, 1]  # re-folded on the winner's v1
    assert tl.current_version(path) == 2
    winner = tl._read_manifest(path, 1)["files"]
    final = tl._read_manifest(path, 2)["files"]
    assert final[: len(winner)] == winner and len(final) > len(winner)
    got = sorted(r["k"] for r in tl.read_versioned(spark, path).collect())
    assert got == sorted([*range(20), *range(100, 110)])
    assert tl.last_batch_id(path) == 2


def test_merge_upsert_partitioned_rejects_hostile_partition_types(
    spark, tmp_path
):
    import pytest
    from pyspark.sql import functions as F

    from trendengine_spark.sinks import merge_upsert_partitioned

    tgt = str(tmp_path / "t")
    upd = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") / 2.0).alias("p")
    )
    with pytest.raises(ValueError, match="string/integer"):
        merge_upsert_partitioned(spark, tgt, upd, ["k"], "p")
    upd_s = spark.range(4).select(
        F.col("id").alias("k"), F.lit("a b/c").alias("p")
    )
    with pytest.raises(ValueError, match="escap"):
        merge_upsert_partitioned(spark, tgt, upd_s, ["k"], "p")


def test_expectations_validates_rules(spark):
    import pytest
    from pyspark.sql import functions as F

    from trendengine_spark.operators.quality import expectations

    df = spark.range(3)
    with pytest.raises(ValueError, match="at least one rule"):
        expectations(df, {})
    with pytest.raises(ValueError, match="rule names"):
        expectations(df, {"bad'name": F.col("id") > 0})


def test_versioned_head_hint_and_compaction(spark, tmp_path):
    """current_version must answer correctly with a fresh, stale, or
    missing head hint (the hint is advisory — manifests are truth);
    compact_versioned must rewrite an append-grown file list into few
    files with identical rows, keeping time travel intact."""
    import os

    from trendengine_spark.tablelog import (
        compact_versioned,
        current_version,
        read_versioned,
        vacuum_versioned,
        write_versioned,
        publish_versioned_batch,
    )

    path = str(tmp_path / "vt")
    for b in range(6):
        df = spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "k")
        publish_versioned_batch(df, b, path, mode="append")
    assert current_version(path) == 5
    hint = os.path.join(path, "_manifests", "_head")
    # stale hint: point back at v2 — forward probing must recover 5
    with open(hint, "w") as fh:
        fh.write("2")
    assert current_version(path) == 5
    # missing hint: listdir fallback
    os.remove(hint)
    assert current_version(path) == 5
    # corrupt hint
    with open(hint, "w") as fh:
        fh.write("not-a-number")
    assert current_version(path) == 5

    from trendengine_spark.tablelog import _read_manifest

    n_files_before = len(_read_manifest(path, 5)["files"])
    assert n_files_before >= 6  # append folded every batch's files
    before = sorted(r["k"] for r in read_versioned(spark, path).collect())

    v = compact_versioned(spark, path)
    assert v == 6
    assert len(_read_manifest(path, v)["files"]) < n_files_before
    after = sorted(r["k"] for r in read_versioned(spark, path).collect())
    assert after == before
    # time travel to the pre-compaction version still works
    assert read_versioned(spark, path, version=5).count() == 60
    # vacuum keeps the compacted head readable
    vacuum_versioned(path, keep_last=1)
    assert sorted(
        r["k"] for r in read_versioned(spark, path).collect()
    ) == before


def test_versioned_concurrent_commit_storm(tmp_path):
    """8 threads x 20 racing folded appends: every commit lands at a
    distinct version and the last manifest lists all 160 files — no
    fold ever published a stale list (the optimistic os.link protocol
    under real contention)."""
    import sys
    import threading

    from trendengine_spark.tablelog import (
        _publish,
        _read_manifest,
        current_version,
    )

    path = str(tmp_path / "vt")
    got: list[int] = []
    lock = threading.Lock()

    def worker(tid):
        mine = [
            _publish(path, {"": [f"w{tid}_{i}.parquet"]}, append=True)
            for i in range(20)
        ]
        with lock:
            got.extend(mine)

    ts = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the folds more finely
    try:
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in ts)
    assert len(got) == 160 and len(set(got)) == 160
    assert current_version(path) == 159
    last = _read_manifest(path, 159)["files"]
    assert len(last) == len(set(last)) == 160


def test_join_view_incremental_equals_recompute(spark, tmp_path):
    """maintain_join_view over two delta rounds (ΔA only, then ΔA+ΔB)
    must equal the full recompute of the final A ⋈ B, and a replayed
    batch id must be a no-op (versioned-append exactly-once)."""
    from pyspark.sql import functions as F

    from trendengine_spark.sinks import init_join_view, maintain_join_view
    from trendengine_spark.tablelog import read_versioned

    def mk(rows, schema):
        return spark.createDataFrame(rows, schema)

    a0 = mk([(1, "a1"), (2, "a2")], "k long, av string")
    b0 = mk([(1, "b1"), (2, "b2"), (3, "b3")], "k long, bv string")
    view = str(tmp_path / "jview")
    init_join_view(spark, view, a0, b0, ["k"])

    da1 = mk([(3, "a3")], "k long, av string")
    assert maintain_join_view(
        spark, view, a0, da1, b0, None, ["k"], batch_id=1
    )
    a1 = a0.unionByName(da1)

    da2 = mk([(4, "a4")], "k long, av string")
    db2 = mk([(2, "B2x"), (4, "b4")], "k long, bv string")
    assert maintain_join_view(
        spark, view, a1, da2, b0, db2, ["k"], batch_id=2
    )
    # replay of batch 2: no-op
    assert not maintain_join_view(
        spark, view, a1, da2, b0, db2, ["k"], batch_id=2
    )

    a2 = a1.unionByName(da2)
    b2 = b0.unionByName(db2)
    want = sorted(
        (r.k, r.av, r.bv) for r in a2.join(b2, ["k"]).collect()
    )
    got = sorted(
        (r.k, r.av, r.bv)
        for r in read_versioned(spark, view).collect()
    )
    assert got == want


def test_diff_versions_reports_drift(spark, tmp_path):
    from pyspark.sql import functions as F

    from trendengine_spark.tablelog import diff_versions, write_versioned

    path = str(tmp_path / "vt")
    v0_df = spark.range(10).select(
        F.col("id").alias("k"), F.lit("x").alias("a"),
        F.lit(1.0).alias("b"),
    )
    v0 = write_versioned(spark, v0_df, path)
    v1_df = spark.range(25).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.lit("y")).alias("a"),
        F.lit("new").alias("c"),
    )
    v1 = write_versioned(spark, v1_df, path)
    d = diff_versions(spark, path, v0, v1)
    assert d["added_columns"] == ["c"]
    assert d["removed_columns"] == ["b"]
    assert d["type_changes"] == {}
    assert (d["rows_old"], d["rows_new"]) == (10, 25)
    assert d["null_frac_drift"]["a"] == (0.0, 0.2)


def test_compact_carries_batch_id_and_rebases_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """ADVICE r7 (medium): compaction is a FOLDED commit — it must
    (a) carry the newest manifest's streaming batch_id into the
    compacted manifest so a replayed microbatch after maintenance is
    still a no-op, and (b) commit pinned to its snapshot slot and
    REBASE a concurrent append (its files appended onto the compacted
    set) instead of silently dropping it via a stale-list retry."""
    import trendengine_spark.tablelog as tl

    path = str(tmp_path / "vt")
    for b in range(3):
        df = spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "k")
        tl.publish_versioned_batch(df, b, path, mode="append")
    assert tl.last_batch_id(path) == 2

    # no-race compaction: batch_id survives maintenance
    v = tl.compact_versioned(spark, path)
    assert tl.last_batch_id(path) == 2
    assert tl.read_versioned(spark, path).count() == 30
    replay = spark.range(0, 10).withColumnRenamed("id", "k")
    assert tl.publish_versioned_batch(replay, 2, path, mode="append") is False

    # raced compaction: a concurrent append lands between compaction's
    # snapshot read and its commit (injected via the staging hook)
    real_stage = tl._stage_files
    state = {"raced": False}

    def stage_and_race(df, p):
        files = real_stage(df, p)
        if not state["raced"]:
            state["raced"] = True
            extra = spark.range(100, 110).withColumnRenamed("id", "k")
            tl.publish_versioned_batch(extra, 99, p, mode="append")
        return files

    monkeypatch.setattr(tl, "_stage_files", stage_and_race)
    tl.compact_versioned(spark, path)
    monkeypatch.setattr(tl, "_stage_files", real_stage)
    got = sorted(r["k"] for r in tl.read_versioned(spark, path).collect())
    assert got == sorted(list(range(30)) + list(range(100, 110)))
    # the rebase adopted the winner's batch marker
    assert tl.last_batch_id(path) == 99
    assert (
        tl.publish_versioned_batch(replay, 99, path, mode="append") is False
    )


def test_compact_refolds_on_winner_or_raises_on_replaced_lineage(
    spark, tmp_path, monkeypatch
):
    """compact_versioned losing the commit race to an append folds
    again on the winner's manifest (compacted files + the winner's new
    files); losing it to a snapshot commit that replaced the compacted
    lineage raises and commits nothing."""
    import pytest

    import trendengine_spark.tablelog as tl

    path = str(tmp_path / "vt")

    def batch(lo):
        return spark.range(lo, lo + 10).withColumnRenamed("id", "k")

    for b in range(3):
        tl.publish_versioned_batch(batch(b * 10), b, path)  # v0..v2
    seen = _race_first_fold(
        monkeypatch, tl, lambda: tl.publish_versioned_batch(batch(100), 9, path)
    )
    assert tl.compact_versioned(spark, path) == 4
    assert seen == [2, 3]
    winner_new = set(tl._read_manifest(path, 3)["files"]) - set(
        tl._read_manifest(path, 2)["files"]
    )
    final = tl._read_manifest(path, 4)["files"]
    assert winner_new and winner_new <= set(final)
    got = sorted(r["k"] for r in tl.read_versioned(spark, path).collect())
    assert got == sorted([*range(30), *range(100, 110)])
    assert tl.last_batch_id(path) == 9

    seen = _race_first_fold(
        monkeypatch, tl, lambda: tl.write_versioned(spark, batch(500), path)
    )
    with pytest.raises(RuntimeError, match="replaced the lineage"):
        tl.compact_versioned(spark, path)
    assert seen == [4, 5]
    assert tl.current_version(path) == 5  # the winner's snapshot stands
    assert sorted(
        r["k"] for r in tl.read_versioned(spark, path).collect()
    ) == list(range(500, 510))


def test_publish_multi_batch_refolds_on_winner_manifest(
    spark, tmp_path, monkeypatch
):
    """A multi-table append that loses the commit race folds again on
    the winner's root manifest: every member table lists both
    writers' files."""
    import trendengine_spark.tablelog as tl

    root = str(tmp_path / "root")

    def batch(lo):
        return spark.range(lo, lo + 5).withColumnRenamed("id", "k")

    tl.publish_multi_versioned_batch({"a": batch(0), "b": batch(0)}, 0, root)
    seen = _race_first_fold(
        monkeypatch,
        tl,
        lambda: tl.publish_multi_versioned_batch(
            {"a": batch(100), "b": batch(100)}, 1, root
        ),
    )
    assert tl.publish_multi_versioned_batch({"a": batch(200)}, 2, root)
    assert seen == [0, 1]
    winner = tl._read_manifest(root, 1)["tables"]
    final = tl._read_manifest(root, 2)["tables"]
    assert final["b"] == winner["b"]  # untouched table carried through
    assert final["a"][: len(winner["a"])] == winner["a"]

    def rows(t):
        return sorted(
            r["k"] for r in tl.read_multi_versioned(spark, root, t).collect()
        )

    assert rows("a") == sorted([*range(5), *range(100, 105), *range(200, 205)])
    assert rows("b") == sorted([*range(5), *range(100, 105)])


def test_parent_format_manifests_read_append_compact_vacuum(spark, tmp_path):
    """Tables whose manifests were written in the earlier on-disk
    formats — single-table ``files``/``stats`` (with and without
    stats) and multi-table ``tables`` — read, append, compact and
    vacuum to the expected rows, and new commits keep those formats."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    import trendengine_spark.tablelog as tl

    def put(table_dir, name, ks):
        os.makedirs(os.path.join(table_dir, "data"), exist_ok=True)
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64())}),
            os.path.join(table_dir, "data", name),
        )

    def manifest(root, v, body):
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        with open(os.path.join(root, "_manifests", f"v{v:06d}.json"), "w") as fh:
            json.dump({"version": v, **body, "committed_at": 1.0}, fh)

    def keys(df):
        return sorted(r["k"] for r in df.collect())

    # single table: v0 without stats, v1 appends with stats + batch_id
    path = str(tmp_path / "single")
    put(path, "a.parquet", [1, 2])
    put(path, "b.parquet", [3])
    put(path, "stray.parquet", [99])  # never committed
    manifest(path, 0, {"files": ["a.parquet"]})
    manifest(
        path,
        1,
        {
            "files": ["a.parquet", "b.parquet"],
            "stats": {"b.parquet": {"rows": 1, "cols": {"k": [3, 3]}}},
            "batch_id": 4,
        },
    )
    assert keys(tl.read_versioned(spark, path, version=0)) == [1, 2]
    assert keys(tl.read_versioned(spark, path)) == [1, 2, 3]
    # b.parquet's recorded stats prune it; stat-less a.parquet is kept
    pruned = tl.read_versioned(spark, path, predicate={"k": (5, 9)})
    assert [os.path.basename(f) for f in pruned.inputFiles()] == ["a.parquet"]
    assert tl.last_batch_id(path) == 4
    assert not tl.publish_versioned_batch(spark.range(1), 4, path)  # replay
    new = spark.createDataFrame([(7,)], "k long")
    assert tl.publish_versioned_batch(new, 5, path)
    m2 = tl._read_manifest(path, 2)
    assert set(m2) == {"version", "files", "stats", "committed_at", "batch_id"}
    assert m2["files"][:2] == ["a.parquet", "b.parquet"]
    assert m2["stats"]["b.parquet"]["cols"]["k"] == [3, 3]  # inherited
    assert keys(tl.read_versioned(spark, path)) == [1, 2, 3, 7]
    assert tl.compact_versioned(spark, path) == 3
    assert tl.last_batch_id(path) == 5
    out = tl.vacuum_versioned(path, keep_last=1)
    assert out["dropped_manifests"] == 3
    assert not os.path.exists(os.path.join(path, "data", "stray.parquet"))
    assert keys(tl.read_versioned(spark, path)) == [1, 2, 3, 7]

    # multi-table root: stats keyed per table, one table stat-less
    root = str(tmp_path / "multi")
    put(os.path.join(root, "x"), "x0.parquet", [10, 11])
    put(os.path.join(root, "y"), "y0.parquet", [20])
    put(os.path.join(root, "y"), "y_stray.parquet", [29])
    manifest(
        root,
        0,
        {
            "tables": {"x": ["x0.parquet"], "y": ["y0.parquet"]},
            "stats": {"x": {"x0.parquet": {"rows": 2, "cols": {"k": [10, 11]}}}},
            "batch_id": 0,
        },
    )
    assert keys(tl.read_multi_versioned(spark, root, "x")) == [10, 11]
    assert tl.publish_multi_versioned_batch(
        {"y": spark.createDataFrame([(21,)], "k long")}, 1, root
    )
    m1 = tl._read_manifest(root, 1)
    assert set(m1) == {"version", "tables", "stats", "committed_at", "batch_id"}
    assert m1["tables"]["x"] == ["x0.parquet"]
    assert m1["stats"]["x"]["x0.parquet"]["rows"] == 2  # inherited
    assert keys(tl.read_multi_versioned(spark, root, "y")) == [20, 21]
    assert tl.compact_versioned(spark, root) == 2
    assert len(tl._read_manifest(root, 2)["tables"]["y"]) == 1
    assert tl.last_batch_id(root) == 1
    tl.vacuum_versioned(root, keep_last=1)
    assert not os.path.exists(os.path.join(root, "y", "data", "y_stray.parquet"))
    assert keys(tl.read_multi_versioned(spark, root, "x")) == [10, 11]
    assert keys(tl.read_multi_versioned(spark, root, "y")) == [20, 21]


def test_versioned_manifest_stats_prune_files(spark, tmp_path):
    """r8 data skipping: commits record per-file min/max footer stats
    in the manifest; read_versioned(predicate=...) excludes files
    whose range cannot match WITHOUT opening them — conservatively
    (stat-less columns never skip), with identical results to the
    full scan + filter, surviving folds and compaction."""
    import os

    from pyspark.sql import functions as F

    import trendengine_spark.tablelog as tl

    path = str(tmp_path / "vt")
    # 4 appended batches with disjoint k ranges and a string column
    for b in range(4):
        df = (
            spark.range(b * 100, b * 100 + 100)
            .withColumnRenamed("id", "k")
            .withColumn("name", F.concat(F.lit(f"u{b}_"), F.col("k")))
            .coalesce(1)
        )
        tl.publish_versioned_batch(df, b, path, mode="append")
    m = tl._read_manifest(path, tl.current_version(path))
    assert len(m["files"]) == 4
    assert all(f in m["stats"] for f in m["files"])
    assert all("k" in m["stats"][f]["cols"] for f in m["files"])

    # numeric predicate: only the one matching file scans
    pruned = tl.read_versioned(spark, path, predicate={"k": (150, 180)})
    assert len(pruned.inputFiles()) == 1
    want = sorted(range(150, 181))
    assert sorted(
        r["k"] for r in pruned.filter("k between 150 and 180").collect()
    ) == want
    # half-open interval
    assert (
        len(
            tl.read_versioned(
                spark, path, predicate={"k": (300, None)}
            ).inputFiles()
        )
        == 1
    )
    # string predicate
    assert (
        len(
            tl.read_versioned(
                spark, path, predicate={"name": ("u2_", "u2_~")}
            ).inputFiles()
        )
        == 1
    )
    # everything pruned: empty frame, schema intact
    none = tl.read_versioned(spark, path, predicate={"k": (10_000, 10_001)})
    assert none.count() == 0 and none.columns == ["k", "name"]
    # unknown column: conservative, full file list
    assert (
        len(
            tl.read_versioned(
                spark, path, predicate={"nope": (0, 1)}
            ).inputFiles()
        )
        == 4
    )

    # compaction rewrites files -> fresh stats; pruning still correct
    tl.compact_versioned(spark, path, target_bytes=10_000_000_000)
    m2 = tl._read_manifest(path, tl.current_version(path))
    assert all(f in m2["stats"] for f in m2["files"])
    got = sorted(
        r["k"]
        for r in tl.read_versioned(spark, path, predicate={"k": (150, 180)})
        .filter("k between 150 and 180")
        .collect()
    )
    assert got == want

    # pre-stats manifests (no "stats" key) read fine and never skip
    v = tl.current_version(path)
    mf = os.path.join(path, "_manifests", f"v{v:06d}.json")
    import json as _json

    with open(mf) as fh:
        legacy = _json.load(fh)
    legacy.pop("stats")
    with open(mf, "w") as fh:
        _json.dump(legacy, fh)
    assert (
        tl.read_versioned(spark, path, predicate={"k": (150, 180)}).count()
        == 400
    )


def test_versioned_schema_evolution_merge(spark, tmp_path):
    """r8: an appended batch with an ADDED column reads back with
    merge_schema=True (absent values null); the default read keeps
    working (single-footer schema); time travel to the pre-evolution
    version is unaffected."""
    from pyspark.sql import functions as F

    import trendengine_spark.tablelog as tl

    path = str(tmp_path / "vt")
    v0 = spark.range(5).withColumnRenamed("id", "k")
    tl.publish_versioned_batch(v0.coalesce(1), 0, path, mode="append")
    v1 = (
        spark.range(5, 10)
        .withColumnRenamed("id", "k")
        .withColumn("tag", F.lit("new"))
    )
    tl.publish_versioned_batch(v1.coalesce(1), 1, path, mode="append")

    merged = tl.read_versioned(spark, path, merge_schema=True)
    assert set(merged.columns) == {"k", "tag"}
    rows = {r["k"]: r["tag"] for r in merged.collect()}
    assert rows[0] is None and rows[7] == "new" and len(rows) == 10
    # default read still answers (k present everywhere)
    assert tl.read_versioned(spark, path).select("k").count() == 10
    # pinned pre-evolution version: old schema only
    assert tl.read_versioned(spark, path, version=0).columns == ["k"]
    # predicate + merge_schema compose
    pr = tl.read_versioned(
        spark, path, predicate={"k": (6, 8)}, merge_schema=True
    )
    assert len(pr.inputFiles()) == 1 and set(pr.columns) == {"k", "tag"}



def test_read_jsonl_corpus_quarantines_corrupt_lines(spark, tmp_path):
    """JSONL front door: good lines parse to the declared schema,
    broken lines land whole in quarantine, nothing is lost."""
    import gzip
    import json

    from trendengine_spark.ingest import read_jsonl_corpus

    p = tmp_path / "corpus.jsonl"
    lines = [
        json.dumps({"doc_id": i, "text": f"doc {i}", "lang": "en",
                    "source": "web"})
        for i in range(10)
    ]
    lines.insert(3, '{"doc_id": 99, "text": "truncated...')  # broken
    lines.insert(7, "not json at all")
    p.write_text("\n".join(lines) + "\n")
    gz = tmp_path / "corpus2.jsonl.gz"
    with gzip.open(gz, "wt") as f:
        f.write(json.dumps({"doc_id": 100, "text": "gz doc",
                            "lang": "de", "source": "web"}) + "\n")

    qdir = str(tmp_path / "quarantine")
    good, bad = read_jsonl_corpus(
        spark, [str(p), str(gz)], quarantine=qdir
    )
    g = {r["doc_id"] for r in good.collect()}
    assert g == set(range(10)) | {100}
    assert good.columns == ["doc_id", "text", "lang", "source"]
    b = [r["raw_line"] for r in bad.collect()]
    assert len(b) == 2 and "not json at all" in b
    # quarantine sink holds the same rows
    q = spark.read.parquet(qdir)
    assert q.count() == 2


def test_jsonl_shard_export_round_trip(spark, tmp_path):
    """Curated corpus -> size-targeted JSONL shards -> re-ingest:
    nothing lost, shard count matches the manifest, membership is
    deterministic across runs."""
    import json
    import os

    from trendengine_spark.ingest import read_jsonl_corpus
    from trendengine_spark.sinks import write_jsonl_shards

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "web") for i in range(500)],
        "doc_id long, text string, lang string, source string",
    ).repartition(7)
    out = str(tmp_path / "shards")
    m1 = write_jsonl_shards(docs, out, rows_per_shard=100)
    assert m1 == {"n_rows": 500, "n_shards": 5, "rows_per_shard": 100}
    shard_dirs = sorted(
        d for d in os.listdir(out) if d.startswith("_shard=")
    )
    assert len(shard_dirs) == 5
    # exactly one data file per shard directory
    for d in shard_dirs:
        parts = [
            f for f in os.listdir(os.path.join(out, d))
            if f.startswith("part-")
        ]
        assert len(parts) == 1, (d, parts)
    with open(os.path.join(out, "_manifest.json")) as f:
        assert json.load(f) == m1

    good, bad = read_jsonl_corpus(spark, out + "/_shard=*/part-*")
    assert bad.count() == 0
    assert {r["doc_id"] for r in good.collect()} == set(range(500))

    # determinism: second export produces identical shard membership
    out2 = str(tmp_path / "shards2")
    write_jsonl_shards(docs.repartition(3), out2, rows_per_shard=100)

    def membership(d):
        import glob
        import gzip

        mem = {}
        for fn in sorted(glob.glob(os.path.join(d, "_shard=*", "part-*"))):
            with gzip.open(fn, "rt") as fh:
                ids = frozenset(
                    json.loads(line)["doc_id"] for line in fh
                )
            mem[ids] = mem.get(ids, 0) + 1
        return mem

    assert membership(out) == membership(out2)


def test_replay_guard_survives_interleaved_blind_commit(spark, tmp_path):
    """An interleaved non-streaming commit (write_versioned — carries
    no batch_id) must not reset the replay high-water mark: a
    replayed microbatch after it is still a no-op (ADVICE r8 —
    last_batch_id now scans back past blind manifests)."""
    from trendengine_spark.tablelog import (
        last_batch_id,
        publish_versioned_batch,
        read_versioned,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    df = spark.range(10).withColumnRenamed("id", "k")
    assert publish_versioned_batch(df, 3, path, mode="append") is True
    # blind commit on top: head manifest has no batch_id
    write_versioned(spark, spark.range(4).withColumnRenamed("id", "k"), path)
    assert last_batch_id(path) == 3  # scan-back, not head-only
    n = read_versioned(spark, path).count()
    assert publish_versioned_batch(df, 3, path, mode="append") is False
    assert read_versioned(spark, path).count() == n
    assert publish_versioned_batch(df, 4, path, mode="append") is True
    assert read_versioned(spark, path).count() == n + 10


def test_zorder_clustered_write_prunes_box_predicates(spark, tmp_path):
    """Z-order-clustered versioned writes make manifest min/max stats
    selective on BOTH box dimensions: the same 1/400 box predicate
    that reads every file of an unclustered layout skips most files
    of the clustered one at planning time, with identical results."""
    from pyspark.sql import functions as F

    from trendengine_spark.tablelog import (
        read_versioned,
        write_versioned,
        write_versioned_clustered,
    )

    n = 200_000
    # deterministic pseudo-uniform 2-D points (no RNG)
    df = (
        spark.range(n)
        .withColumn("x", F.pmod(F.col("id") * 7919, F.lit(100_000)) / 100_000.0)
        .withColumn("y", F.pmod(F.col("id") * 104729, F.lit(100_000)) / 100_000.0)
    )
    flat = str(tmp_path / "flat")
    clus = str(tmp_path / "clus")
    write_versioned(spark, df.repartition(16), flat)
    write_versioned_clustered(
        spark, df, clus, zorder_cols=("x", "y"), num_partitions=16
    )

    pred = {"x": (0.40, 0.45), "y": (0.40, 0.45)}
    flat_df = read_versioned(spark, flat, predicate=pred)
    clus_df = read_versioned(spark, clus, predicate=pred)
    n_flat = len(flat_df.inputFiles())
    n_clus = len(clus_df.inputFiles())
    assert n_flat == 16  # hash layout: every file spans both ranges
    assert n_clus <= 6, n_clus  # compact Morton cells prune

    exact = (
        F.col("x").between(0.40, 0.45) & F.col("y").between(0.40, 0.45)
    )
    a = sorted(r["id"] for r in flat_df.filter(exact).collect())
    b = sorted(r["id"] for r in clus_df.filter(exact).collect())
    assert a == b and len(a) > 0


def test_streaming_zorder_ingestion_prunes(spark, tmp_path):
    """Z-ordered streaming commits: each microbatch lands Morton-
    clustered, so a box predicate prunes files at planning time on
    the streamed table too - and the layout shuffle changes no rows
    (exactly-once semantics intact via the batch-id marker)."""
    from pyspark.sql import functions as F

    from trendengine_spark.tablelog import (
        publish_versioned_batch,
        read_versioned,
    )

    path = str(tmp_path / "zstream")
    n = 50_000
    mk = lambda lo, hi: (
        spark.range(lo, hi)
        .withColumn("x", F.pmod(F.col("id") * 7919, F.lit(100_000)) / 100_000.0)
        .withColumn("y", F.pmod(F.col("id") * 104729, F.lit(100_000)) / 100_000.0)
        .repartition(8)
    )
    assert publish_versioned_batch(
        mk(0, n), 0, path, zorder_by=("x", "y"), zorder_partitions=8
    )
    assert publish_versioned_batch(
        mk(n, 2 * n), 1, path, zorder_by=("x", "y"), zorder_partitions=8
    )
    # replay of batch 1 is a no-op even with the layout shuffle
    assert not publish_versioned_batch(
        mk(n, 2 * n), 1, path, zorder_by=("x", "y"), zorder_partitions=8
    )

    pred = {"x": (0.40, 0.45), "y": (0.40, 0.45)}
    d = read_versioned(spark, path, predicate=pred)
    full = read_versioned(spark, path)
    n_files_pruned = len(d.inputFiles())
    n_files_all = len(full.inputFiles())
    assert n_files_all == 16
    assert n_files_pruned <= 6, n_files_pruned
    exact = F.col("x").between(0.40, 0.45) & F.col("y").between(0.40, 0.45)
    assert d.filter(exact).count() == full.filter(exact).count() > 0
    assert full.count() == 2 * n


def test_compaction_reclusters_zorder(spark, tmp_path):
    """compact_versioned(zorder_by=...) restores whole-table Morton
    prunability after unclustered appends: before compaction the box
    predicate touches the appended files; after, it prunes across
    the full compacted set - with identical rows."""
    from pyspark.sql import functions as F

    from trendengine_spark.tablelog import (
        compact_versioned,
        read_versioned,
        write_versioned,
        write_versioned_clustered,
    )

    path = str(tmp_path / "zcompact")
    mk = lambda lo, hi: (
        spark.range(lo, hi)
        .withColumn("x", F.pmod(F.col("id") * 7919, F.lit(100_000)) / 100_000.0)
        .withColumn("y", F.pmod(F.col("id") * 104729, F.lit(100_000)) / 100_000.0)
    )
    write_versioned_clustered(spark, mk(0, 100_000), path, ("x", "y"), 8)
    # two unclustered appends degrade prunability
    from trendengine_spark.tablelog import publish_versioned_batch

    publish_versioned_batch(mk(100_000, 150_000).repartition(4), 0, path)
    publish_versioned_batch(mk(150_000, 200_000).repartition(4), 1, path)

    pred = {"x": (0.40, 0.45), "y": (0.40, 0.45)}
    before = len(read_versioned(spark, path, predicate=pred).inputFiles())
    total_before = read_versioned(spark, path).count()

    compact_versioned(
        spark, path, target_bytes=200_000, zorder_by=("x", "y")
    )
    after_df = read_versioned(spark, path, predicate=pred)
    after = len(after_df.inputFiles())
    n_all = len(read_versioned(spark, path).inputFiles())
    assert read_versioned(spark, path).count() == total_before == 200_000
    # the 8 unclustered appended files were all touched before;
    # after re-clustering the box hits a small fraction of the set
    assert before >= 8
    assert after <= max(2, n_all // 3), (after, n_all)
    exact = F.col("x").between(0.40, 0.45) & F.col("y").between(0.40, 0.45)
    assert after_df.filter(exact).count() > 0
