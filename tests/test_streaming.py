"""Structured Streaming mechanics: the window builders applied to a
real readStream source with availableNow trigger must produce the
same result as the batch plan, and the stateful detector must emit
level shifts."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE
from trendengine_spark.streaming import (
    online_level_shifts,
    session_agg,
    stream_parquet_source,
    tumbling_agg,
)
from trendengine_spark.tables import load_table


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """Events re-materialized as a parquet DIRECTORY with µs
    timestamps (streaming file source needs a directory + explicit
    schema; the driver's single-file nanos parquet is normalized by
    load_table)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    return path


def _run_stream(df, query_name):
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_stream_equals_batch(spark, events_dir):
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(4).write.mode("overwrite").parquet(events_dir)

    batch = tumbling_agg(spark.read.parquet(events_dir)).toPandas()
    src = stream_parquet_source(
        spark, events_dir, spark.read.parquet(events_dir).schema
    )
    _run_stream(tumbling_agg(src), "tumbling_test")
    stream = spark.sql("SELECT * FROM tumbling_test").toPandas()

    b = batch.sort_values(["event_type", "ws"]).reset_index(drop=True)
    s = stream.sort_values(["event_type", "ws"]).reset_index(drop=True)
    assert len(b) == len(s)
    assert (b["n_events"].to_numpy() == s["n_events"].to_numpy()).all()
    assert np.allclose(b["total"].to_numpy(), s["total"].to_numpy())


def test_session_stream_runs(spark, events_dir):
    src = stream_parquet_source(
        spark, events_dir, spark.read.parquet(events_dir).schema,
        watermark_delay="1 hour",
    )
    _run_stream(session_agg(src), "session_test")
    out = spark.sql("SELECT * FROM session_test").toPandas()
    assert len(out) > 0
    assert (out["session_end"] > out["session_start"]).all()


def test_online_detector_finds_injected_shift(spark, tmp_path):
    """Batch-mode exercise of the applyInPandasWithState detector
    semantics via its pure logic on a streaming frame. A once trigger:
    the detector's processing-time timeout makes ``availableNow`` run
    no-data batches without end, so that query never terminates."""
    rows = []
    for i in range(60):
        v = 1.0 if i < 30 else 10.0  # clear level shift at i=30
        rows.append(
            {
                "user_id": 1,
                "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i),
                "value": v + np.random.RandomState(i).normal(0, 0.01),
            }
        )
    d = str(tmp_path / "detector_src")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(d)
    src = (
        spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    )
    shifts = online_level_shifts(src, shift_threshold=5.0)
    q = (
        shifts.writeStream.format("memory")
        .queryName("detector_test")
        .outputMode("append")
        .trigger(once=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "once-trigger query did not end"
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM detector_test").toPandas()
    assert len(out) == 1
    assert abs(out["shift"].iloc[0] - 9.0) < 0.5


def test_stream_stream_interval_join(spark, events_dir):
    """Purchases joined to same-user views within 1 hour, streaming
    both sides; result equals the batch plan."""
    from trendengine_spark.streaming.joins import interval_join_views_purchases

    batch_ev = spark.read.parquet(events_dir)
    schema = batch_ev.schema
    b_p = batch_ev.filter("event_type = 'purchase'")
    b_v = batch_ev.filter("event_type = 'view'")
    expected = interval_join_views_purchases(b_p, b_v).count()
    assert expected > 0

    s_ev = spark.readStream.schema(schema).parquet(events_dir)
    s_p = s_ev.filter("event_type = 'purchase'").withWatermark("ts", "2 hours")
    s_v = s_ev.filter("event_type = 'view'").withWatermark("ts", "2 hours")
    joined = interval_join_views_purchases(s_p, s_v)
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjoin_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM ssjoin_test").collect()[0]["n"]
    assert got == expected


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from trendengine_spark.streaming.joins import dedup_within_watermark

    pdf = pd.DataFrame(
        {
            "event_id": [1, 1, 2, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:05", "2024-01-01 01:00",
                 "2024-01-01 01:01", "2024-01-01 02:00"]
            ),
            "value": [1.0, 1.0, 2.0, 2.0, 3.0],
        }
    )
    d = str(tmp_path / "dupev")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(d)
    src = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .parquet(d)
        .withWatermark("ts", "10 minutes")
    )
    out = dedup_within_watermark(src, ["event_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_wm_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_wm_test").toPandas()
    assert sorted(got["event_id"].tolist()) == [1, 2, 3]


def test_cdc_stream_applies_upserts_and_deletes(spark, tmp_path):
    """Change stream → merge_upsert per microbatch: updates replace,
    inserts land, deletes drop, and the newest change per key wins
    within a batch."""
    import pandas as pd
    from pyspark.sql import functions as F

    from trendengine_spark.streaming.cdc import apply_cdc_stream

    target = str(tmp_path / "dim")
    spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    ).write.parquet(target)

    src_dir = str(tmp_path / "changes")
    schema = "k LONG, v STRING, _del BOOLEAN, seq LONG"
    # batch 1 file: update k=2 twice (seq 1 then 2 — newest must win),
    # insert k=4, delete k=3
    spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [2, 2, 4, 3],
                "v": ["B_old", "B_new", "D", None],
                "_del": [False, False, False, True],
                "seq": [1, 2, 1, 1],
            }
        ),
        schema=schema,
    ).write.parquet(src_dir)

    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = apply_cdc_stream(
        stream, target, ["k"], order_col="seq", deleted_col="_del",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "B_new", 4: "D"}


def test_streaming_dedup_matches_batch_twin_keys(spark, events_dir):
    """The watermark-bounded streaming dedup must keep exactly one row
    per (user_id, event_type) and cover the same key set as the
    oracle-checked batch twin (stream_dedup_first_event)."""
    from trendengine_spark.queries import REGISTRY
    from trendengine_spark.streaming.joins import dedup_within_watermark

    batch_keys = {
        (r["user_id"], r["event_type"])
        for r in REGISTRY["stream_dedup_first_event"]
        .fn(spark, SF_SMOKE)
        .select("user_id", "event_type")
        .collect()
    }

    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(4).write.mode("overwrite").parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema
    src = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .withWatermark("ts", "6 hours")
    )
    out = dedup_within_watermark(src, ["user_id", "event_type"])
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_keys_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, event_type, count(*) AS n FROM dedup_keys_test "
        "GROUP BY user_id, event_type"
    ).collect()
    assert all(r["n"] == 1 for r in got)
    assert {(r["user_id"], r["event_type"]) for r in got} == batch_keys


def test_dynamic_gap_session_stream_equals_batch(spark, events_dir):
    """The data-dependent-gap session window must produce identical
    sessions on the streaming path (availableNow over the same rows)
    as the oracle-checked batch twin."""
    from pyspark.sql import functions as F

    from trendengine_spark.queries import REGISTRY

    batch = (
        REGISTRY["stream_session_dynamic_gap"].fn(spark, SF_SMOKE).toPandas()
    )

    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(4).write.mode("overwrite").parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema
    src = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .withWatermark("ts", "6 hours")
    )
    gap = F.when(F.col("event_type") == "purchase", "30 minutes").otherwise(
        "10 minutes"
    )
    agg = (
        src.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("dyn_session_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = spark.sql("SELECT * FROM dyn_session_test").toPandas()

    cols = ["user_id", "session_start", "session_end", "n_events"]
    b = batch[cols].sort_values(cols).reset_index(drop=True)
    s = stream[cols].sort_values(cols).reset_index(drop=True)
    assert len(b) == len(s)
    assert b.equals(s)


def test_streaming_rollup_equals_batch_aggregate(spark, tmp_path):
    """foreachBatch rollup maintenance over microbatches must equal
    the direct batch aggregate of all the data."""
    from pyspark.sql import functions as F

    from trendengine_spark.sinks import read_rollup
    from trendengine_spark.streaming.cdc import maintain_rollup_stream
    from trendengine_spark.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    src_dir = str(tmp_path / "ev_stream")
    # several files → several microbatches under maxFilesPerTrigger
    ev.repartition(4).write.parquet(src_dir)

    spec = {"n": ("count", "value"), "v_sum": ("sum", "value")}
    target = str(tmp_path / "rollup")
    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = maintain_rollup_stream(
        stream, target, ["event_type"], spec,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = (
        read_rollup(spark, target, avg_pairs={"v_avg": ("v_sum", "n")})
        .toPandas().sort_values("event_type").reset_index(drop=True)
    )
    want = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("v_sum"),
        )
        .toPandas().sort_values("event_type").reset_index(drop=True)
    )
    assert got["n"].tolist() == want["n"].tolist()
    assert got["v_sum"].tolist() == want["v_sum"].tolist()


def test_streaming_rollup_restart_and_retry_safe(spark, tmp_path):
    """Restarting from the checkpoint must fold only NEW files, and a
    retried (duplicate) batch id must be a no-op — the exactly-once
    contract of the marker protocol."""
    from pyspark.sql import functions as F

    from trendengine_spark.streaming.cdc import maintain_rollup_stream
    from trendengine_spark.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    src_dir = str(tmp_path / "ev_stream")
    target = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    spec = {"n": ("count", "value")}

    first.coalesce(1).write.mode("append").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    q = maintain_rollup_stream(
        spark.readStream.schema(schema).parquet(src_dir),
        target, ["event_type"], spec, checkpoint=ckpt,
    )
    q.awaitTermination(180)

    # restart with MORE files on the same checkpoint: only the new
    # file may fold (the old one is committed in the checkpoint log)
    second.coalesce(1).write.mode("append").parquet(src_dir)
    q2 = maintain_rollup_stream(
        spark.readStream.schema(schema).parquet(src_dir),
        target, ["event_type"], spec, checkpoint=ckpt,
    )
    q2.awaitTermination(180)

    got = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(target).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want

    # simulate a RETRY of the last batch id: the guarded fold must be
    # a no-op on a duplicate id and fold again on a fresh one
    from trendengine_spark.streaming.cdc import fold_rollup_batch

    import os

    # r7: marker lives INSIDE the rollup dir, published by the same
    # rename as the data (no swap/marker crash window)
    marker = os.path.join(target, "_applied_batch")
    last = int(open(marker).read())
    dup = spark.read.parquet(src_dir)
    assert fold_rollup_batch(dup, last, target, ["event_type"], spec) is False
    unchanged = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(target).collect()
    }
    assert unchanged == want  # duplicate id: nothing double-counted

    # an empty batch folds nothing and leaves the marker UNTOUCHED
    # (re-folding nothing is idempotent; advancing the marker outside
    # the atomic data+marker rename would reintroduce the sidecar's
    # crash window)
    assert fold_rollup_batch(
        dup.limit(0), last + 1, target, ["event_type"], spec
    ) is True
    assert int(open(marker).read()) == last
    # a fresh NON-empty batch advances the marker atomically with the
    # folded state
    assert fold_rollup_batch(
        dup.limit(1), last + 1, target, ["event_type"], spec
    ) is True
    assert int(open(marker).read()) == last + 1


def test_stream_publishes_versioned_snapshots(spark, tmp_path):
    """foreachBatch versioned publishing: each microbatch commits a
    complete version; append mode accumulates; a reader pinned before
    the stream still sees its version."""
    from pyspark.sql import functions as F

    from trendengine_spark.tablelog import (
        current_version,
        read_versioned,
        write_versioned,
    )
    from trendengine_spark.tablelog import publish_stream_versioned
    from trendengine_spark.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "vt_stream")
    base = ev.limit(0)
    write_versioned(spark, base, path)  # v0: empty schema-bearing table
    pinned_v = current_version(path)

    src_dir = str(tmp_path / "src")
    ev.repartition(3).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = publish_stream_versioned(
        stream, path, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    latest = read_versioned(spark, path)
    assert latest.count() == ev.count()  # all batches accumulated
    assert current_version(path) > pinned_v


def test_stream_stream_left_outer_interval_join(spark, events_dir):
    """Left-outer stream-stream interval join equals the batch plan
    INCLUDING null rows — which only flush once the watermark passes
    each purchase's horizon, so the stream carries a far-future
    sentinel event to advance it past all real data."""
    from pyspark.sql import functions as F

    from trendengine_spark.streaming.joins import (
        interval_left_join_views_purchases,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(4).write.mode("overwrite").parquet(events_dir)
    batch_ev = spark.read.parquet(events_dir)
    expected = interval_left_join_views_purchases(
        batch_ev.filter("event_type = 'purchase'"),
        batch_ev.filter("event_type = 'view'"),
    )
    want_n = expected.count()
    want_nulls = expected.filter("view_id IS NULL").count()
    assert want_nulls > 0  # the outer semantics are actually exercised

    # sentinel: one far-future row per side pushes the watermark past
    # every real purchase's horizon so unmatched rows can be emitted
    sentinel = batch_ev.limit(1).select(
        F.lit(-1).alias("event_id"),
        F.lit("2030-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(-1).alias("user_id"),
        F.col("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    sdir = events_dir + "_outer"
    batch_ev.unionByName(
        sentinel.withColumn("event_type", F.lit("purchase"))
    ).unionByName(
        sentinel.withColumn("event_type", F.lit("view"))
    ).repartition(4).write.mode("overwrite").parquet(sdir)

    s_ev = spark.readStream.schema(batch_ev.schema).parquet(sdir)
    s_p = s_ev.filter("event_type = 'purchase'").withWatermark("ts", "1 minute")
    s_v = s_ev.filter("event_type = 'view'").withWatermark("ts", "1 minute")
    joined = interval_left_join_views_purchases(s_p, s_v)
    q = (
        joined.writeStream.format("memory")
        .queryName("ssouter_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "SELECT count(*) AS n,"
        " count_if(view_id IS NULL) AS n_null"
        " FROM ssouter_test WHERE purchase_id <> -1"
    ).collect()[0]
    assert got["n"] == want_n
    assert got["n_null"] == want_nulls


def test_tws_running_stats_gate_and_processor_math(spark):
    """transformWithStateInPandas needs google.protobuf (its state
    protocol); this container cannot install it, so running_user_stats
    must refuse with a clear NotImplementedError rather than die in
    the streaming runner. The processor's per-batch math is unit-
    tested against the batch twin's SQL semantics with a fake state
    handle (integer cents, ROUND-half-away-from-zero)."""
    import pandas as pd
    import pytest

    from trendengine_spark.streaming import stateful2

    if stateful2.tws_available():  # pragma: no cover - full-dist env
        pytest.skip("protobuf present: covered by the live TWS test")
    ev = spark.createDataFrame(
        [(1, 1.005)], "user_id long, value double"
    )
    with pytest.raises(NotImplementedError, match="protobuf"):
        stateful2.running_user_stats(ev)

    # drive the processor directly with a fake ValueState
    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class FakeHandle:
        def getValueState(self, name, schema):
            return FakeState()

    proc = stateful2._make_processor()
    proc.init(FakeHandle())
    # 0.125 -> 12.5 cents: SQL round gives 13, pandas .round() would
    # give 12 (half-to-even) — the processor must match SQL
    b1 = pd.DataFrame({"value": [0.125, 1.0]})
    b2 = pd.DataFrame({"value": [-0.125, 2.5]})
    rows = list(proc.handleInputRows((7,), iter([b1]), None))
    rows += list(proc.handleInputRows((7,), iter([b2]), None))
    last = rows[-1].iloc[0]
    assert last["n_events"] == 4
    assert last["value_cents"] == 13 + 100 - 13 + 250
    assert last["max_value"] == 2.5


def test_chained_stateful_dedup_then_window(spark, tmp_path):
    """TWO stateful operators in one streaming query (Spark 4 chained
    stateful support): watermark-bounded dedup feeding a tumbling
    event-time aggregate, append mode end-to-end. Result must equal
    the batch twin (dropDuplicates then window agg)."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "event_id": [1, 1, 2, 3, 3, 4, 5],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:05", "2024-01-01 00:06",
                    "2024-01-01 00:20", "2024-01-01 01:10",
                    "2024-01-01 01:11", "2024-01-01 01:40",
                    "2024-01-01 02:30",
                ]
            ),
            "value": [1.0, 1.0, 2.0, 3.0, 3.0, 4.0, 5.0],
        }
    )
    d = str(tmp_path / "ev")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(d)
    schema = spark.read.parquet(d).schema

    batch = (
        spark.read.parquet(d)
        .dropDuplicates(["event_id"])
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    want = sorted(
        (r["w"]["start"], r["n"], float(r["s"])) for r in batch.collect()
    )

    src = (
        spark.readStream.schema(schema)
        .parquet(d)
        .withWatermark("ts", "10 minutes")
    )
    chained = (
        src.dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    q = (
        chained.writeStream.format("memory")
        .queryName("chained_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["w"]["start"], r["n"], float(r["s"]))
        for r in spark.sql("SELECT * FROM chained_test").collect()
    )
    # append mode emits only windows the watermark has CLOSED: the
    # final window (02:00-03:00) stays open when the stream drains,
    # so the streamed result is the closed-window prefix of the batch
    assert len(got) >= 2  # the first two hours must have closed
    assert got == want[: len(got)]


def test_direct_maintain_preserves_stream_marker(spark, tmp_path):
    """ADVICE r7: a direct (non-streaming) maintain_rollup call on a
    stream-maintained rollup must PRESERVE the _applied_batch
    watermark through its swap — erasing it would let a later replayed
    microbatch double-fold. A pre-r7 sidecar marker must both guard
    the fold and migrate into the directory on the next fold."""
    import os

    from pyspark.sql import functions as F

    from trendengine_spark.sinks import maintain_rollup
    from trendengine_spark.streaming.cdc import fold_rollup_batch

    target = str(tmp_path / "roll")
    spec = {"n": ("count", "value"), "sv": ("sum", "value")}
    ev = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "event_type string, value double"
    )
    assert fold_rollup_batch(ev, 7, target, ["event_type"], spec) is True
    marker = os.path.join(target, "_applied_batch")
    assert int(open(marker).read()) == 7

    # direct maintenance call WITHOUT a batch id: marker must survive
    extra = spark.createDataFrame([("b", 4.0)], "event_type string, value double")
    maintain_rollup(spark, target, extra, ["event_type"], spec)
    assert os.path.exists(marker) and int(open(marker).read()) == 7
    # ... so a replay of batch 7 is still a no-op
    before = {
        r["event_type"]: r["n"] for r in spark.read.parquet(target).collect()
    }
    assert fold_rollup_batch(ev, 7, target, ["event_type"], spec) is False
    after = {
        r["event_type"]: r["n"] for r in spark.read.parquet(target).collect()
    }
    assert after == before == {"a": 2, "b": 2}

    # legacy layout: only a sidecar marker exists (pre-r7 upgrade)
    os.remove(marker)
    sidecar = target.rstrip("/") + "._applied_batch"
    with open(sidecar, "w") as fh:
        fh.write("7")
    assert fold_rollup_batch(ev, 7, target, ["event_type"], spec) is False
    # a direct maintenance pass migrates the sidecar into the dir
    maintain_rollup(spark, target, extra.limit(0), ["event_type"], spec)
    assert int(open(marker).read()) == 7


def test_streaming_dedup_pipeline_folds_probes_and_replays(spark, tmp_path):
    """Streaming-dedup composition (r12 transaction shape): probe →
    drop → ONE idempotent multi-table commit. Checks (a) cross-batch
    near-dups dropped, within-batch exact dups collapsed keep-first,
    (b) replay of a folded batch is a no-op, (c) the crash window is
    ALL-OR-NOTHING — a batch that crashed after staging but before
    its single commit left nothing visible (no partial corpus/sigs/
    bands states exist by construction), its stragglers are
    vacuum-reclaimed, and the retry converges to exactly one copy of
    everything."""
    import os

    from trendengine_spark.streaming.dedup_pipeline import (
        BANDS,
        CORPUS,
        SIGS,
        dedup_fold_batch,
        init_dedup_root,
    )
    from trendengine_spark.tablelog import (
        _stage_files,
        current_version,
        read_multi_versioned,
        vacuum_versioned,
    )

    root = str(tmp_path / "dedup_root")
    init_dedup_root(root, num_perm=32, bands=8, n=2)

    def doc(i, text):
        return (i, text)

    b0 = spark.createDataFrame(
        [
            doc(0, "the quick brown fox jumps over the lazy dog today"),
            doc(1, "completely different text about spark partitions here"),
            doc(2, "THE quick  brown fox jumps over the lazy dog today"),
        ],
        "doc_id long, text string",
    )  # doc 2 = exact dup of 0 after normalization (keep-first)
    r0 = dedup_fold_batch(b0, 0, root, threshold=0.8)
    assert r0["admitted"] == 2 and r0["dropped"] == 1
    corpus = read_multi_versioned(spark, root, CORPUS)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [0, 1]

    b1 = spark.createDataFrame(
        [
            doc(10, "the quick brown fox jumps over the lazy dog today"),
            doc(11, "a genuinely novel document about window functions"),
        ],
        "doc_id long, text string",
    )  # doc 10 near-dups indexed doc 0
    r1 = dedup_fold_batch(b1, 1, root, threshold=0.8)
    assert r1["admitted"] == 1 and r1["dropped"] == 1
    got = sorted(
        r["doc_id"]
        for r in read_multi_versioned(spark, root, CORPUS).collect()
    )
    assert got == [0, 1, 11]

    # replay of batch 1: full no-op (root batch_id marker gate)
    v_before = current_version(root)
    r1b = dedup_fold_batch(b1, 1, root, threshold=0.8)
    assert r1b["skipped"] is True
    assert current_version(root) == v_before
    assert sorted(
        r["doc_id"]
        for r in read_multi_versioned(spark, root, CORPUS).collect()
    ) == [0, 1, 11]

    # crash window: batch 2 crashed AFTER staging files but BEFORE its
    # single commit — nothing is visible (all-or-nothing), the
    # stragglers are unreferenced, and the retry converges
    b2 = spark.createDataFrame(
        [doc(20, "yet another brand new document about broadcast joins")],
        "doc_id long, text string",
    )
    from trendengine_spark.operators.dedup import minhash_signatures

    orphan_corpus = _stage_files(b2, os.path.join(root, CORPUS))
    orphan_sigs = _stage_files(
        minhash_signatures(b2, 32, "doc_id", "text", 2),
        os.path.join(root, SIGS),
    )
    assert orphan_corpus and orphan_sigs  # staged, invisible
    assert current_version(root) == v_before  # no commit happened
    assert sorted(
        r["doc_id"]
        for r in read_multi_versioned(spark, root, CORPUS).collect()
    ) == [0, 1, 11]
    # retry (as the stream would): must not see doc 20 as a dup of
    # itself, and must converge to exactly one copy everywhere
    r2 = dedup_fold_batch(b2, 2, root, threshold=0.8)
    assert r2["dropped"] == 0
    final = sorted(
        r["doc_id"]
        for r in read_multi_versioned(spark, root, CORPUS).collect()
    )
    assert final == [0, 1, 11, 20]
    sigs_ids = [
        r["id"] for r in read_multi_versioned(spark, root, SIGS).collect()
    ]
    assert sorted(sigs_ids) == [0, 1, 11, 20]  # no double-appended sigs
    bands_df = read_multi_versioned(spark, root, BANDS)
    assert bands_df.select("id").distinct().count() == 4
    # vacuum reclaims the crashed attempt's unreferenced stragglers
    removed = vacuum_versioned(root, keep_last=2)["removed_files"]
    assert removed >= len(orphan_corpus) + len(orphan_sigs)
    assert sorted(
        r["doc_id"]
        for r in read_multi_versioned(spark, root, CORPUS).collect()
    ) == [0, 1, 11, 20]

    # batch 3 must treat 20 as indexed now (folded by the retry)
    b3 = spark.createDataFrame(
        [doc(30, "yet another brand new document about broadcast joins")],
        "doc_id long, text string",
    )
    r3 = dedup_fold_batch(b3, 3, root, threshold=0.8)
    assert r3["admitted"] == 0 and r3["dropped"] == 1


def test_streaming_dedup_pipeline_end_to_end_with_restart(spark, tmp_path):
    """run_dedup_stream over a file source: first run folds the
    available file; a restart on the same checkpoint with one MORE
    file folds only the new one (the committed microbatch is not
    re-applied), and cross-file dups are dropped."""
    import os

    from trendengine_spark.streaming.dedup_pipeline import (
        CORPUS,
        init_dedup_root,
        run_dedup_stream,
    )
    from trendengine_spark.tablelog import read_multi_versioned

    src = str(tmp_path / "src")
    root = str(tmp_path / "root")
    ckpt = str(tmp_path / "ckpt")
    init_dedup_root(root, num_perm=32, bands=8, n=2)
    os.makedirs(src)

    first = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (1, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    first.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    q = run_dedup_stream(
        spark.readStream.schema(schema).parquet(src),
        root,
        threshold=0.8,
        checkpoint=ckpt,
    )
    q.awaitTermination(180)
    assert sorted(
        r["doc_id"]
        for r in read_multi_versioned(spark, root, CORPUS).collect()
    ) == [0, 1]

    second = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (11, "brand new eleventh document with its own words"),
        ],
        "doc_id long, text string",
    )
    second.coalesce(1).write.mode("append").parquet(src)
    q2 = run_dedup_stream(
        spark.readStream.schema(schema).parquet(src),
        root,
        threshold=0.8,
        checkpoint=ckpt,
    )
    q2.awaitTermination(180)
    assert sorted(
        r["doc_id"]
        for r in read_multi_versioned(spark, root, CORPUS).collect()
    ) == [0, 1, 11]


def test_streaming_heavy_hitters_superset_and_bounded_state(spark, tmp_path):
    """Sharded MG over a 2-microbatch file stream: every key above the
    N/(counters+1) threshold must survive in the final merged summary
    (superset guarantee), summary weights never exceed true counts,
    and total state stays <= shards*counters rows."""
    import pandas as pd  # noqa: F811
    from pyspark.sql import functions as F  # noqa: F811

    from trendengine_spark.streaming.heavy_hitters import (
        latest_summaries,
        streaming_heavy_hitters,
    )

    src_dir = str(tmp_path / "hh_src")
    # batch 0: hot_a x300 over cold noise; batch 1: hot_b x200 + more hot_a
    b0 = [("hot_a",)] * 300 + [(f"c{i}",) for i in range(700)]
    b1 = [("hot_b",)] * 200 + [("hot_a",)] * 100 + [(f"d{i}",) for i in range(700)]
    spark.createDataFrame(b0, "k string").coalesce(1).write.mode("overwrite").parquet(
        src_dir
    )
    spark.createDataFrame(b1, "k string").coalesce(1).write.mode("append").parquet(
        src_dir
    )
    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = streaming_heavy_hitters(src, key_col="k", counters=64, shards=4)
    q = (
        out.writeStream.format("memory")
        .queryName("hh_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM hh_test")
    summary = {r["mg_key"]: r["mg_w"] for r in latest_summaries(emitted).collect()}
    assert len(summary) <= 4 * 64

    n_total = 2000
    truth = {"hot_a": 400, "hot_b": 200}
    all_rows = spark.createDataFrame(b0 + b1, "k string")
    hashes = {
        r["k"]: r["h"]
        for r in all_rows.select(
            "k", F.xxhash64(F.col("k").cast("string")).alias("h")
        ).distinct()
        .collect()
    }
    bound = n_total // 65  # N/(counters+1)
    for key, cnt in truth.items():
        h = hashes[key]
        assert h in summary, key  # superset guarantee
        assert cnt - bound <= summary[h] <= cnt, (key, summary[h])


def test_streaming_kmv_equals_batch_sketch(spark, tmp_path):
    """KMV min-union is commutative and idempotent, so the streaming
    estimate after N microbatches must be BIT-EQUAL to the batch
    sketch of the union - including across a replayed (duplicated)
    batch - and state is bounded at k hashes per group."""
    import hashlib

    from trendengine_spark.streaming.kmv import (
        kmv_estimate,
        latest_estimates,
        streaming_kmv_distinct,
    )

    src_dir = str(tmp_path / "kmv_src")
    # group g: 200 distinct users split over batches with overlap;
    # group s: 10 users (stays in the |D| < k exact branch)
    b0 = [("g", i) for i in range(120)] + [("s", i) for i in range(10)]
    b1 = [("g", i) for i in range(80, 200)] + [("s", i) for i in range(10)]
    spark.createDataFrame(b0, "grp string, u long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src_dir)
    spark.createDataFrame(b1, "grp string, u long").coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = streaming_kmv_distinct(src, key_col="u", group_col="grp", k=64)
    q = (
        out.writeStream.format("memory")
        .queryName("kmv_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["group"]: r
        for r in latest_estimates(spark.sql("SELECT * FROM kmv_test")).collect()
    }

    import numpy as np

    def batch_sketch(users, k=64):
        hs = np.array(
            sorted(
                int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
                for u in set(users)
            ),
            dtype="int64",
        )[:k]
        return kmv_estimate(hs, k)

    n, kth, est = batch_sketch(range(200))
    assert got["g"]["n_sketch"] == n == 64
    assert got["g"]["kth_hash"] == kth
    assert got["g"]["est_distinct"] == est  # bit-equal, no tolerance
    n_s, kth_s, est_s = batch_sketch(range(10))
    assert got["s"]["n_sketch"] == 10 and got["s"]["est_distinct"] == 10.0
    assert got["s"]["kth_hash"] is None


def test_streaming_dedup_inline_maintenance_preserves_state(spark, tmp_path):
    """maintenance_every (r11): the k-th batch compacts + vacuums the
    three tables INSIDE the fold. Afterwards (a) the corpus content
    is identical to the no-maintenance run, (b) the probe still drops
    near-dups of pre-compaction documents, (c) a replayed batch is
    still a no-op (batch_id carried through the compacted manifest),
    and (d) the snapshot file count is the data's, not the commit
    count's."""
    import os

    from trendengine_spark.streaming.dedup_pipeline import (
        BANDS,
        CORPUS,
        SIGS,
        dedup_fold_batch,
        init_dedup_root,
    )
    from trendengine_spark.tablelog import (
        _read_manifest,
        current_version,
        read_multi_versioned,
    )

    root = str(tmp_path / "dedup_maint")
    init_dedup_root(root, num_perm=32, bands=8, n=2)

    def batch(bid, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "a genuinely novel document about window functions",
        "integer arithmetic keeps the oracle hash exactly stable",
        "partition pruning is the cheapest query you never run",
    ]
    # batches 0..2 each add one novel doc; batch 2 triggers maintenance
    for bid in range(3):
        r = dedup_fold_batch(
            batch(bid, [(bid * 10, texts[bid])]),
            bid,
            root,
            threshold=0.8,
            maintenance_every=2,
        )
        assert r["admitted"] == 1, (bid, r)

    # (d) compacted: the newest ROOT manifest lists few files per
    # table even though 3 append commits (+1 compaction) happened
    m = _read_manifest(root, current_version(root))
    for t in (CORPUS, SIGS, BANDS):
        assert len(m["tables"][t]) <= 4, (t, len(m["tables"][t]))

    # (b) near-dup of a PRE-compaction doc is still dropped
    r3 = dedup_fold_batch(
        batch(3, [(30, texts[0]), (31, "another brand new document")]),
        3,
        root,
        threshold=0.8,
        maintenance_every=2,
    )
    assert r3 == {"skipped": False, "admitted": 1, "dropped": 1}

    # (c) replaying batch 3 is a no-op after maintenance
    r3b = dedup_fold_batch(
        batch(3, [(30, texts[0]), (31, "another brand new document")]),
        3,
        root,
        threshold=0.8,
        maintenance_every=2,
    )
    assert r3b["skipped"] is True

    # (a) final corpus = the four novel docs exactly
    got = sorted(
        r["doc_id"]
        for r in read_multi_versioned(spark, root, CORPUS).collect()
    )
    assert got == [0, 10, 20, 31]
