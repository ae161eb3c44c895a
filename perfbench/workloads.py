"""The benchmark's workloads.

Each workload is set up on a fresh SparkSession (:meth:`setup`), then
serves passes: :meth:`requests` returns one pass of requests, which
the runner shuffles with the seed and executes one at a time (a
closed loop, one client).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, data
from perfbench.harness import Request


def _warm_up(spark) -> None:
    """JVM and code-generation warm-up (the same probe bench.py runs)."""
    spark.range(1000).selectExpr("sum(id)").collect()


class InteractiveSql:
    """The ten ``bench.HEADLINE`` queries over ``warm_cache``d tables,
    a fresh plan per execution, ``toArrow()`` as the action, owned
    caches dropped after each query."""

    name = "interactive_sql"
    #: untimed passes before the measured ones: pass time falls for
    #: about four passes while the JVM compiles the hot query paths
    warm_up_passes = 4

    def __init__(self, root: str, work_dir: str, seed: int):
        import bench

        self.root, self.work_dir = root, work_dir
        self.names = list(bench.HEADLINE)
        self.tables_dir = None
        self.want: dict[str, list] = {}

    def context(self) -> dict:
        return {"sf": data.SF}

    def setup(self, spark, rep: int) -> dict:
        import time

        from trendengine_spark.tables import warm_cache

        t0 = time.perf_counter()
        self.tables_dir = os.path.join(self.work_dir, f"tables_rep{rep}")
        data.write_tables(self.tables_dir)
        t1 = time.perf_counter()
        _warm_up(spark)
        t2 = time.perf_counter()
        warm_cache(spark, self.tables_dir)
        t3 = time.perf_counter()
        storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached = sum(storage[i].memSize() for i in range(len(storage)))
        return {
            "data_s": t1 - t0,
            "warm_up_s": t2 - t1,
            "warm_cache_s": t3 - t2,
            "cached_mb": cached / (1024.0 * 1024.0),
        }

    def prepare_checks(self) -> None:
        """Reference digests for the final table set: DuckDB runs the
        oracle SQL; rows-only queries take the pinned digests."""
        from trendengine_spark.queries import all_oracle_sql

        digester = checks.Digester(self.root, self.tables_dir)
        oracle = all_oracle_sql()
        pinned = checks.load_pinned()
        self.want = {
            n: digester.oracle(oracle[n]) if n in oracle else pinned.get(n)
            for n in self.names
        }
        self.digester = digester

    def requests(self, spark) -> list[Request]:
        from trendengine_spark.queries import all_queries

        fns = all_queries()
        out = []
        for name in self.names:
            fn = fns[name]
            out.append(
                Request(
                    name=name,
                    kind="polytrend" if name == "flagship_trend_pipeline" else "query",
                    build=lambda fn=fn: fn(spark, self.tables_dir),
                    act=lambda df: df.toArrow(),
                    check=lambda tbl, name=name: checks.compare_digest(
                        self.digester.arrow(tbl), self.want.get(name)
                    ),
                )
            )
        return out

    def after_op(self, spark, op, result) -> None:
        from trendengine_spark.operators.util import owned_cache_drop

        op.owned_caches = owned_cache_drop(spark, "")
        if op.kind == "polytrend" and op.error is None:
            op.series = result.num_rows

    def final_check(self, spark) -> str | None:
        return None

    def close(self) -> None:
        self.digester.close()


class TrendMap:
    """The paper's form-driven trend requests over a Z-ordered,
    manifest-versioned observation grid.

    Setup commits the seeded grid with ``write_versioned_clustered``.
    A pass is one ingest of the next year through
    ``publish_versioned_batch(..., zorder_by=...)``, one PolyTrend
    request over the whole grid and one DBEST change-detection request
    over a small box at its centre, each reading through
    ``read_versioned(predicate=...)``."""

    name = "trend_map"
    #: untimed passes before the measured ones: the first pays the
    #: first-use work, and the pass after it still runs about a tenth
    #: slower than later ones
    warm_up_passes = 2
    ZORDER = ("longitude", "latitude")
    #: side of the DBEST request's pixel box
    DBEST_SIDE = 4

    def __init__(self, root: str, work_dir: str, seed: int, side: int = 24):
        self.work_dir, self.seed, self.side = work_dir, seed, side
        self.path = None
        self.truth = None
        self.rows = 0
        self.ingests = 0
        self.last_obs = None
        # the DBEST box sits at a tile-aligned place: with the grid's
        # balanced tiles every seed asks for the same work
        self.pt_box = self._bbox(0, side)
        self.db_box = self._bbox((side - self.DBEST_SIDE) // 2, self.DBEST_SIDE)
        self.files_read_frac: list[float] = []
        self.files_per_version: list[int] = []

    def context(self) -> dict:
        return {
            "grid_pixels": self.side * self.side,
            "polytrend_pixels": self._pixels(self.pt_box),
            "dbest_pixels": self._pixels(self.db_box),
        }

    def _bbox(self, at: int, n: int) -> tuple[float, float, float, float]:
        """The ``n`` × ``n`` pixel box whose lower-left pixel is the
        tile corner at or below (``at``, ``at``)."""
        i = at - at % data.TILE[0]
        j = at - at % data.TILE[1]
        half = data.STEP / 2
        return (
            data.LON0 + data.STEP * i - half,
            data.LAT0 + data.STEP * j - half,
            data.LON0 + data.STEP * (i + n - 1) + half,
            data.LAT0 + data.STEP * (j + n - 1) + half,
        )

    def _pixels(self, bbox) -> int:
        n_x = round((bbox[2] - bbox[0]) / data.STEP)
        n_y = round((bbox[3] - bbox[1]) / data.STEP)
        return n_x * n_y

    def setup(self, spark, rep: int) -> dict:
        import time

        from trendengine_spark.tablelog import write_versioned_clustered

        t0 = time.perf_counter()
        obs, self.truth = data.trend_grid(self.seed, self.side)
        raw = os.path.join(self.work_dir, f"grid_rep{rep}.parquet")
        pq.write_table(pa.Table.from_pandas(obs, preserve_index=False), raw)
        t1 = time.perf_counter()
        _warm_up(spark)
        t2 = time.perf_counter()
        self.path = os.path.join(self.work_dir, f"grid_rep{rep}")
        write_versioned_clustered(spark, spark.read.parquet(raw), self.path, self.ZORDER)
        t3 = time.perf_counter()
        self.rows, self.ingests = len(obs), 0
        return {"data_s": t1 - t0, "warm_up_s": t2 - t1, "commit_s": t3 - t2}

    def prepare_checks(self) -> None:
        pass

    def _read(self, spark, bbox):
        from trendengine_spark.tablelog import read_versioned

        obs = read_versioned(
            spark,
            self.path,
            predicate={"longitude": (bbox[0], bbox[2]), "latitude": (bbox[1], bbox[3])},
        )
        self.last_obs = obs
        return obs

    def requests(self, spark) -> list[Request]:
        from trendengine_spark import engine
        from trendengine_spark.tablelog import current_version, publish_versioned_batch

        y0, y1 = data.YEAR0, data.YEAR0 + data.N_YEARS - 1

        def ingest_build():
            year = y1 + 1 + self.ingests
            return spark.createDataFrame(data.ingest_batch(self.seed, self.side, year))

        def ingest_act(batch):
            before = current_version(self.path)
            ok = publish_versioned_batch(
                batch, self.ingests + 1, self.path, zorder_by=self.ZORDER
            )
            if ok:
                self.ingests += 1
                self.rows += self.side * self.side * data.OBS_PER_YEAR
            return ok, before, current_version(self.path)

        def ingest_check(res):
            ok, before, after = res
            if not ok or after != before + 1:
                return f"ingest committed version {after} after {before}"
            return None

        pt, db = self.pt_box, self.db_box
        return [
            Request("ingest", "ingest", ingest_build, ingest_act, ingest_check),
            Request(
                "polytrend",
                "polytrend",
                lambda: engine.polytrend(
                    self._read(spark, pt), y0, y1, bbox=pt, threshold=data.THRESHOLD
                ),
                lambda df: df.toArrow(),
                lambda tbl: checks.check_polytrend(tbl.to_pandas(), self.truth, pt),
            ),
            Request(
                "dbest",
                "dbest",
                lambda: engine.dbest(
                    self._read(spark, db),
                    y0,
                    y1,
                    bbox=db,
                    threshold=data.THRESHOLD,
                    largest_only=True,
                    first_level_shift=data.LEVEL_SHIFT,
                    second_level_shift=data.LEVEL_SHIFT,
                ),
                lambda df: df.toArrow(),
                lambda tbl: checks.check_dbest(tbl.to_pandas(), self.truth, db),
            ),
        ]

    def _manifest_files(self, version: int) -> int:
        with open(os.path.join(self.path, "_manifests", f"v{version:06d}.json")) as fh:
            return len(json.load(fh)["files"])

    def after_op(self, spark, op, result) -> None:
        from trendengine_spark.tablelog import current_version

        if op.error is not None:
            return
        if op.kind in ("polytrend", "dbest"):
            op.series = result.num_rows
            if op.traced:
                kept = len(self.last_obs.inputFiles())
                total = self._manifest_files(current_version(self.path))
                self.files_read_frac.append(kept / total)
        elif op.kind == "ingest" and op.traced:
            _, before, after = result
            self.files_per_version.append(
                self._manifest_files(after) - self._manifest_files(before)
            )

    def final_check(self, spark) -> str | None:
        """Every ingest is a version and the newest version holds every
        row: the grid plus each ingested year."""
        from trendengine_spark.tablelog import current_version, read_versioned

        version = current_version(self.path)
        if version != self.ingests:
            return f"table at version {version} after {self.ingests} ingests"
        rows = read_versioned(spark, self.path).count()
        if rows != self.rows:
            return f"table holds {rows} rows, expected {self.rows}"
        return None

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (InteractiveSql, TrendMap)}
