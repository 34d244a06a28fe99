"""The four benchmark workloads.

Each workload generates its input from the seed and writes it as parquet
(``generate``) and does its per-run preparation (``prepare``), both part
of the set-up. It then runs one untimed operation whose output is checked
(``warm_and_check``), ``warm_ops`` more untimed ones, and the timed
operations (``op``). The program only sees the parquet files. A workload
names the work items one operation processes (``items``) and, for the
tile workloads, exposes the tile payloads its kernels are timed on
(``payloads``).
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.spans import Tracer

BUILD_ZOOMS = list(range(2, 9))
READ_ZOOMS = [2, 4, 6]
FEATURE_COLS = ["z", "x", "y", "feature_id", "local_x", "local_y",
                "caption", "fmt", "w", "h", "phash"]


@dataclass
class Context:
    spark: SparkSession
    work: str
    seed: int
    entry: object  # the __spark_entry__ module (query helpers + oracles)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def same_rows(got: pa.Table, want: pd.DataFrame, cols: list[str]) -> tuple[bool, str]:
    """Row-multiset equality of two feature tables over ``cols``."""
    g = got.select(cols).to_pandas().sort_values(cols, ignore_index=True)
    w = want[cols].sort_values(cols, ignore_index=True)
    if len(g) != len(w):
        return False, f"{len(g)} rows, expected {len(w)}"
    for c in cols:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if a.dtype.kind in "iu" and b.dtype.kind in "iuf":
            bad = (a != b.astype(a.dtype)).sum()
        else:
            bad = (a.astype(str) != b.astype(str)).sum()
        if bad:
            return False, f"{bad} rows differ in {c}"
    return True, f"{len(g)} rows match"


def _events_oracle(ctx: Context, ev: pd.DataFrame, zooms: list[int]) -> pd.DataFrame:
    """The ``q_tile_encode`` DuckDB twin, run on the generated events."""
    sql = ctx.entry.oracle_sql()["q_tile_encode"]
    if zooms != [2, 4, 6]:
        sql = sql.replace("unnest([2, 4, 6])", f"unnest({zooms})")
    con = duckdb.connect()
    try:
        con.register("events", ev)
        return con.execute(sql).fetchdf()
    finally:
        con.close()


class Workload:
    """Default hooks; a workload overrides the ones it needs."""

    payloads: pa.Table | None = None
    warm_ops = 0  # untimed ops after the checked one, ahead of the timed ones
    serves_tiles = False  # time single-process decodes of the stored tiles

    def before_op(self) -> None:
        """Untimed work ahead of each timed op."""

    def warm_and_check(self, tracer: Tracer) -> tuple[bool, str] | None:
        """One untimed op whose output is checked."""
        return None

    def check(self) -> tuple[bool, str] | None:
        """Untimed check of the last timed op's output."""
        return None


class TileBuildHot(Workload):
    """Tile write path over a hot-spot corpus, capped, z2-z8, MVT baseline on."""

    name = "tile-build-hot"
    n_images = 1000
    cap = 40

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "images")
        self.items = self.n_images * len(BUILD_ZOOMS)
        self.items_name = "build_features_per_s"  # assigned tile rows

    def generate(self) -> str:
        df = gen.hot_images(self.ctx.seed, self.n_images)
        shutil.rmtree(self.src, ignore_errors=True)
        os.makedirs(self.src)
        table = pa.Table.from_pandas(df, preserve_index=False)
        step = -(-len(df) // 4)
        for i in range(4):  # one input file per task slot
            pq.write_table(table.slice(i * step, step), f"{self.src}/part-{i}.parquet")
        return gen.digest(df)

    def prepare(self, tracer: Tracer) -> None:
        self.images = self.ctx.spark.read.parquet(self.src)

    def _tiles(self, tracer: Tracer) -> DataFrame:
        from cov_tiles_spark.pipeline.materialize import materialize_tiles

        with tracer.span("materialize.materialize_tiles"):
            return materialize_tiles(
                self.images, BUILD_ZOOMS, max_features_per_tile=self.cap,
                with_mvt_baseline=True,
            )

    def op(self, tracer: Tracer) -> None:
        tiles = self._tiles(tracer)
        with tracer.span("sink.noop"):
            noop(tiles)

    def warm_and_check(self, tracer: Tracer) -> tuple[bool, str]:
        from cov_tiles_spark.pipeline.materialize import decode_tiles

        spark = self.ctx.spark
        out = os.path.join(self.ctx.work, "payloads")
        self._tiles(tracer).write.mode("overwrite").parquet(out)
        self.payloads = pq.read_table(out)
        got = decode_tiles(spark.read.parquet(out)).toArrow()
        return same_rows(got, self._expected().toPandas(), FEATURE_COLS)

    def _expected(self) -> DataFrame:
        """The capped input subset, recomputed with a plain window."""
        from pyspark.sql import Window

        lon, lat = F.col("lon"), F.col("lat")
        mx = (lon + 180.0) / 360.0
        my = F.lit(0.5) - F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / 2.0)) / F.lit(
            2.0 * math.pi
        )
        rows = []
        for z in BUILD_ZOOMS:
            n = float(1 << z)
            x = F.least(F.lit((1 << z) - 1), F.greatest(F.lit(0), F.floor(mx * n))).cast("int")
            y = F.least(F.lit((1 << z) - 1), F.greatest(F.lit(0), F.floor(my * n))).cast("int")
            rows.append(self.images.select(
                F.lit(z).alias("z"), x.alias("x"), y.alias("y"), "image_id",
                F.floor((mx * n - x.cast("double")) * 4096.0).cast("int").alias("local_x"),
                F.floor((my * n - y.cast("double")) * 4096.0).cast("int").alias("local_y"),
                "caption", "fmt", "w", "h", "phash",
            ))
        allz = rows[0]
        for r in rows[1:]:
            allz = allz.unionByName(r)
        w = Window.partitionBy("z", "x", "y").orderBy(
            F.xxhash64("image_id", F.col("z")), F.col("image_id")
        )
        return (
            allz.withColumn("_rank", F.row_number().over(w))
            .filter(F.col("_rank") <= self.cap)
            .select(
                "z", "x", "y",
                F.expr("substring(image_id, 5)").cast("long").alias("feature_id"),
                "local_x", "local_y", "caption", "fmt",
                F.col("w").cast("long").alias("w"), F.col("h").cast("long").alias("h"),
                "phash",
            )
        )


class TileRead(Workload):
    """Tile read path: decode stored gen-A payloads, no exchange."""

    name = "tile-read"
    n_events = 10000
    warm_ops = 3  # ~1 s each
    serves_tiles = True

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "events")
        self.items = self.n_events * len(READ_ZOOMS)
        self.items_name = "read_features_per_s"  # decoded features

    def generate(self) -> str:
        self.events = gen.events(self.ctx.seed, self.n_events)
        os.makedirs(self.src, exist_ok=True)
        self.events.to_parquet(f"{self.src}/events.parquet", index=False)
        return gen.digest(self.events)

    def prepare(self, tracer: Tracer) -> None:
        from cov_tiles_spark.pipeline.materialize import materialize_tiles

        spark = self.ctx.spark
        imgs = self.ctx.entry._events_images_fast(spark, self.src)
        out = os.path.join(self.ctx.work, "payloads")
        materialize_tiles(
            imgs, READ_ZOOMS, with_mvt_baseline=True,
            max_features_per_tile=self.ctx.entry._GATE_CAP,
        ).write.mode("overwrite").parquet(out)
        self.payloads = pq.read_table(out)
        self.stored = spark.read.parquet(out)

    def _decoded(self, tracer: Tracer) -> DataFrame:
        from cov_tiles_spark.pipeline.materialize import decode_tiles

        with tracer.span("materialize.decode_tiles"):
            return decode_tiles(self.stored)

    def op(self, tracer: Tracer) -> None:
        decoded = self._decoded(tracer)
        with tracer.span("sink.noop"):
            noop(decoded)

    def warm_and_check(self, tracer: Tracer) -> tuple[bool, str]:
        got = self._decoded(tracer).toArrow()
        return same_rows(got, _events_oracle(self.ctx, self.events, READ_ZOOMS), FEATURE_COLS)


class TileDelta(Workload):
    """Incremental materialization: half the corpus committed (untimed),
    then a delta run over the full corpus and a latest-view read."""

    name = "tile-delta"
    n_events = 6000
    buckets = 32
    serves_tiles = True

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "events")
        self.base_lake = os.path.join(ctx.work, "lake-base")
        self.items = self.n_events * len(READ_ZOOMS)
        self.items_name = "delta_features_per_s"  # features in the latest view
        self.n_ops = 0
        self.lake_root = None
        self.last_stats: dict = {}

    def generate(self) -> str:
        self.events = gen.events(self.ctx.seed, self.n_events)
        os.makedirs(self.src, exist_ok=True)
        self.events.to_parquet(f"{self.src}/events.parquet", index=False)
        return gen.digest(self.events)

    def prepare(self, tracer: Tracer) -> None:
        from cov_tiles_spark.pipeline.delta import delta_materialize
        from cov_tiles_spark.pipeline.lineage import IcebergLite

        self.images = self.ctx.entry._events_images_fast(self.ctx.spark, self.src)
        half = self.images.filter(F.col("image_id") % 2 == 0)
        shutil.rmtree(self.base_lake, ignore_errors=True)
        delta_materialize(
            IcebergLite(self.ctx.spark, self.base_lake), half, READ_ZOOMS,
            partition_buckets=self.buckets,
            max_features_per_tile=self.ctx.entry._GATE_CAP,
        )

    def before_op(self) -> None:
        """Untimed: a copy of the half-committed lake for the next op."""
        if self.lake_root is not None:
            shutil.rmtree(self.lake_root, ignore_errors=True)
        self.n_ops += 1
        self.lake_root = os.path.join(self.ctx.work, f"lake-{self.n_ops}")
        shutil.copytree(self.base_lake, self.lake_root)

    def files_in_lake(self) -> int:
        return sum(
            f.endswith(".parquet")
            for _, _, files in os.walk(self.lake_root) for f in files
        )

    def op(self, tracer: Tracer) -> None:
        from cov_tiles_spark.pipeline.delta import delta_materialize
        from cov_tiles_spark.pipeline.lineage import IcebergLite
        from cov_tiles_spark.pipeline.materialize import decode_tiles

        lake = IcebergLite(self.ctx.spark, self.lake_root)
        with tracer.span("delta.delta_materialize"):
            self.last_stats = delta_materialize(
                lake, self.images, READ_ZOOMS, partition_buckets=self.buckets,
                max_features_per_tile=self.ctx.entry._GATE_CAP,
            )
        with tracer.span("lineage.read_table"):
            tiles = lake.read_table("tiles", latest_only=True).drop("tile_key")
        with tracer.span("materialize.decode_tiles"):
            decoded = decode_tiles(tiles)
        with tracer.span("sink.noop"):
            noop(decoded)

    def latest_payloads(self) -> DataFrame:
        from cov_tiles_spark.pipeline.lineage import IcebergLite

        lake = IcebergLite(self.ctx.spark, self.lake_root)
        return lake.read_table("tiles", latest_only=True).drop("tile_key")

    def check(self) -> tuple[bool, str]:
        """Untimed, on the last timed op's lake."""
        from cov_tiles_spark.pipeline.materialize import decode_tiles

        if not self.last_stats.get("changed"):
            return False, f"delta run re-encoded nothing: {self.last_stats}"
        latest = self.latest_payloads()
        self.payloads = latest.select("z", "x", "y", "num_features", "payload",
                                      "payload_bytes", "mvt_bytes").toArrow()
        got = decode_tiles(latest).toArrow()
        return same_rows(got, _events_oracle(self.ctx, self.events, READ_ZOOMS), FEATURE_COLS)


class TextDedup(Workload):
    """MinHash near-duplicate pairs over a seeded document corpus."""

    name = "text-dedup"
    n_docs = 6000
    # the first ops after the checked one still run up to a third slower
    warm_ops = 2
    planted = 120
    threshold = 0.8

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "documents.parquet")
        self.items = self.n_docs + self.planted
        self.items_name = "dedup_docs_per_s"

    def generate(self) -> str:
        df, self.pairs = gen.documents(self.ctx.seed, self.n_docs, self.planted)
        df.to_parquet(self.src, index=False)
        return gen.digest(df)

    def prepare(self, tracer: Tracer) -> None:
        self.docs = self.ctx.spark.read.parquet(self.src)

    def _pairs(self, tracer: Tracer) -> DataFrame:
        from cov_tiles_spark.operators.dedup import minhash_near_dups

        with tracer.span("operators.minhash_near_dups"):
            return minhash_near_dups(self.docs, "text", "doc_id", threshold=self.threshold)

    def before_op(self) -> None:
        # the operator caches its signatures; drop them so every op
        # computes its own
        self.ctx.spark.catalog.clearCache()

    def op(self, tracer: Tracer) -> None:
        pairs = self._pairs(tracer)
        with tracer.span("sink.noop"):
            noop(pairs)

    def warm_and_check(self, tracer: Tracer) -> tuple[bool, str]:
        self.before_op()
        got = {(r.id_a, r.id_b) for r in self._pairs(tracer).collect()}
        missing = self.pairs - got
        extra = got - self.pairs
        if missing or extra:
            return False, f"{len(missing)} planted pairs missed, {len(extra)} unplanted pairs found"
        return True, f"all {len(got)} planted pairs found"


WORKLOADS = {w.name: w for w in (TileBuildHot, TileRead, TileDelta, TextDedup)}
