"""IcebergLite: checkpointed, resumable batch stages with per-partition
lineage + metrics (SURVEY.md §7.0; north_rule "resumable from checkpoint
with per-partition lineage + metrics").

The sandbox has no Iceberg runtime jars, so this layer provides the
Iceberg semantics we need on plain partitioned Parquet:

- a **manifest table** (`_manifests/` parquet) with one row per committed
  partition: (table, snapshot_id, partition_key, n_rows, n_bytes,
  checksum, committed_at_ns)
- **idempotent stage execution**: ``run_stage`` skips partitions whose
  manifest rows already exist (resume after failure re-does only missing
  partitions)
- **snapshot isolation (lite)**: data lands under
  ``table/snapshot_id=.../<partition_col>=.../part-*.parquet``; readers go
  through the manifest, so half-written partitions are invisible
- **deletes and time travel**: ``commit_tombstones`` writes a
  manifest-only snapshot that hides a key from latest reads, and
  ``read_table(as_of_ns=...)`` sees only snapshots committed by then

The public API (``commit_partitions``, ``commit_tombstones``,
``committed_keys_df``, ``read_table``, ``run_stage``) follows Iceberg's
snapshot + manifest model, so a catalog-backed Iceberg table could stand
behind the same calls; no such backend is wired in.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "table string, snapshot_id string, partition_key string, n_rows long, "
    "n_bytes long, checksum long, committed_at_ns long, stage string"
)


class IcebergLite:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._manifest_dir = f"{self.root}/_manifests"

    # ---------------- manifest ----------------

    def manifests(self) -> DataFrame:
        """Every manifest row. Empty only while ``_manifests/`` holds no
        data file: before the first commit, or after a first manifest
        write that failed and left only ``_temporary/`` behind. Any read
        error propagates, so a ``skip-done`` resume never mistakes it for
        "nothing committed". The listed files are read with the fixed
        schema, so no read infers one and Spark never sees the hidden
        ``_manifests`` root itself."""
        files = self._visible_names(self._manifest_dir)
        if not files:
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(
            *(f"{self._manifest_dir}/{f}" for f in files)
        )

    def _visible_names(self, directory: str) -> list[str]:
        """Names in ``directory`` that Spark would not hide (its rule:
        names starting with ``_`` or ``.`` are hidden); empty if it does
        not exist. Goes through the Hadoop ``FileSystem`` API, so
        ``file://``, ``hdfs://`` and ``s3a://`` roots resolve the same
        way as local paths."""
        sc = self.spark.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(directory)
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return []
        names = (s.getPath().getName() for s in fs.listStatus(path))
        return [n for n in names if not n.startswith(("_", "."))]

    def committed_keys_df(self, table: str, stage: str) -> DataFrame:
        """Distinct committed partition keys as a DataFrame (the scale
        path: consumed by anti-joins, never collected to the driver)."""
        return (
            self.manifests()
            .filter((F.col("table") == table) & (F.col("stage") == stage))
            .select("partition_key")
            .distinct()
        )

    # ---------------- write path ----------------

    def commit_partitions(
        self,
        table: str,
        stage: str,
        df: DataFrame,
        partition_col: str,
        mode: str = "skip-done",
        cluster: bool = False,
    ) -> DataFrame:
        """Write ``df`` partitioned by ``partition_col``, skipping already-
        committed partitions; append manifest rows with row/byte metrics
        and a value checksum. Returns the manifest rows written.

        ``mode="skip-done"`` (resume): partitions already in the manifest
        are filtered out. ``mode="overwrite"``: every partition in ``df``
        is written as a NEW snapshot — readers using
        ``read_table(latest_only=True)`` see the new version, the old
        snapshot stays readable via time travel (Iceberg's upsert shape;
        used by delta_materialize for changed partitions).

        ``cluster=True`` repartitions by ``partition_col`` before the
        write, so each hive partition dir gets ONE file instead of one
        file per upstream task touching it (a 256-task encode feeding 32
        buckets otherwise writes ~task x bucket small files; measured
        812 files -> 32 on the delta gate, and every later
        ``read_table`` scan lists/opens proportionally fewer files —
        guide-§6 output sizing). The same shuffle co-locates the
        metrics groupBy, which then needs no exchange of its own. Leave
        False when the caller already clusters, in per-record streaming commits (a blocking per-batch shuffle), or
        when one partition key is planet-hot (identical keys land on ONE
        task — the repartitionByRange tiebreak gotcha applies)."""
        if mode not in ("skip-done", "overwrite"):
            raise ValueError(f"unknown commit mode {mode!r}")
        if mode == "skip-done":
            done = self.committed_keys_df(table, stage).withColumnRenamed(
                "partition_key", "_done_pk"
            )
            # left-anti join against the manifest: distributed resume
            # filter (scales to millions of committed partitions; an isin
            # literal list would serialize them all into the plan)
            df = df.join(
                done,
                df[partition_col].cast("string") == done["_done_pk"],
                "left_anti",
            )

        snapshot_id = uuid.uuid4().hex[:16]
        data_dir = f"{self.root}/{table}/snapshot_id={snapshot_id}"
        if cluster:
            df = df.repartition(F.col(partition_col))
        pending = df.cache()
        # per-partition metrics + checksum (xxhash64 of every cell, xor-agg)
        cols = [c for c in pending.columns]
        dtypes = dict(pending.dtypes)
        # logical byte size = sum of per-column octet lengths
        # (octet_length counts UTF-8 bytes for strings, raw bytes for
        # binary); binary columns avoid the previous to_json(struct())
        # rendering, which base64-encoded every payload blob just for
        # this metric (wall-clock neutral at sf0.1 where payloads are
        # small; avoids the 4/3x blob copy when payload bytes dominate)
        sizes = [
            F.coalesce(
                F.octet_length(
                    F.col(c) if dtypes[c] in ("binary", "string")
                    else F.col(c).cast("string")
                ),
                F.lit(0),
            )
            for c in cols
        ]
        byte_expr = sizes[0]
        for e in sizes[1:]:
            byte_expr = byte_expr + e
        metrics = (
            pending.groupBy(F.col(partition_col).cast("string").alias("partition_key"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(byte_expr.cast("long")).alias("n_bytes"),
                # xor-fold: order-insensitive and immune to ANSI overflow;
                # columns NAME-SORTED so the checksum is comparable across
                # commits whose DataFrames arrange columns differently
                F.expr(
                    f"bit_xor(xxhash64({', '.join(sorted(cols))}))"
                ).alias("checksum"),
            )
        )
        if metrics.isEmpty():
            pending.unpersist()
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)

        pending.write.partitionBy(partition_col).mode("append").parquet(data_dir)

        manifest = metrics.select(
            F.lit(table).alias("table"),
            F.lit(snapshot_id).alias("snapshot_id"),
            "partition_key",
            "n_rows",
            "n_bytes",
            "checksum",
            F.lit(time.time_ns()).alias("committed_at_ns"),
            F.lit(stage).alias("stage"),
        )
        manifest.write.mode("append").parquet(self._manifest_dir)
        pending.unpersist()
        # return the COMMITTED rows read back by snapshot id: the lazy
        # `manifest` plan re-runs the resume anti-join on evaluation, and
        # post-commit that join sees this very snapshot as done -> empty
        return self.manifests().filter(F.col("snapshot_id") == snapshot_id)

    def commit_tombstones(self, table: str, stage: str, keys: list[str]) -> None:
        """Delete-by-partition: commit a manifest-only snapshot (no data
        files) with one row per key in ``keys``. ``read_table(latest_only=
        True)`` resolves the tombstone snapshot as the newest winner for
        the key and finds zero data rows in it, so the partition
        vanishes from latest reads; time travel before the tombstone
        still sees the old rows (Iceberg's delete-manifest shape).
        Commits nothing if ``keys`` is empty."""
        if not keys:
            return
        snapshot_id = uuid.uuid4().hex[:16]
        now = time.time_ns()
        self.spark.createDataFrame(
            [(table, snapshot_id, k, 0, 0, 0, now, stage) for k in keys],
            MANIFEST_SCHEMA,
        ).write.mode("append").parquet(self._manifest_dir)

    # ---------------- read path ----------------

    def read_table(
        self,
        table: str,
        as_of_ns: int | None = None,
        latest_only: bool = False,
    ) -> DataFrame:
        """Read the committed snapshots of a table (manifest-gated).

        ``as_of_ns`` is Iceberg-style time travel: only snapshots whose
        manifest commit timestamp is <= the bound are visible — the view
        any reader saw at that instant, reconstructible forever because
        commits are append-only.

        ``latest_only``: upsert semantics — for every partition_key, keep
        rows only from its newest visible snapshot (overwrite commits
        supersede; pure-append tables are unaffected since each key then
        has one snapshot). The filter is a broadcast semi-join on
        (snapshot_id, partition_key) pairs derived from the manifest."""
        base = f"{self.root}/{table}"
        snaps = [
            d for d in self._visible_names(base) if d.startswith("snapshot_id=")
        ]
        if not snaps:
            raise FileNotFoundError(f"no snapshots for table {table}")
        vis = self.manifests().filter(F.col("table") == table)
        if as_of_ns is not None:
            vis = vis.filter(F.col("committed_at_ns") <= as_of_ns)
        committed = {
            r.snapshot_id for r in vis.select("snapshot_id").distinct().collect()
        }
        paths = [
            f"{base}/{d}" for d in snaps if d.split("=", 1)[1] in committed
        ]
        if not paths:
            raise FileNotFoundError(
                f"no snapshots for table {table} at as_of_ns={as_of_ns}"
            )
        df = self.spark.read.option("basePath", base).parquet(*paths)
        if latest_only:
            from pyspark.sql import Window

            w = Window.partitionBy("partition_key").orderBy(
                F.col("committed_at_ns").desc(), F.col("snapshot_id").desc()
            )
            winners = (
                vis.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .select(
                    F.col("snapshot_id").alias("_w_snap"),
                    F.col("partition_key").alias("_w_pk"),
                )
            )
            pcol = [c for c in df.columns if c not in ("snapshot_id",)]
            part_col = self._partition_col_of(df)
            df = df.join(
                F.broadcast(winners),
                (df["snapshot_id"] == winners["_w_snap"])
                & (df[part_col].cast("string") == winners["_w_pk"]),
                "left_semi",
            ).select(*pcol)
        return df.drop("snapshot_id")

    @staticmethod
    def _partition_col_of(df: DataFrame) -> str:
        """The hive-partition column parquet recovered besides
        snapshot_id (data lands under
        snapshot_id=<id>/<partition_col>=<key>/)."""
        # snapshot_id and the data partition col are the trailing
        # partition-discovery columns; the data col is the one whose
        # values appear as partition_key strings in the manifest
        for c in reversed(df.columns):
            if c != "snapshot_id":
                return c
        raise ValueError("no partition column recovered")


def run_stage(
    lake: IcebergLite,
    table: str,
    stage: str,
    build: "callable[[DataFrame], DataFrame]",
    partition_col: str,
) -> DataFrame:
    """Idempotent stage: ``build(done)`` produces the stage output; ``done``
    is a DataFrame of already-committed partition keys (column
    ``partition_key``) the builder may anti-join against to prune work
    early — never a collected set. Only not-yet-committed partitions are
    written. Returns new manifest rows (empty on full resume)."""
    done = lake.committed_keys_df(table, stage)
    df = build(done)
    return lake.commit_partitions(table, stage, df, partition_col)
