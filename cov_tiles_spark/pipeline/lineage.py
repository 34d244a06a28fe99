"""IcebergLite: partitioned Parquet tables with per-partition lineage and
metrics (SURVEY.md §7.0; north_rule "resumable from checkpoint with
per-partition lineage + metrics").

The sandbox has no Iceberg runtime jars, so this layer gives
``pipeline/delta.py`` the Iceberg semantics it needs on plain Parquet:

- a **manifest table** (``_manifests/``) with one row per committed
  partition: (table, snapshot_id, partition_key, n_rows, n_bytes,
  checksum, committed_at_ns, stage); readers go through it, so a
  half-written snapshot is invisible
- **snapshot commits** under ``table/snapshot_id=…/<partition_col>=…/``
  and **latest-wins reads**: a partition committed again supersedes its
  earlier snapshot
- **deletes and time travel**: ``commit_tombstones`` writes a
  manifest-only snapshot that hides keys from latest reads, and
  ``read_table(as_of_ns=...)`` sees only snapshots committed by then

Resume is the caller's: ``delta_materialize`` stores each tile's input
checksum beside its payload, so a rerun re-encodes only what is missing
or changed. A catalog-backed Iceberg table could stand behind the same
calls; no such backend is wired in.
"""

from __future__ import annotations

import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, Row, SparkSession
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
        error propagates, so a read never mistakes an unreadable
        manifest for "nothing committed". The listed files are read with
        the fixed schema, so no read infers one and Spark never sees the
        hidden ``_manifests`` root itself."""
        files = self._visible_names(self._manifest_dir)
        if not files:
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(
            *(f"{self._manifest_dir}/{f}" for f in files)
        )

    def _visible_names(self, directory: str) -> list[str]:
        """Names in ``directory`` that Spark would not hide: it hides
        names starting with ``.``, and names starting with ``_`` unless
        they hold ``=`` (so the partition directory ``_part=3`` stays
        visible and ``_SUCCESS`` does not). Empty if ``directory`` does
        not exist. Goes through the Hadoop ``FileSystem`` API, so
        ``file://``, ``hdfs://`` and ``s3a://`` roots resolve the same
        way as local paths."""
        sc = self.spark.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(directory)
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return []
        names = (s.getPath().getName() for s in fs.listStatus(path))
        return [
            n for n in names
            if not (n.startswith(".") or (n.startswith("_") and "=" not in n))
        ]

    def _append_manifest(self, rows: list) -> None:
        """One manifest file holding ``rows``."""
        self.spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self._manifest_dir)

    # ---------------- write path ----------------

    def commit_partitions(
        self, table: str, stage: str, df: DataFrame, partition_col: str
    ) -> list[Row]:
        """Write ``df`` as a new snapshot of ``table``, partitioned by
        ``partition_col``, and append one manifest row per partition with
        its row count, logical byte size and value checksum. Returns the
        manifest rows written (none, and nothing written, when ``df`` is
        empty). A partition committed again supersedes its earlier
        snapshot in ``read_table(latest_only=True)``; the earlier one
        stays readable through time travel (Iceberg's upsert shape).

        Repartitioning by ``partition_col`` first writes ONE file per
        partition directory, not one per upstream task touching it (812
        files -> 32 on the delta gate; guide §6), and co-locates the
        metrics aggregation; a planet-hot key lands on one task."""
        pending = df.repartition(F.col(partition_col)).cache()
        dtypes = dict(pending.dtypes)
        # logical bytes: UTF-8 bytes of strings, raw bytes of binary (no
        # base64 rendering of payload blobs), the string form of the rest
        byte_expr = sum(
            F.coalesce(
                F.octet_length(
                    F.col(c) if dtypes[c] in ("binary", "string")
                    else F.col(c).cast("string")
                ),
                F.lit(0),
            )
            for c in pending.columns
        )
        # xor-fold: order-insensitive and immune to ANSI overflow;
        # columns NAME-SORTED so the checksum is comparable across
        # commits whose DataFrames arrange columns differently
        checksum = F.expr(f"bit_xor(xxhash64({', '.join(sorted(pending.columns))}))")
        snapshot_id = uuid.uuid4().hex[:16]
        rows = (
            pending.groupBy(partition_col)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(byte_expr.cast("long")).alias("n_bytes"),
                checksum.alias("checksum"),
            )
            .select(
                F.lit(table).alias("table"),
                F.lit(snapshot_id).alias("snapshot_id"),
                F.col(partition_col).cast("string").alias("partition_key"),
                "n_rows", "n_bytes", "checksum",
                F.lit(time.time_ns()).alias("committed_at_ns"),
                F.lit(stage).alias("stage"),
            )
            .collect()
        )
        if rows:
            pending.write.partitionBy(partition_col).parquet(
                f"{self.root}/{table}/snapshot_id={snapshot_id}"
            )
            self._append_manifest(rows)
        pending.unpersist()
        return rows

    def commit_tombstones(self, table: str, stage: str, keys: list[str]) -> None:
        """Delete-by-partition: commit a manifest-only snapshot (no data
        files) with one row per key in ``keys``. ``read_table(latest_only=
        True)`` resolves the tombstone snapshot as the newest winner for
        the key and reads nothing for it, so the partition vanishes from
        latest reads; time travel before the tombstone still sees the old
        rows (Iceberg's delete-manifest shape). Commits nothing if
        ``keys`` is empty."""
        if not keys:
            return
        snapshot_id = uuid.uuid4().hex[:16]
        now = time.time_ns()
        self._append_manifest(
            [(table, snapshot_id, k, 0, 0, 0, now, stage) for k in keys]
        )

    # ---------------- read path ----------------

    def read_table(
        self,
        table: str,
        as_of_ns: int | None = None,
        latest_only: bool = False,
    ) -> DataFrame:
        """Read the committed partitions of a table (manifest-gated).

        ``as_of_ns`` is Iceberg-style time travel: only snapshots whose
        manifest commit timestamp is <= the bound are visible — the view
        any reader saw at that instant, reconstructible forever because
        commits are append-only.

        ``latest_only``: upsert semantics — for every partition_key, keep
        rows only from its newest visible snapshot (ties broken by the
        larger snapshot id). The table's manifest rows are collected
        once and the winners picked on the driver, so Spark is handed
        exactly the winning ``snapshot_id=…/<col>=…`` directories: the
        plan is a plain scan, with no join or window. A partition whose
        winner is a tombstone is not read at all.

        Raises FileNotFoundError when no snapshot with data is visible."""
        base = f"{self.root}/{table}"
        rows = sorted(
            (
                r for r in self.manifests()
                .filter(F.col("table") == table)
                .select("snapshot_id", "partition_key", "n_rows", "committed_at_ns")
                .collect()
                if as_of_ns is None or r.committed_at_ns <= as_of_ns
            ),
            key=lambda r: (r.committed_at_ns, r.snapshot_id),
        )
        with_data = [r for r in rows if r.n_rows]  # tombstones have no directory
        if not with_data:
            raise FileNotFoundError(
                f"no snapshots for table {table} at as_of_ns={as_of_ns}"
            )
        if latest_only:  # a later row overwrites: each key keeps its newest
            rows = list({r.partition_key: r for r in rows}.values())
        wanted: dict[str, set[str]] = {}
        for r in rows:
            if r.n_rows:
                wanted.setdefault(r.snapshot_id, set()).add(r.partition_key)
        paths = []
        for snap, keys in wanted.items():
            d = f"{base}/snapshot_id={snap}"
            paths += [
                f"{d}/{n}" for n in self._visible_names(d)
                if unquote(n.split("=", 1)[1]) in keys
            ]
        reader = self.spark.read.option("basePath", base)
        if paths:
            df = reader.parquet(*paths)
        else:  # every live partition tombstoned: the schema, no rows
            df = reader.parquet(f"{base}/snapshot_id={with_data[-1].snapshot_id}").limit(0)
        return df.drop("snapshot_id")
