"""WebDataset-style tar shard sink/source for image+caption corpora.

The standard deployment shape for large-scale image training data is a
directory of tar "shards", each holding the samples as consecutive
members named ``{key}.{ext}`` (image payload), ``{key}.txt`` (caption)
and ``{key}.json`` (metadata) — the public WebDataset convention. This
module materializes the BASELINE.json input-hint table
(image_id/bytes/w/h/fmt/caption/phash) into such shards and reads them
back, both ends distributed:

sink (:func:`write_webdataset`)
    One pass sizes the corpus (``SUM(octet_length ...)``, map-side
    partial agg) to pick the shard count for a byte target; one
    hash-partitioned exchange groups records into shards; each shard
    group streams through ``applyInPandas`` and writes its tar(s).
    Shard membership is a deterministic hash of ``image_id`` and
    members are id-sorted with zeroed tar timestamps/owners, so shards
    are BYTE-IDENTICAL across runs and cluster sizes — no global sort,
    no driver loop, no skew-prone range exchange. A shard group is
    ~``target_shard_bytes`` by construction (shard count is sized from
    the corpus total), so per-task memory is O(target); hash-imbalanced
    buckets roll over into ``-partNNN`` continuation tars at the byte
    target rather than growing one oversized archive. ``out_dir`` must
    be storage every executor can reach (shared filesystem / object
    store mount — same contract as any Spark file sink).

source (:func:`read_webdataset`)
    ``binaryFile`` scan over ``*.tar`` → ``mapInPandas`` parse; each
    task decodes whole shards independently (shard = the parallelism
    unit, exactly how these archives are consumed by training loaders).

The gate query ``q_webdataset_roundtrip`` proves write→read is lossless
against an independent scalar oracle (payload md5, caption bytes, all
metadata fields).
"""

from __future__ import annotations

import io
import json
import math
import os
import tarfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cov_tiles_spark.rows import map_rows

# per-member tar overhead: 512 B header + data padded to 512; three
# members per record plus json/txt payloads ≈ this flat allowance
_REC_OVERHEAD = 3 * 512 + 512

MANIFEST_SCHEMA = (
    "shard string, path string, n_records long, n_bytes long"
)


def _tarinfo(name: str, size: int) -> tarfile.TarInfo:
    ti = tarfile.TarInfo(name=name)
    ti.size = size
    ti.mtime = 0  # zeroed metadata -> byte-identical shards across runs
    ti.uid = ti.gid = 0
    ti.uname = ti.gname = ""
    ti.mode = 0o644
    return ti


def write_webdataset(
    images: DataFrame,
    out_dir: str,
    target_shard_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Materialize the input-hint table into WebDataset tar shards.

    Returns the manifest (one row per tar written: shard key, path,
    record count, byte size) as a DataFrame read back from the written
    manifest parquet — never the pre-write plan (CLAUDE.md lineage
    rule)."""
    os.makedirs(out_dir, exist_ok=True)
    total = images.select(
        F.sum(
            F.octet_length("bytes")
            + F.octet_length("caption")
            + F.lit(_REC_OVERHEAD)
        ).alias("b")
    ).collect()[0]["b"]
    n_shards = max(1, math.ceil(int(total) / target_shard_bytes))

    extra = [c for c in images.columns if c in ("lon", "lat")]

    def _write(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        pdf = pdf.sort_values("image_id")
        rows = []
        part = 0
        buf: io.BytesIO | None = None
        tf: tarfile.TarFile | None = None
        n_rec = 0

        def _open():
            nonlocal buf, tf, n_rec
            buf = io.BytesIO()
            tf = tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT)
            n_rec = 0

        def _close():
            nonlocal part
            tf.close()
            data = buf.getvalue()
            name = (
                f"shard-{shard:05d}.tar"
                if part == 0 and n_rec == len(pdf)
                else f"shard-{shard:05d}-part{part:03d}.tar"
            )
            tmp = os.path.join(out_dir, f".{name}.tmp")
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, os.path.join(out_dir, name))
            rows.append((f"{shard:05d}", os.path.join(out_dir, name), n_rec, len(data)))
            part += 1

        _open()
        for row in pdf.itertuples(index=False):
            meta = {"w": int(row.w), "h": int(row.h), "phash": int(row.phash)}
            for c in extra:
                meta[c] = float(getattr(row, c))
            payload = bytes(row.bytes)
            caption = str(row.caption).encode("utf-8")
            mjson = json.dumps(
                meta, sort_keys=True, separators=(",", ":")
            ).encode()
            k = row.image_id
            # skew guard: roll to a continuation tar at the byte target
            if buf.tell() > 0 and buf.tell() + len(payload) > target_shard_bytes:
                _close()
                _open()
            for name, data in (
                (f"{k}.{row.fmt}", payload),
                (f"{k}.txt", caption),
                (f"{k}.json", mjson),
            ):
                tf.addfile(_tarinfo(name, len(data)), io.BytesIO(data))
            n_rec += 1
        _close()
        return pd.DataFrame(
            rows, columns=["shard", "path", "n_records", "n_bytes"]
        )

    manifest = (
        images.withColumn(
            "_shard", F.pmod(F.xxhash64("image_id"), F.lit(n_shards))
        )
        .groupBy("_shard")
        .applyInPandas(_write, schema=MANIFEST_SCHEMA)
    )
    spark = images.sparkSession
    mpath = os.path.join(out_dir, "_manifest")
    manifest.write.mode("overwrite").parquet(mpath)
    # the data files, not the hidden ``_manifest`` root: Spark warns
    # "All paths were ignored" when handed a ``_``-prefixed directory
    parts = [
        os.path.join(mpath, f)
        for f in sorted(os.listdir(mpath)) if f.endswith(".parquet")
    ]
    return spark.read.schema(MANIFEST_SCHEMA).parquet(*parts)


READ_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def read_webdataset(spark: SparkSession, shard_dir: str) -> DataFrame:
    """Distributed WebDataset scan: one task parses whole tar shards."""

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(shard_dir)
    )

    def parse(content):
        tf = tarfile.open(fileobj=io.BytesIO(bytes(content)), mode="r")
        samples: dict[str, dict] = {}
        for m in tf.getmembers():
            stem, ext = m.name.rsplit(".", 1)
            samples.setdefault(stem, {})[ext] = tf.extractfile(m).read()
        for stem, members in samples.items():
            meta = json.loads(members.pop("json"))
            caption = members.pop("txt").decode("utf-8")
            (fmt, payload), = members.items()
            yield stem, payload, meta["w"], meta["h"], fmt, caption, meta["phash"]

    made = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    return map_rows(files, READ_SCHEMA, ("content",), made, parse)
