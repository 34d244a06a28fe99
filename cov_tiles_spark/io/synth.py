"""Deterministic synthetic image+caption corpus (FIXTURES.md §1).

Matches BASELINE.json ``input_hint``:
    (image_id: string, bytes: binary, w: int32, h: int32, fmt: string,
     caption: string, phash: int64)  + derived lon/lat.

Generation is a *distributed* job — ``spark.range(N)`` → ``mapInPandas``
(vectorized numpy per batch) — so the bench scale (500k images) never
materializes on the driver. Content is a pure function of the row id
(seed=42), so any two runs, any partitioning, and the pytest oracle all
agree byte-for-byte.

Position distribution mixes uniform coverage with 5 dense hot-spot
clusters to force the low-zoom tile skew the reference's own numbers show
(README.md:23-27 — z2-z5 are its biggest tiles), exercising the per-tile
cap (`pipeline/materialize.py`).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cov_tiles_spark.operators.images import encode_image, generate_image, phash64

SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double"
)

_ADJECTIVES = [
    "quiet", "vivid", "rainy", "golden", "späte", "blurry", "crowded",
    "misty", "šumivá", "ancient", "neon", "windy",
]
_NOUNS = [
    "harbor", "market", "straße", "bridge", "café", "forest", "skyline",
    "plaza", "河流", "lighthouse",
]

_CLUSTERS = [  # (lon, lat, sigma_deg) hot spots
    (-74.0, 40.7, 0.5),
    (2.35, 48.85, 0.4),
    (139.7, 35.7, 0.5),
    (-46.6, -23.5, 0.6),
    (77.2, 28.6, 0.5),
]

_WIDTHS = np.array([16, 32, 64], dtype=np.int32)
_HEIGHTS = np.array([16, 32, 48], dtype=np.int32)
_FMTS = ["raw", "rle", "dct40"]


def row_params(ids: np.ndarray) -> dict[str, np.ndarray]:
    """Deterministic per-id scalar attributes (shared with the oracle)."""
    ids = np.asarray(ids, dtype=np.int64)
    w = _WIDTHS[ids % 3]
    h = _HEIGHTS[(ids // 3) % 3]
    fmt_idx = (ids % 3).astype(np.int64)

    # position: 60% clustered, 40% uniform — decided by a per-id hash
    u = _hash01(ids, 1)
    cluster_pick = (_hash01(ids, 2) * len(_CLUSTERS)).astype(np.int64)
    clustered = u < 0.6
    cl = np.array(_CLUSTERS)
    base_lon = cl[cluster_pick, 0]
    base_lat = cl[cluster_pick, 1]
    sigma = cl[cluster_pick, 2]
    # Box-Muller from two more hash draws
    u1 = np.clip(_hash01(ids, 3), 1e-12, 1.0)
    u2 = _hash01(ids, 4)
    g1 = np.sqrt(-2 * np.log(u1)) * np.cos(2 * np.pi * u2)
    g2 = np.sqrt(-2 * np.log(u1)) * np.sin(2 * np.pi * u2)
    lon_c = base_lon + sigma * g1
    lat_c = base_lat + sigma * g2
    lon_u = _hash01(ids, 5) * 360.0 - 180.0
    lat_u = _hash01(ids, 6) * 170.0 - 85.0
    lon = np.where(clustered, lon_c, lon_u)
    lat = np.where(clustered, lat_c, lat_u)
    lon = np.clip(lon, -179.999, 179.999)
    lat = np.clip(lat, -85.0, 85.0)
    return {"w": w, "h": h, "fmt_idx": fmt_idx, "lon": lon, "lat": lat}


def _hash01(ids: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic uniform [0,1) from id+salt (splitmix64, mod-2^64)."""
    with np.errstate(over="ignore"):  # modular wraparound is intended
        x = ids.astype(np.uint64) + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def caption_for(i: int, lon: float, lat: float) -> str:
    return (
        f"{_ADJECTIVES[i % len(_ADJECTIVES)]} "
        f"{_NOUNS[i % len(_NOUNS)]} near ({lon:.3f},{lat:.3f})"
    )


def _gen_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = pdf["id"].to_numpy()
        p = row_params(ids)
        out_bytes = []
        out_phash = np.empty(len(ids), dtype=np.int64)
        for j, i in enumerate(ids.tolist()):
            px = generate_image(i, int(p["w"][j]), int(p["h"][j]))
            out_bytes.append(encode_image(px, _FMTS[int(p["fmt_idx"][j])]))
            out_phash[j] = phash64(px)
        captions = [
            caption_for(int(i), float(p["lon"][j]), float(p["lat"][j]))
            for j, i in enumerate(ids.tolist())
        ]
        yield pd.DataFrame(
            {
                "image_id": [f"img-{i:012d}" for i in ids.tolist()],
                "bytes": out_bytes,
                "w": p["w"].astype(np.int32),
                "h": p["h"].astype(np.int32),
                "fmt": [_FMTS[k] for k in p["fmt_idx"].tolist()],
                "caption": captions,
                "phash": out_phash,
                "lon": p["lon"],
                "lat": p["lat"],
            }
        )


def images_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus of ``n`` image+caption records."""
    partitions = partitions or max(8, n // 25_000)
    return spark.range(0, n, numPartitions=partitions).mapInPandas(
        _gen_batches, schema=SCHEMA
    )


# ---------- audio / video corpora (operators/av.py) ----------

AUDIO_SCHEMA = "asset_id string, bytes binary, sr int, fmt string"
VIDEO_SCHEMA = (
    "asset_id string, bytes binary, w int, h int, n_frames int, "
    "fps int, fmt string"
)


def audio_samples_for(i: int) -> int:
    return 4000 + (i % 5) * 1000


def video_params_for(i: int) -> tuple[int, int, int]:
    """(w, h, n_frames) for asset i."""
    return 32, 24, 8 + (i % 5) * 2


def audio_df(spark: SparkSession, n: int) -> DataFrame:
    """Distributed deterministic pcm16 audio corpus (operators/av.py)."""
    from cov_tiles_spark.operators.av import encode_audio, synth_audio

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {
                    "asset_id": [f"aud-{i:09d}" for i in ids.tolist()],
                    "bytes": [
                        encode_audio(
                            synth_audio(int(i), audio_samples_for(int(i))), "pcm16"
                        )
                        for i in ids.tolist()
                    ],
                    "sr": np.int32(16_000),
                    "fmt": "pcm16",
                }
            )

    return spark.range(0, n, numPartitions=8).mapInPandas(
        _gen, schema=AUDIO_SCHEMA
    )


def video_df(spark: SparkSession, n: int) -> DataFrame:
    """Distributed deterministic raw-frame video corpus (operators/av.py)."""
    from cov_tiles_spark.operators.av import encode_video, synth_video

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = {
                "asset_id": [], "bytes": [], "w": [], "h": [],
                "n_frames": [], "fps": [], "fmt": [],
            }
            for i in ids.tolist():
                w, h, nf = video_params_for(int(i))
                rows["asset_id"].append(f"vid-{i:09d}")
                rows["bytes"].append(encode_video(synth_video(int(i), w, h, nf), "rawv"))
                rows["w"].append(w)
                rows["h"].append(h)
                rows["n_frames"].append(nf)
                rows["fps"].append(10)
                rows["fmt"].append("rawv")
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=8).mapInPandas(
        _gen, schema=VIDEO_SCHEMA
    )
