"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, n)``: the same seed gives the
same rows, byte for byte, and a different seed shifts the id ranges and
redraws every random choice. Any integer is a seed; the id range is
picked by ``seed % ID_SLOTS``, so ids stay below 10**12 however large the
seed. The benchmark writes these tables as parquet during set-up; the
program under test only ever sees the files.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from cov_tiles_spark.io.synth import caption_for, row_params

# low-cardinality captions for the events table (the shape of the
# testdata ``events.event_type`` column)
EVENT_TYPES = ["view", "click", "share", "like", "save", "purchase", "comment", "follow"]

# words per document: long enough that a near duplicate (one word
# replaced) keeps a 5-byte-shingle Jaccard near 0.97, well above the 0.8
# dedup threshold, while breaking exact equality
DOC_WORDS = (80, 120)

# id ranges are 10**7 wide; with fewer than 10**5 of them every id stays
# below 10**12, so image ids keep their 12-digit zero padding and the
# event-position hash (id * 9973) stays far inside int64
ID_SLOTS = 99_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed % 2**64, stream])


def _id_base(seed: int, offset: int) -> int:
    return offset + (seed % ID_SLOTS) * 10_000_000


def events(seed: int, n: int) -> pd.DataFrame:
    """``(event_id, event_type)``: ``n`` distinct ids drawn from a
    seed-shifted range, so tile positions (a function of the id in the
    pipeline's ``_lon``/``_lat``) spread near-uniformly over the globe."""
    rng = _rng(seed, 1)
    base = _id_base(seed, 1_000_000)
    ids = base + np.sort(rng.choice(8 * n, size=n, replace=False)).astype(np.int64)
    kinds = np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)]
    return pd.DataFrame({"event_id": ids, "event_type": kinds})


def hot_images(seed: int, n: int) -> pd.DataFrame:
    """Image records over the hot-spot position model of
    ``io/synth.row_params`` (60% of points in 5 clusters), on a
    seed-shifted id range. Captions are unique per row (``caption_for``)."""
    ids = np.arange(n, dtype=np.int64) + _id_base(seed, 2_000_000)
    p = row_params(ids)
    caption = [
        caption_for(int(i), float(lon), float(lat))
        for i, lon, lat in zip(ids.tolist(), p["lon"].tolist(), p["lat"].tolist())
    ]
    return pd.DataFrame(
        {
            "image_id": [f"img-{i:012d}" for i in ids.tolist()],
            "caption": caption,
            "fmt": np.asarray(["raw", "rle", "dct40"], dtype=object)[p["fmt_idx"]],
            "w": p["w"].astype(np.int32),
            "h": p["h"].astype(np.int32),
            "phash": ids * 31 + 7,
            "lon": p["lon"],
            "lat": p["lat"],
        }
    )


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    syll = np.asarray(
        ["ka", "lo", "mi", "ter", "zu", "an", "ve", "ro", "shi", "po", "dan", "el",
         "qu", "is", "or", "ne", "ba", "tu", "gri", "fe"],
        dtype=object,
    )
    parts = rng.integers(0, len(syll), size=(size, 3))
    lens = rng.integers(1, 4, size)
    return np.asarray(
        ["".join(syll[row[:k]]) for row, k in zip(parts, lens)], dtype=object
    )


def documents(seed: int, n: int, planted: int) -> tuple[pd.DataFrame, set[tuple[int, int]]]:
    """``(doc_id, text)`` for ``n`` base documents plus ``planted``
    duplicates, and the planted pair set ``{(id_a, id_b)}`` with
    ``id_a < id_b``. Half of the planted copies are exact, half differ
    by one word. Each base document has at most one planted partner, so
    the planted pairs are the corpus's only near-duplicate pairs."""
    rng = _rng(seed, 3)
    vocab = _vocabulary(rng, 5000)
    base_id = _id_base(seed, 3_000_000)
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1], n)
    words = [vocab[rng.integers(0, len(vocab), k)] for k in lens.tolist()]
    texts = [" ".join(w) for w in words]
    ids = list(range(base_id, base_id + n))
    src = rng.choice(n, size=planted, replace=False)
    pairs = set()
    for j, s in enumerate(src.tolist()):
        w = words[s].copy()
        if j % 2:
            pos = int(rng.integers(0, len(w)))
            w[pos] = "x" + w[pos]
        new_id = base_id + n + j
        ids.append(new_id)
        texts.append(" ".join(w))
        pairs.add((base_id + s, new_id))
    order = rng.permutation(len(ids))
    df = pd.DataFrame(
        {"doc_id": np.asarray(ids, np.int64)[order],
         "text": np.asarray(texts, dtype=object)[order]}
    )
    return df, pairs


def digest(df: pd.DataFrame) -> str:
    """Content digest of a generated table (column names and values)."""
    h = hashlib.sha256()
    for name in df.columns:
        h.update(name.encode())
        h.update(pd.util.hash_pandas_object(df[name], index=False).to_numpy().tobytes())
    return h.hexdigest()
