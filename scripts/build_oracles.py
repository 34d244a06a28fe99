"""Independent single-node oracle tables for the driver's correctness gate.

For queries whose kernels are pandas-UDF-backed (Hilbert cells, rolling
fingerprints, MinHash/SimHash/embedding LSH), ANSI SQL cannot express the
kernel directly. Instead this script computes the *expected* output with
an independent single-node implementation (pure python / plain numpy —
no Spark, no kernel from cov_tiles_spark and never ``__spark_entry__``; the
one package import is the constants-only ``cov_tiles_spark.gate_corpus``,
the planted-corpus literals the entry's queries share) over the
sf0.01 testdata, and
writes it to ``oracles/sf0.01/<query>.parquet``. The DuckDB twin in
``__spark_entry__.oracle_sql()`` selects from that parquet, so the driver
still performs a full rows+schema+values comparison against a second
implementation — the same golden-fixture discipline used for the codec.

Regenerate with:  python scripts/build_oracles.py [sf_dir] [out_dir]

Determinism: the testdata is driver-generated and read-only; every kernel
below is seeded/deterministic, so the parquet files are reproducible
byte-for-byte from a clean checkout.
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pandas as pd

# run as a script, the repo root is not on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from cov_tiles_spark.gate_corpus import (  # noqa: E402
    BOILER_A,
    BOILER_B,
    LINE_PAT,
    N_IMAGES,
    PLANT_LINE,
)

MERSENNE = (1 << 61) - 1
FNV_BASE = 1099511628211
MASK64 = (1 << 64) - 1


# ---------------------------------------------------------------- inputs

def load(sf_dir: str, name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/{name}.parquet")


def planted_docs(sf_dir: str) -> pd.DataFrame:
    d = load(sf_dir, "documents")[["doc_id", "text"]]
    p = d.copy()
    p["doc_id"] = p["doc_id"] + 1_000_000
    return pd.concat([d, p], ignore_index=True)


def planted_embs(sf_dir: str) -> pd.DataFrame:
    e = load(sf_dir, "embeddings")[["vec_id", "embedding"]]
    p = e.copy()
    p["vec_id"] = p["vec_id"] + 1_000_000
    return pd.concat([e, p], ignore_index=True)


# ------------------------------------------------------------- kernels
# Each is written from the operator's *definition*, not its code: plain
# loops / per-row numpy, no whole-batch reduceat/factorize machinery.

def hilbert_xy2d_scalar(bits: int, x: int, y: int) -> int:
    """Classic iterative Hilbert xy->d (public-domain Wikipedia form)."""
    rx = ry = 0
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        # rotate
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def q_hilbert_cells(sf_dir: str) -> pd.DataFrame:
    ev = load(sf_dir, "events")
    k = ev["event_id"].to_numpy(np.int64)
    lon = ((k * 9973) % 3600) / 10.0 - 180.0 + 0.05
    lat = ((k * 7919) % 1600) / 10.0 - 80.0 + 0.05
    mx = (lon + 180.0) / 360.0
    my = 0.5 - np.log(np.tan(math.pi / 4.0 + np.radians(lat) / 2.0)) / (2.0 * math.pi)
    n = 1 << 13
    gx = np.clip((mx * n).astype(np.int64), 0, n - 1)
    gy = np.clip((my * n).astype(np.int64), 0, n - 1)
    cells = [hilbert_xy2d_scalar(13, int(a), int(b)) for a, b in zip(gx, gy)]
    out = (
        pd.Series(cells, name="cell", dtype="int64")
        .value_counts()
        .rename_axis("cell")
        .reset_index(name="n_points")
        .sort_values("cell", ignore_index=True)
    )
    out["n_points"] = out["n_points"].astype("int64")
    return out


def hex_cell_scalar(mx: float, my: float, edge: float) -> int:
    """Pointy-top axial hex binning with cube rounding — plain scalar math
    (the operator definition; see spatial/cells.py docstring for the H3
    res-9 edge-length derivation)."""
    q = (math.sqrt(3.0) / 3.0 * mx - my / 3.0) / edge
    r = (2.0 / 3.0 * my) / edge
    x, z = q, r
    y = -x - z
    rx, ry, rz = round(x), round(y), round(z)
    dx, dy, dz = abs(rx - x), abs(ry - y), abs(rz - z)
    if dx > dy and dx > dz:
        rx = -ry - rz
    elif dz > dy:
        rz = -rx - ry
    off = 1 << 24
    return ((int(rx) + off) << 25) | (int(rz) + off)


def q_h3_cells(sf_dir: str) -> pd.DataFrame:
    ev = load(sf_dir, "events")
    k = ev["event_id"].to_numpy(np.int64)
    lon = ((k * 9973) % 3600) / 10.0 - 180.0 + 0.05
    lat = ((k * 7919) % 1600) / 10.0 - 80.0 + 0.05
    mx = (lon + 180.0) / 360.0
    my = 0.5 - np.log(np.tan(math.pi / 4.0 + np.radians(lat) / 2.0)) / (2.0 * math.pi)
    edge = 174.4 / 40_075_017.0
    cells = [hex_cell_scalar(float(a), float(b), edge) for a, b in zip(mx, my)]
    out = (
        pd.Series(cells, name="cell", dtype="int64")
        .value_counts()
        .rename_axis("cell")
        .reset_index(name="n_points")
        .sort_values("cell", ignore_index=True)
    )
    out["n_points"] = out["n_points"].astype("int64")
    return out


def fingerprint_scalar(text: str) -> int:
    """Horner polynomial hash mod 2^64 over lowercased-alnum utf-8 bytes."""
    h = 0
    for b in "".join(ch for ch in text.lower() if ch.isalnum()).encode("utf-8"):
        h = (h * FNV_BASE + b) & MASK64
    # two's-complement int64 view
    return h - (1 << 64) if h >= (1 << 63) else h


def q_doc_fingerprint(sf_dir: str) -> pd.DataFrame:
    d = load(sf_dir, "documents")
    return pd.DataFrame(
        {
            "doc_id": d["doc_id"].astype("int64"),
            "fp": [fingerprint_scalar(t) for t in d["text"]],
        }
    ).sort_values("doc_id", ignore_index=True)


def shingle_set(text: str, shingle: int = 5) -> np.ndarray:
    b = text.encode("utf-8")
    if len(b) < shingle:
        return np.zeros(1, dtype=np.uint64)
    hs = set()
    for i in range(len(b) - shingle + 1):
        h = 0
        for c in b[i : i + shingle]:
            h = (h * FNV_BASE + c) & MASK64
        hs.add(h)
    return np.fromiter(hs, dtype=np.uint64, count=len(hs))


def _minhash_sigs(texts) -> np.ndarray:
    """64-perm MinHash signatures (same seeded permutations as the
    operator, independent code)."""
    rng = np.random.default_rng(42)
    a = rng.integers(1, MERSENNE, 64, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, MERSENNE, 64, dtype=np.int64).astype(np.uint64)
    sigs = np.empty((len(texts), 64), dtype=np.int64)
    with np.errstate(over="ignore"):
        for i, text in enumerate(texts):
            h = shingle_set(text)
            vals = (a[:, None] * h[None, :] + b[:, None]) % np.uint64(MERSENNE)
            sigs[i] = vals.min(axis=1).astype(np.int64)
    return sigs


def _minhash_pairs(
    ids: np.ndarray, sigs: np.ndarray, threshold: float,
    rows: int, bands: int, cap: int = 1024,
) -> list[tuple[int, int, float]]:
    """Banded-LSH candidate pairs with signature-agreement estimate >=
    threshold — candidates = pairs agreeing exactly on >= 1 band,
    buckets > cap members dropped (the operator's cap, applied for
    definitional parity)."""
    buckets: dict[tuple, list[int]] = {}
    for i in range(len(ids)):
        for bi in range(bands):
            key = (bi, tuple(sigs[i, bi * rows : (bi + 1) * rows]))
            buckets.setdefault(key, []).append(i)
    cand = set()
    for members in buckets.values():
        if len(members) > cap:
            continue
        for ai in range(len(members)):
            for bi_ in range(ai + 1, len(members)):
                x, y = members[ai], members[bi_]
                if ids[x] == ids[y]:
                    continue
                cand.add((x, y) if ids[x] < ids[y] else (y, x))
    out = []
    for x, y in cand:
        est = float((sigs[x] == sigs[y]).sum()) / 64.0
        if est >= threshold:
            out.append((int(ids[x]), int(ids[y]), est))
    return out


def q_minhash_dedup(sf_dir: str, threshold: float = 0.9) -> pd.DataFrame:
    corpus = planted_docs(sf_dir)
    ids = corpus["doc_id"].to_numpy(np.int64)
    sigs = _minhash_sigs(list(corpus["text"]))
    # threshold 0.9 -> 8 rows x 8 bands (operator band rule)
    out = _minhash_pairs(ids, sigs, threshold, rows=8, bands=8)
    return pd.DataFrame(
        out, columns=["id_a", "id_b", "jaccard_est"]
    ).sort_values(["id_a", "id_b"], ignore_index=True)


def fnv1a(tok: str) -> int:
    h = 0xCBF29CE484222325
    for c in tok.encode("utf-8"):
        h = ((h ^ c) * 0x100000001B3) & MASK64
    return h


def simhash_scalar(text: str) -> int:
    toks = text.split()
    if not toks:
        return 0
    sums = [0] * 64
    for t in toks:
        h = fnv1a(t)
        for j in range(64):
            sums[j] += 1 if (h >> j) & 1 else -1
    w = 0
    for j in range(64):
        if sums[j] > 0:
            w |= 1 << j
    return w - (1 << 64) if w >= (1 << 63) else w


def q_simhash_dedup(sf_dir: str, max_hamming: int = 3) -> pd.DataFrame:
    """Brute-force all-pairs Hamming (the banded operator has *exact*
    recall for <= max_hamming by pigeonhole, so its output equals this)."""
    corpus = planted_docs(sf_dir)
    ids = corpus["doc_id"].to_numpy(np.int64)
    sh = np.array([simhash_scalar(t) for t in corpus["text"]], dtype=np.int64)
    x = sh.view(np.uint64)
    # still the brute-force all-pairs definition — only the popcount is
    # a byte-table lookup instead of bin(int(v)).count('1'), which made
    # the row loop O(n^2) *python-string* work (hours at the sf1 corpus)
    pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    out = []
    for i in range(len(ids)):
        d = np.bitwise_xor(x[i], x[i + 1 :])
        ham = pop8[d.view(np.uint8).reshape(-1, 8)].sum(axis=1)
        for j in np.flatnonzero(ham <= max_hamming):
            pa, pb = int(ids[i]), int(ids[i + 1 + j])
            if pa == pb:
                continue
            lo, hi = (pa, pb) if pa < pb else (pb, pa)
            out.append((lo, hi, int(ham[j])))
    return (
        pd.DataFrame(out, columns=["id_a", "id_b", "hamming"])
        .drop_duplicates(["id_a", "id_b"])
        .sort_values(["id_a", "id_b"], ignore_index=True)
    )


def q_embedding_near_dups(sf_dir: str, threshold: float = 0.999) -> pd.DataFrame:
    corpus = planted_embs(sf_dir)
    ids = corpus["vec_id"].to_numpy(np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in corpus["embedding"]])
    rng = np.random.default_rng(42)
    planes = rng.normal(size=(16, 64)).astype(np.float64)
    bits = (mat @ planes.T) > 0
    sig = np.zeros(len(ids), dtype=np.int64)
    for j in range(16):
        sig |= bits[:, j].astype(np.int64) << j
    norms = np.linalg.norm(mat, axis=1)
    out = []
    order = np.argsort(sig, kind="stable")
    s = 0
    while s < len(order):
        e = s
        while e < len(order) and sig[order[e]] == sig[order[s]]:
            e += 1
        members = order[s:e]
        if len(members) <= 1024:
            for ai in range(len(members)):
                for bi in range(ai + 1, len(members)):
                    x, y = int(members[ai]), int(members[bi])
                    cos = float(mat[x] @ mat[y] / (norms[x] * norms[y]))
                    if cos >= threshold and ids[x] != ids[y]:
                        lo, hi = sorted((int(ids[x]), int(ids[y])))
                        out.append((lo, hi))
        s = e
    return (
        pd.DataFrame(sorted(set(out)), columns=["id_a", "id_b"])
        .astype("int64")
    )


# ---------------------------------------------------- q_image_invariants
# Scalar single-node image stack for the input_hint corpus. The *corpus
# synthesis* expressions (row_params hashes, generate_image noise, DCT
# matrix formula) are the corpus/format definition and are replicated
# verbatim so both engines see the same input; the *kernels under test*
# (byte-RLE codec, payload assembly, hash packing, Hamming distance,
# PSNR inequality, md5) are independent scalar implementations.

_IMG_WIDTHS = [16, 32, 64]
_IMG_HEIGHTS = [16, 32, 48]
_IMG_FMTS = ["raw", "rle", "dct40"]
_IMG_ADJ = [
    "quiet", "vivid", "rainy", "golden", "späte", "blurry", "crowded",
    "misty", "šumivá", "ancient", "neon", "windy",
]
_IMG_NOUN = [
    "harbor", "market", "straße", "bridge", "café", "forest", "skyline",
    "plaza", "河流", "lighthouse",
]
_IMG_CLUSTERS = [
    (-74.0, 40.7, 0.5),
    (2.35, 48.85, 0.4),
    (139.7, 35.7, 0.5),
    (-46.6, -23.5, 0.6),
    (77.2, 28.6, 0.5),
]


def _img_hash01(ids: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 -> [0,1) (corpus definition, io/synth.py _hash01)."""
    with np.errstate(over="ignore"):
        x = ids.astype(np.uint64) + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _img_lonlat(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    u = _img_hash01(ids, 1)
    pick = (_img_hash01(ids, 2) * len(_IMG_CLUSTERS)).astype(np.int64)
    cl = np.array(_IMG_CLUSTERS)
    u1 = np.clip(_img_hash01(ids, 3), 1e-12, 1.0)
    u2 = _img_hash01(ids, 4)
    g1 = np.sqrt(-2 * np.log(u1)) * np.cos(2 * np.pi * u2)
    g2 = np.sqrt(-2 * np.log(u1)) * np.sin(2 * np.pi * u2)
    lon_c = cl[pick, 0] + cl[pick, 2] * g1
    lat_c = cl[pick, 1] + cl[pick, 2] * g2
    lon_u = _img_hash01(ids, 5) * 360.0 - 180.0
    lat_u = _img_hash01(ids, 6) * 170.0 - 85.0
    lon = np.where(u < 0.6, lon_c, lon_u)
    lat = np.where(u < 0.6, lat_c, lat_u)
    return np.clip(lon, -179.999, 179.999), np.clip(lat, -85.0, 85.0)


def _img_generate(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic pixels (corpus definition, operators/images.py)."""
    rng = np.random.default_rng(42 + i)
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack(
        [
            (xx * 255 / max(w - 1, 1)),
            (yy * 255 / max(h - 1, 1)),
            ((xx + yy) * 255 / max(w + h - 2, 1)),
        ],
        axis=-1,
    )
    noise = rng.normal(0, 12, (h, w, 3))
    phase = rng.uniform(0, 2 * np.pi)
    wave = 40 * np.sin(2 * np.pi * xx / max(w, 1) * rng.integers(1, 4) + phase)
    return np.clip(base + noise + wave[..., None], 0, 255).astype(np.uint8)


def _img_dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    m[0] = np.sqrt(1.0 / n)
    return m


def _scalar_byte_rle(data: bytes) -> bytes:
    """Independent scalar ORC byte-RLE encoder (runs>=3, literal chunks)."""
    n = len(data)
    if n == 0:
        return b""
    if n <= 2:
        return bytes([256 - n]) + data
    out = bytearray()
    lits = bytearray()

    def flush() -> None:
        i = 0
        while i < len(lits):
            chunk = lits[i : i + 128]
            out.append(256 - len(chunk))
            out.extend(chunk)
            i += 128
        lits.clear()

    i = 0
    while i < n:
        j = i
        while j < n and data[j] == data[i]:
            j += 1
        ln = j - i
        if ln >= 3:
            flush()
            rem = ln
            while rem >= 3:
                run = min(rem, 130)
                out.append(run - 3)
                out.append(data[i])
                rem -= run
            if rem:
                lits.extend(data[j - rem : j])
        else:
            lits.extend(data[i:j])
        i = j
    flush()
    return bytes(out)


def _scalar_dct40_encode(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    padded = np.zeros((ph, pw, 3), dtype=np.float64)
    padded[:h, :w] = px
    m = _img_dct_matrix(8)
    parts = []
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for c in range(3):
                blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, c]
                q = np.round((m @ blk @ m.T) / 6.0).astype(np.int16)
                parts.append(q.tobytes())
    return b"".join(parts)


def _scalar_dct40_decode(data: bytes, w: int, h: int) -> np.ndarray:
    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    q = np.frombuffer(data, dtype=np.int16).reshape(ph // 8, pw // 8, 3, 8, 8)
    m = _img_dct_matrix(8)
    padded = np.empty((ph, pw, 3), dtype=np.float64)
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for c in range(3):
                padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, c] = (
                    m.T @ (q[by, bx, c].astype(np.float64) * 6.0) @ m
                )
    return np.clip(np.round(padded), 0, 255).astype(np.uint8)[:h, :w]


def _scalar_phash(px: np.ndarray) -> int:
    """Scalar 64-bit DCT phash: same luma/DCT expressions as the format
    definition; median/threshold/packing done with plain python ints."""
    h, w, _ = px.shape
    gray = px @ np.array([0.299, 0.587, 0.114])
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    luma = gray[np.ix_(ys, xs)]
    m = _img_dct_matrix(32)
    coef = m @ luma @ m.T
    block = [float(coef[r, c]) for r in range(8) for c in range(8)]
    med = float(np.median(np.array(block[1:])))
    word = 0
    for k in range(1, 64):
        if block[k] > med:
            word |= 1 << k
    if word >= 1 << 63:
        word -= 1 << 64
    return word


def q_image_invariants(sf_dir: str) -> pd.DataFrame:
    import hashlib

    lon, lat = _img_lonlat(np.arange(N_IMAGES, dtype=np.int64))
    rows = []
    for i in range(N_IMAGES):
        w = _IMG_WIDTHS[i % 3]
        h = _IMG_HEIGHTS[(i // 3) % 3]
        fmt = _IMG_FMTS[i % 3]
        px = _img_generate(i, w, h)
        caption = (
            f"{_IMG_ADJ[i % len(_IMG_ADJ)]} "
            f"{_IMG_NOUN[i % len(_IMG_NOUN)]} near "
            f"({float(lon[i]):.3f},{float(lat[i]):.3f})"
        )
        phash = _scalar_phash(px)
        if fmt == "raw":
            payload = px.tobytes()
            decoded = px
        elif fmt == "rle":
            payload = _scalar_byte_rle(px.reshape(-1).tobytes())
            decoded = px
        else:
            payload = _scalar_dct40_encode(px)
            decoded = _scalar_dct40_decode(payload, w, h)
        re_ph = _scalar_phash(decoded)
        a = re_ph & ((1 << 64) - 1)
        b = phash & ((1 << 64) - 1)
        dist = bin(a ^ b).count("1")
        lossy = _scalar_dct40_decode(_scalar_dct40_encode(decoded), w, h)
        sq = int(((decoded.astype(np.int64) - lossy.astype(np.int64)) ** 2).sum())
        npx = decoded.size
        rows.append(
            (
                f"img-{i:012d}", fmt, w, h, caption, phash, dist,
                hashlib.md5(payload).hexdigest(), sq, npx,
                sq * 10_000 <= 255 * 255 * npx,
            )
        )
    df = pd.DataFrame(
        rows,
        columns=[
            "image_id", "fmt", "w", "h", "caption", "phash", "phash_dist",
            "payload_md5", "sq_err", "n_subpx", "psnr40_ok",
        ],
    )
    return df.astype(
        {
            "w": "int32", "h": "int32", "phash": "int64",
            "phash_dist": "int32", "sq_err": "int64", "n_subpx": "int64",
            "psnr40_ok": "bool",
        }
    )


# ---------------------------------------------------- q_phash_dedup


def q_phash_dedup(sf_dir: str, max_hamming: int = 3) -> pd.DataFrame:
    """Brute-force all-pairs Hamming over the image corpus phashes +
    planted near-dups (the banded operator has exact recall for
    <= max_hamming by pigeonhole, so its output equals this).

    Planted row per image id i: id + 1_000_000, phash with j < i%4 bits
    flipped at positions (7i + 13j) % 64 — the corpus definition shared
    with __spark_entry__.q_phash_dedup. The phash itself comes from the
    independent scalar stack (_img_generate + _scalar_phash)."""
    ids = []
    ph = []
    for i in range(N_IMAGES):
        w = _IMG_WIDTHS[i % 3]
        h = _IMG_HEIGHTS[(i // 3) % 3]
        p = _scalar_phash(_img_generate(i, w, h))
        ids.append(i)
        ph.append(p)
        mask = 0
        for j in range(i % 4):
            mask |= 1 << ((i * 7 + j * 13) % 64)
        pu = (p & MASK64) ^ mask
        ids.append(i + 1_000_000)
        ph.append(pu - (1 << 64) if pu >= (1 << 63) else pu)
    ida = np.array(ids, dtype=np.int64)
    x = np.array(ph, dtype=np.int64).view(np.uint64)
    pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    out = []
    for i in range(len(ida)):
        d = np.bitwise_xor(x[i], x[i + 1 :])
        ham = pop8[d.view(np.uint8).reshape(-1, 8)].sum(axis=1)
        for j in np.flatnonzero(ham <= max_hamming):
            pa, pb = int(ida[i]), int(ida[i + 1 + j])
            lo, hi = (pa, pb) if pa < pb else (pb, pa)
            out.append((lo, hi, int(ham[j])))
    return (
        pd.DataFrame(out, columns=["id_a", "id_b", "hamming"])
        .drop_duplicates(["id_a", "id_b"])
        .sort_values(["id_a", "id_b"], ignore_index=True)
        .astype("int64")
    )


# ------------------------------------------- q_token_counts_bpe (scalar)

_JAVA_WS = set(" \t\n\x0b\f\r")  # Java regex \s is the ASCII class
_CONTRACTIONS = ("'s", "'t", "'re", "'ve", "'m", "'ll", "'d")


def _bpe_token_count_scalar(s: str) -> int:
    """Hand-rolled scanner emulating the BPE pre-tokenizer pattern's
    alternation semantics (contractions, then optional-space letter /
    numeric / other runs, then ASCII-whitespace runs) — independent of
    any regex engine. \\p{L} == str.isalpha (categories L*), \\p{N} ==
    str.isnumeric (Nd/Nl/No)."""
    def is_l(c): return c.isalpha()
    def is_n(c): return c.isnumeric()
    def is_ws(c): return c in _JAVA_WS
    def is_other(c): return not (is_ws(c) or is_l(c) or is_n(c))

    i, n, count = 0, len(s), 0
    while i < n:
        hit = False
        for suf in _CONTRACTIONS:
            if s.startswith(suf, i):
                i += len(suf)
                count += 1
                hit = True
                break
        if hit:
            continue
        k = i + 1 if s[i] == " " else i
        for pred in (is_l, is_n, is_other):
            if k < n and pred(s[k]):
                k += 1
                while k < n and pred(s[k]):
                    k += 1
                i = k
                count += 1
                hit = True
                break
        if hit:
            continue
        # whitespace run (also catches a trailing lone space)
        k = i + 1
        while k < n and is_ws(s[k]):
            k += 1
        i = k
        count += 1
    return count


def q_token_counts_bpe(sf_dir: str) -> pd.DataFrame:
    d = load(sf_dir, "documents")
    return pd.DataFrame(
        {
            "doc_id": d["doc_id"].astype("int64"),
            "n_bpe_tokens": [
                _bpe_token_count_scalar(t) for t in d["text"]
            ],
        }
    ).astype({"n_bpe_tokens": "int64"}).sort_values("doc_id", ignore_index=True)


# --------------------------------------------------- q_resize (scalar)

def _scalar_resize(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Independent area-mean resize: per output pixel, an explicit python
    double loop summing its source box (exact integer floor average)."""
    h, w, _ = px.shape
    out = np.empty((out_h, out_w, 3), dtype=np.uint8)
    for oy in range(out_h):
        y0, y1 = (oy * h) // out_h, ((oy + 1) * h) // out_h
        for ox in range(out_w):
            x0, x1 = (ox * w) // out_w, ((ox + 1) * w) // out_w
            for c in range(3):
                s = 0
                for y in range(y0, y1):
                    for x in range(x0, x1):
                        s += int(px[y, x, c])
                out[oy, ox, c] = s // ((y1 - y0) * (x1 - x0))
    return out


def q_resize(sf_dir: str, out_w: int = 12, out_h: int = 10) -> pd.DataFrame:
    import hashlib

    rows = []
    for i in range(300):
        w = _IMG_WIDTHS[i % 3]
        h = _IMG_HEIGHTS[(i // 3) % 3]
        fmt = _IMG_FMTS[i % 3]
        px = _img_generate(i, w, h)
        if fmt == "dct40":  # the stored payload is lossy; resize its decode
            px = _scalar_dct40_decode(_scalar_dct40_encode(px), w, h)
        small = _scalar_resize(px, out_w, out_h)
        if fmt == "raw":
            payload = small.tobytes()
        elif fmt == "rle":
            payload = _scalar_byte_rle(small.reshape(-1).tobytes())
        else:
            payload = _scalar_dct40_encode(small)
        rows.append((f"img-{i:012d}", fmt, out_w, out_h,
                     hashlib.md5(payload).hexdigest()))
    return pd.DataFrame(
        rows, columns=["image_id", "fmt", "w", "h", "resized_md5"]
    ).astype({"w": "int32", "h": "int32"})


# ---------------------------------------------- q_ngram_jaccard (scalar)

def q_ngram_jaccard(sf_dir: str, n: int = 3, threshold: float = 0.5) -> pd.DataFrame:
    """Exact 3-gram Jaccard pairs over documents + planted copies:
    independent scalar blocking (first n chars) + python set math."""
    corpus = planted_docs(sf_dir)
    ids = corpus["doc_id"].tolist()
    texts = corpus["text"].tolist()
    blocks: dict[str, list[int]] = {}
    grams: list[set] = []
    for j, t in enumerate(texts):
        g = {t[i : i + n] for i in range(max(len(t) - n + 1, 1))}
        grams.append(g)
        blocks.setdefault(t[:n], []).append(j)
    # same blocking + same |A∩B|/|A∪B| >= threshold definition; the
    # within-block pairwise loop is bit-packed (one uint8 row per doc
    # over the block's gram vocabulary, AND + popcount-table gather) —
    # the per-pair python set math was O(block^2 * |set|) interpreter
    # work, ~an hour at the sf1 corpus
    pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)
    out = []
    for members in blocks.values():
        vocab: dict[str, int] = {}
        for j in members:
            for g in grams[j]:
                vocab.setdefault(g, len(vocab))
        nb = (len(vocab) + 7) >> 3
        mat = np.zeros((len(members), nb), dtype=np.uint8)
        sizes = np.empty(len(members), dtype=np.int64)
        for r, j in enumerate(members):
            idx = np.fromiter(
                (vocab[g] for g in grams[j]), dtype=np.int64, count=len(grams[j])
            )
            np.bitwise_or.at(mat[r], idx >> 3, (1 << (idx & 7)).astype(np.uint8))
            sizes[r] = len(grams[j])
        for ai in range(len(members)):
            rest = mat[ai + 1 :]
            if not len(rest):
                continue
            inter = pop8[np.bitwise_and(rest, mat[ai])].sum(axis=1).astype(np.int64)
            union = sizes[ai] + sizes[ai + 1 :] - inter
            ok = (union > 0) & (inter >= threshold * union)
            x = members[ai]
            for bi in np.flatnonzero(ok):
                y = members[ai + 1 + bi]
                if ids[x] == ids[y]:
                    continue
                lo, hi = sorted((ids[x], ids[y]))
                out.append((lo, hi))
    return pd.DataFrame(sorted(set(out)), columns=["id_a", "id_b"]).astype("int64")


# -------------------------------------------- q_audio_features (scalar)

def _oracle_synth_audio(asset_id: int, n_samples: int, sr: int = 16_000) -> np.ndarray:
    """Corpus definition (operators/av.py synth_audio), replicated."""
    rng = np.random.default_rng(1000 + asset_id)
    t = np.arange(n_samples, dtype=np.float64) / sr
    f1 = 110.0 * (1 + (asset_id % 7))
    f2 = 523.25
    sig = 0.55 * np.sin(2 * np.pi * f1 * t) + 0.25 * np.sin(2 * np.pi * f2 * t)
    sig += rng.normal(0, 0.02, n_samples)
    lead = min(n_samples, sr // 100)
    sig[:lead] = 0.0
    return np.clip(np.round(sig * 20000.0), -32768, 32767).astype(np.int16)


def q_audio_features(sf_dir: str) -> pd.DataFrame:
    rows = []
    for i in range(300):
        n_samples = 4000 + (i % 5) * 1000
        s = _oracle_synth_audio(i, n_samples)
        peak = 0
        energy = 0
        zcr = 0
        prev_sign = None
        for v in s.tolist():
            if abs(v) > peak:
                peak = abs(v)
            energy += v * v
            if v != 0:
                sign = v > 0
                if prev_sign is not None and sign != prev_sign:
                    zcr += 1
                prev_sign = sign
        rows.append((f"aud-{i:09d}", 16_000, "pcm16", n_samples, peak, energy, zcr))
    return pd.DataFrame(
        rows,
        columns=["asset_id", "sr", "fmt", "n_samples", "peak", "energy",
                 "zero_crossings"],
    ).astype({"sr": "int32", "n_samples": "int64", "peak": "int64",
              "energy": "int64", "zero_crossings": "int64"})


# ---------------------------------------------- q_frame_sample (scalar)

def _oracle_synth_video_frame(asset_id: int, f: int, w: int, h: int) -> np.ndarray:
    """One frame via scalar loops (independent of the vectorized synth —
    the frame content is pure integer arithmetic on pixel coordinates)."""
    shift = (asset_id * 3 + f * 5) % 256
    px = np.empty((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            px[y, x, 0] = (x * 255 // max(w - 1, 1) + shift) % 256
            px[y, x, 1] = (y * 255 // max(h - 1, 1) + 2 * shift) % 256
            px[y, x, 2] = ((x + y) * 255 // max(w + h - 2, 1) + 3 * shift) % 256
    return px


def q_frame_sample(sf_dir: str, k: int = 4) -> pd.DataFrame:
    rows = []
    for i in range(200):
        w, h, nf = 32, 24, 8 + (i % 5) * 2
        kk = min(k, nf)
        idx = [(j * nf) // kk for j in range(kk)]
        acc = 0
        for f in idx:
            ph = _scalar_phash(_oracle_synth_video_frame(i, f, w, h))
            acc ^= ph & ((1 << 64) - 1)
        if acc >= 1 << 63:
            acc -= 1 << 64
        rows.append((f"vid-{i:09d}", w, h, nf, "rawv", kk, acc))
    return pd.DataFrame(
        rows,
        columns=["asset_id", "w", "h", "n_frames", "fmt", "frames_sampled",
                 "frame_phash_xor"],
    ).astype({"w": "int32", "h": "int32", "n_frames": "int32",
              "frames_sampled": "int32", "frame_phash_xor": "int64"})


def q_decontaminate(sf_dir: str, n: int = 13) -> pd.DataFrame:
    """Scalar 13-word-gram contamination flags (operators/decontam.py
    twin): FNV-1a word hashes, base-1000000007 polynomial n-gram hashes,
    all mod 2^64 in plain python ints — integer-exact."""
    FNV, OFF, P, M = 1099511628211, 14695981039346656037, 1000000007, 1 << 64

    def word_hash(w: str) -> int:
        h = OFF
        for b in w.encode("utf-8"):
            h = ((h ^ b) * FNV) % M
        return h

    def ngrams(text: str) -> set[int]:
        wh = [word_hash(w) for w in text.lower().split()]
        out = set()
        for s in range(len(wh) - n + 1):
            acc = 0
            for h in wh[s : s + n]:
                acc = (acc * P + h) % M
            out.add(acc)
        return out

    d = load(sf_dir, "documents")[["doc_id", "text"]]
    bench: set[int] = set()
    for _, row in d[d["doc_id"] % 50 == 0].iterrows():
        bench |= ngrams(row["text"])
    corpus = planted_docs(sf_dir)
    flags = [
        bool(ngrams(t) & bench) for t in corpus["text"]
    ]
    out = pd.DataFrame(
        {"doc_id": corpus["doc_id"].astype("int64"), "is_contaminated": flags}
    )
    return out.sort_values("doc_id", ignore_index=True)


def q_dup_clusters(sf_dir: str) -> pd.DataFrame:
    """Union-find closure of the independently-computed minhash pair set
    over the planted corpus (operators/cluster.py twin: large/small-star
    connected components must equal path-compressed union-find)."""
    pairs = q_minhash_dedup(sf_dir)[["id_a", "id_b"]]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    corpus = planted_docs(sf_dir)
    ids = corpus["doc_id"].astype("int64")
    cluster = [find(int(i)) if int(i) in parent else int(i) for i in ids]
    out = pd.DataFrame({"doc_id": ids, "cluster": cluster})
    out["is_canonical"] = out["doc_id"] == out["cluster"]
    return out.sort_values("doc_id", ignore_index=True).astype(
        {"doc_id": "int64", "cluster": "int64"}
    )




# --------------------------------------------------- q_bpe_train (scalar)

def _bpe_train_py(sf_dir: str):
    """Independent BPE trainer: plain dict/Counter loops over the
    distinct-word counts, 40 merges, ties (freq DESC, left ASC,
    right ASC) — no Spark, no cov_tiles_spark kernel. Returns
    (merge rows, final per-word symbol state): the state after all
    merges IS the sequential-replay tokenization of every corpus word,
    which the encode oracle reuses directly."""
    from collections import Counter

    d = load(sf_dir, "documents")
    wc: Counter = Counter()
    for t in d["text"]:
        for w in str(t).lower().split():
            wc[w] += 1
    words = {w: (list(w), n) for w, n in wc.items()}

    rows = []
    for rank in range(1, 41):
        pairs: Counter = Counter()
        for syms, n in words.values():
            for a, b in zip(syms[:-1], syms[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        (left, right), freq = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if freq < 2:
            break
        rows.append((rank, left, right, freq))
        merged = left + right
        for w, (syms, n) in words.items():
            if left not in syms:
                continue
            res, i, m = [], 0, len(syms)
            while i < m:
                if i + 1 < m and syms[i] == left and syms[i + 1] == right:
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            words[w] = (res, n)
    return rows, words


def q_bpe_train(sf_dir: str) -> pd.DataFrame:
    rows, _ = _bpe_train_py(sf_dir)
    return pd.DataFrame(
        rows, columns=["rank", "left", "right", "freq"]
    ).astype({"rank": "int32", "freq": "int64"})


def q_bpe_encode(sf_dir: str) -> pd.DataFrame:
    """Corpus tokenization with the learned merges, by sequential
    replay: the trainer's final per-word symbol state is exactly each
    word's token sequence, so per-doc counts are a dict-lookup walk —
    structurally nothing like the Spark side's greedy lowest-rank
    apply + explode/join/rollup."""
    _, words = _bpe_train_py(sf_dir)
    d = load(sf_dir, "documents")
    n_tok, n_dis = [], []
    for t in d["text"]:
        toks: list[str] = []
        for w in str(t).lower().split():
            toks.extend(words[w][0])
        n_tok.append(len(toks))
        n_dis.append(len(set(toks)))
    return pd.DataFrame(
        {
            "doc_id": d["doc_id"].astype("int64"),
            "n_tokens": n_tok,
            "n_distinct_tokens": n_dis,
        }
    ).astype({"n_tokens": "int64", "n_distinct_tokens": "int64"}).sort_values(
        "doc_id", ignore_index=True
    )



def q_semantic_dedup(
    sf_dir: str, k: int = 8, iters: int = 10, threshold: float = 0.95,
    block: int = 4096,
) -> pd.DataFrame:
    """Independent numpy twin of operators/semdedup.semantic_dedup with
    the gate's parameters: id-ordered training sample (whole corpus at
    gate scale), deterministic farthest-point-init spherical k-means,
    nearest-centroid assignment, then per-cluster "drop iff an earlier
    id in the cluster has cosine >= threshold" with the SAME row-block
    schedule so the float64 comparisons are bit-identical."""
    emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    planted = emb.assign(vec_id=emb["vec_id"] + 1_000_000)  # exact copies
    emb = pd.concat([emb, planted], ignore_index=True)
    emb = emb.sort_values("vec_id", ignore_index=True)
    ids = emb["vec_id"].to_numpy(np.int64)
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    # --- train (sample = all rows, already id-ordered) ---
    norms = np.linalg.norm(m, axis=1)
    mt = m[norms > 0] / norms[norms > 0, None]
    chosen = [0]
    best = mt @ mt[0]
    for _ in range(1, k):
        nxt = int(np.argmin(best))
        chosen.append(nxt)
        best = np.maximum(best, mt @ mt[nxt])
    cents = mt[chosen].copy()
    for _ in range(iters):
        assign = np.argmax(mt @ cents.T, axis=1)
        for c in range(k):
            mem = mt[assign == c]
            if len(mem):
                v = mem.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    # --- assign every row (zero-norm rows divide by 1, like the op) ---
    an = norms.copy()
    an[an == 0] = 1.0
    list_id = np.argmax((m / an[:, None]) @ cents.T, axis=1).astype(np.int32)
    # --- per-cluster prune, id-sorted, block schedule as the op ---
    kept = np.ones(len(ids), dtype=bool)
    for c in np.unique(list_id):
        sel = np.flatnonzero(list_id == c)  # ids already sorted
        mc = m[sel] / an[sel, None]
        n = len(sel)
        for s in range(0, n, block):
            e = min(s + block, n)
            sims = mc[s:e] @ mc[:e].T
            earlier = np.arange(s, e)[:, None] > np.arange(e)[None, :]
            kept[sel[s:e]] = ~((sims >= threshold) & earlier).any(axis=1)
    return pd.DataFrame(
        {"vec_id": ids, "list_id": list_id, "is_kept": kept}
    ).astype({"vec_id": "int64", "list_id": "int32", "is_kept": "bool"})


def _exact_span_py(rows: list[tuple[int, str]], k: int) -> list[tuple]:
    """ExactSubstr span-dedup twin core, keyed on EXACT token k-tuples
    (no hashing at all) — stronger than the operator's 122-bit rolling
    hash: a hash collision in operators/spandedup.py would fail the
    gate.  Returns (id, clean_text, n_tokens, n_removed) per input row."""
    sites: dict[tuple, list] = {}
    toks = {}
    for did, text in rows:
        tk = text.split()
        toks[did] = tk
        for pos in range(len(tk) - k + 1):
            sites.setdefault(tuple(tk[pos:pos + k]), []).append((did, pos))
    rm: dict[int, list] = {}
    for occ in sites.values():
        if len(occ) >= 2:
            keeper = min(occ)
            for s in occ:
                if s != keeper:
                    rm.setdefault(s[0], []).append(s[1])
    out = []
    for did, _ in rows:
        tk = toks[did]
        merged: list[list[int]] = []
        for p in sorted(rm.get(did, [])):
            if merged and p <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], p + k)
            else:
                merged.append([p, p + k])
        kept, cur = [], 0
        for s, e in merged:
            kept.extend(tk[cur:s])
            cur = max(cur, e)
        kept.extend(tk[cur:])
        out.append((did, " ".join(kept), len(tk), len(tk) - len(kept)))
    return out


def q_span_dedup(sf_dir: str, k: int = 8) -> pd.DataFrame:
    d = load(sf_dir, "documents")
    rows = []
    for did, text in zip(d["doc_id"], d["text"]):
        t = text
        if did % 20 == 0:
            t += " " + BOILER_A
        if did % 7 == 0:
            t += " " + BOILER_B
        rows.append((int(did), t))
    out = _exact_span_py(rows, k)
    return pd.DataFrame(
        out, columns=["doc_id", "clean_text", "n_tokens", "n_removed"]
    ).astype({"doc_id": "int64", "n_tokens": "int64", "n_removed": "int64"})


def q_text_pipeline(sf_dir: str) -> pd.DataFrame:
    """Composition twin for pipeline/textstack.py: the C4-clean, span-
    dedup, MinHash+union-find stages chained from the SAME independent
    kernels the per-stage gates use (_exact_span_py, _minhash_sigs/
    _minhash_pairs, the q_dup_clusters union-find rule)."""
    import re

    d = load(sf_dir, "documents")
    # corpus construction mirrors __spark_entry__.q_text_pipeline:
    # near-dup copies (+1M ids, every 6th token perturbed), boilerplate
    # spans, 12-token line structure, planted global duplicate line
    rows = []
    for did, text in zip(d["doc_id"], d["text"]):
        rows.append((int(did), str(text)))
        if did % 10 == 0:
            toks = str(text).split(" ")
            pert = " ".join(
                "qq" if i % 6 == 5 else t for i, t in enumerate(toks)
            )
            rows.append((int(did) + 1_000_000, pert))
    line_re = re.compile(LINE_PAT)
    corpus = []
    for did, text in rows:
        t = text
        if did % 20 == 0:
            t += " " + BOILER_A
        if did % 7 == 0:
            t += " " + BOILER_B
        s = line_re.sub(lambda m: m.group(1) + "\n", t)
        if did % 5 == 0:
            s += "\n" + PLANT_LINE
        corpus.append((did, s))

    # stage 1: C4 clean (min 4 words/line, badword 'slow', global dedup)
    keeper: dict[str, tuple[int, int]] = {}
    doc_lines: dict[int, list[tuple[int, str]]] = {}
    for did, s in corpus:
        kept = []
        for idx, line in enumerate(s.split("\n")):
            ws = line.split(" ")
            if len(ws) < 4 or "slow" in ws:
                continue
            kept.append((idx, line))
            cur = keeper.get(line)
            if cur is None or (did, idx) < cur:
                keeper[line] = (did, idx)
        doc_lines[did] = kept
    cleaned = [
        (did, "\n".join(
            ln for idx, ln in doc_lines[did] if keeper[ln] == (did, idx)
        ))
        for did, _ in corpus
    ]

    # stage 2: span dedup k=8, then the min-10-token floor
    spanned = _exact_span_py(cleaned, k=8)
    survivors = [
        (did, clean, n_tok - n_rm)
        for did, clean, n_tok, n_rm in spanned
        if n_tok - n_rm >= 10
    ]

    # stage 3: minhash pairs (threshold 0.7 -> 4 rows x 16 bands per the
    # operator band rule) + union-find canonicalization, keep canonical
    ids = np.array([did for did, _, _ in survivors], dtype=np.int64)
    sigs = _minhash_sigs([c for _, c, _ in survivors])
    prs = _minhash_pairs(ids, sigs, threshold=0.7, rows=4, bands=16)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in prs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = [
        (did, clean, n_tok, did)
        for did, clean, n_tok in survivors
        if find(did) == did
    ]
    return pd.DataFrame(
        out, columns=["doc_id", "text", "n_tokens", "cluster"]
    ).sort_values("doc_id", ignore_index=True).astype(
        {"doc_id": "int64", "n_tokens": "int64", "cluster": "int64"}
    )


def q_pack_bins(
    sf_dir: str, max_len: int = 128, num_shards: int = 8, seed: int = 0
) -> pd.DataFrame:
    """Independent next-fit packing twin (operators/packing.py
    pack_bins): own hash replica, own sequential replay.  Token count
    uses the same space-count arithmetic as the q_token_counts gate."""
    ring = 1 << 31

    def hsh(key: int) -> int:
        x0 = ((key % ring) + ring) % ring
        x = (x0 + (seed * 2_654_435_769 + 1) % ring) % ring
        h1 = (x * 2654435761 + 1) % ring
        h2 = h1 ^ (h1 >> 15)
        return (h2 * 2246822519) % ring

    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    shards: dict[int, list] = {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        n = 0 if len(text.strip()) == 0 else text.count(" ") + 1
        if n <= 0:
            continue
        h = hsh(int(did))
        shards.setdefault(h % num_shards, []).append((h, int(did), n))
    rows = []
    for sh in sorted(shards):
        seq = fill = pos = 0
        for _, did, ln in sorted(shards[sh]):
            if ln > max_len:
                if fill > 0:
                    seq += 1
                rows.append((did, sh, seq, 0, ln, True))
                seq += 1
                fill = pos = 0
                continue
            if fill + ln > max_len:
                seq += 1
                fill = pos = 0
            rows.append((did, sh, seq, pos, ln, False))
            fill += ln
            pos += 1
    return pd.DataFrame(
        rows,
        columns=["doc_id", "shard", "seq", "seq_pos", "n_tokens", "oversize"],
    ).sort_values("doc_id", ignore_index=True).astype(
        {
            "doc_id": "int64", "shard": "int32", "seq": "int64",
            "seq_pos": "int32", "n_tokens": "int64", "oversize": "bool",
        }
    )


def q_webdataset_roundtrip(sf_dir: str) -> pd.DataFrame:
    """Expectation for the WebDataset shard sink→source roundtrip: the
    same independent scalar image stack as q_image_invariants, reduced
    to the read surface (payload md5 + metadata fields)."""
    df = q_image_invariants(sf_dir)
    return df[["image_id", "payload_md5", "w", "h", "fmt", "caption", "phash"]]


def q_quality_classifier(sf_dir: str) -> pd.DataFrame:
    """Independent twin of operators/classifier.py's logistic-regression
    quality filter: same counting-only features, same standardization,
    same 25 batch-GD iterations in plain numpy float64 (no Spark, no
    cov_tiles_spark kernel). Hyperparameters are duplicated ON PURPOSE
    (gate-corpora convention, see CLAUDE.md): change both or the gate
    fails."""
    docs = load(sf_dir, "documents").sort_values("doc_id").reset_index(drop=True)
    texts = docs["text"].tolist()
    n_chars = np.array([len(t) for t in texts], dtype=np.float64)
    nmax = np.maximum(n_chars, 1.0)
    f_len = n_chars / 1000.0
    f_punct = np.array(
        [sum(t.count(c) for c in ",.;:!?") for t in texts], dtype=np.float64
    ) / nmax
    f_space = np.array([t.count(" ") for t in texts], dtype=np.float64) / nmax
    f_stop = np.array(
        [(" " + t.lower() + " ").count(" the ") for t in texts], dtype=np.float64
    ) / nmax
    X = np.stack([f_len, f_punct, f_space, f_stop], axis=1)
    y = (docs["lang"] == "en").to_numpy().astype(np.float64)

    means = X.mean(axis=0)
    stds = X.std(axis=0)
    stds = np.where(stds > 1e-12, stds, 1.0)  # same epsilon rule as Spark side
    Xs = (X - means) / stds
    bias, w = 0.0, np.zeros(X.shape[1])
    lr, l2 = 0.5, 1e-3
    for _ in range(25):
        p = 1.0 / (1.0 + np.exp(-(bias + Xs @ w)))
        err = p - y
        bias -= lr * err.mean()
        w -= lr * ((err[:, None] * Xs).mean(axis=0) + l2 * w)
    prob = 1.0 / (1.0 + np.exp(-(bias + Xs @ w)))
    return pd.DataFrame(
        {
            "doc_id": docs["doc_id"].astype("int64"),
            "label": y.astype("int32"),
            "prob": np.round(prob, 4),
        }
    )


def q_heavy_hitters_bound(
    sf_dir: str, k: int = 5, capacity: int = 16, chunk: int = 4096
) -> pd.DataFrame:
    """Sequential replay of the q_heavy_hitters_bound gate: the derived
    zipf item stream depends only on the global non-empty-token count N
    (item = 1000 div ((rn mod 1000) + 1), rn = 1..N in (doc_id, pos)
    order), so the twin recomputes N, replays batched Misra-Gries in
    fixed `chunk`-row batches to get the decrement total B from scratch,
    recounts the surviving candidates exactly, and asserts the
    certificate (k-th count > B > 0) independently of the Spark side."""
    docs = load(sf_dir, "documents")[["doc_id", "text"]]
    n_tokens = int(
        sum(sum(1 for t in text.split(" ") if t != "") for text in docs["text"])
    )
    rn = np.arange(1, n_tokens + 1, dtype=np.int64)
    items = 1000 // ((rn % 1000) + 1)
    counts: dict = {}
    bound = 0
    for i in range(0, n_tokens, chunk):
        vals, cnts = np.unique(items[i : i + chunk], return_counts=True)
        for v, c in zip(vals.tolist(), cnts.tolist()):
            counts[v] = counts.get(v, 0) + c
        overflow = len(counts) - capacity
        if overflow > 0:
            delta = sorted(counts.values())[overflow - 1]
            bound += delta
            counts = {v: c - delta for v, c in counts.items() if c > delta}
    vals, cnts = np.unique(items, return_counts=True)
    exact = {
        int(v): int(c) for v, c in zip(vals, cnts) if int(v) in counts
    }
    top = sorted(exact.items(), key=lambda t: (-t[1], t[0]))[:k]
    assert bound > 0, bound
    assert len(top) == k and top[-1][1] > bound, (top, bound)
    return pd.DataFrame(
        {
            "item": np.array([t[0] for t in top], dtype=np.int64),
            "cnt": np.array([t[1] for t in top], dtype=np.int64),
            "bound": np.full(k, bound, dtype=np.int64),
        }
    )


# ------------------------------------------------- geometry generalization
#
# Independent twins of cov_tiles_spark/spatial/generalize.py. The synthesis
# literals (hash constants, vertex counts, octagon template, clip box) are
# duplicated from __spark_entry__.q_simplify_lines / q_clip_polygons ON
# PURPOSE — this module must not import the entry. The kernels are written
# from the shared spec, not from the Spark module: recursive DP over exact
# Fraction distances (vs iterative stack over scaled integers) and
# Fraction-based round-half-up clipping (vs divmod integer rounding).

_GEN_M31 = 1 << 31
_GEN_DIRS = ((2, 0), (1, 1), (0, 2), (-1, 1), (-2, 0), (-1, -1), (0, -2), (1, -1))


def _gen_h(eid: int, i: int) -> int:
    return (eid * 40503 + i * 2654435761) % _GEN_M31


def _dp_recursive(xs: list, ys: list, tol: int) -> list:
    """Recursive Douglas-Peucker returning kept indices (twin kernel).

    Spec: segment (not infinite-line) distance; the FIRST lowest-index
    farthest point splits; split iff dist > tol strictly. Distances are
    exact `Fraction`s so the comparison is drift-free.
    """
    from fractions import Fraction

    n = len(xs)
    if n <= 2:
        return list(range(n))

    def seg_d2(k: int, i: int, j: int) -> "Fraction":
        ax, ay, bx, by, px, py = xs[i], ys[i], xs[j], ys[j], xs[k], ys[k]
        dx, dy = bx - ax, by - ay
        l2 = dx * dx + dy * dy
        if l2 == 0:
            return Fraction((px - ax) ** 2 + (py - ay) ** 2)
        t = Fraction((px - ax) * dx + (py - ay) * dy, l2)
        if t <= 0:
            return Fraction((px - ax) ** 2 + (py - ay) ** 2)
        if t >= 1:
            return Fraction((px - bx) ** 2 + (py - by) ** 2)
        cross = dx * (py - ay) - dy * (px - ax)
        return Fraction(cross * cross, l2)

    kept = set()

    def rec(i: int, j: int) -> None:
        kept.add(i)
        kept.add(j)
        if j <= i + 1:
            return
        best_k, best = -1, Fraction(0)
        for k in range(i + 1, j):
            d2 = seg_d2(k, i, j)
            if d2 > best:
                best, best_k = d2, k
        if best_k >= 0 and best > tol * tol:
            rec(i, best_k)
            rec(best_k, j)

    rec(0, n - 1)
    return sorted(kept)


def _sh_clip(xs: list, ys: list, x0: int, y0: int, x1: int, y1: int):
    """Sutherland-Hodgman twin: Fraction interpolation, round-half-up."""
    from fractions import Fraction

    pts = list(zip(xs, ys))
    for axis, bound, sign in ((0, x0, 1), (0, x1, -1), (1, y0, 1), (1, y1, -1)):
        if not pts:
            break
        out = []
        prev = pts[-1]
        prev_in = sign * prev[axis] >= sign * bound
        for cur in pts:
            cur_in = sign * cur[axis] >= sign * bound
            if cur_in != prev_in:
                f = Fraction(
                    prev[1 - axis] * (cur[axis] - bound)
                    - cur[1 - axis] * (prev[axis] - bound),
                    cur[axis] - prev[axis],
                )
                # round to nearest, ties toward +infinity
                ov = math.floor(f + Fraction(1, 2))
                out.append((bound, ov) if axis == 0 else (ov, bound))
            if cur_in:
                out.append(cur)
            prev, prev_in = cur, cur_in
        pts = out
    dedup = []
    for p in pts:
        if not dedup or p != dedup[-1]:
            dedup.append(p)
    if len(dedup) >= 2 and dedup[0] == dedup[-1]:
        dedup.pop()
    if len(dedup) < 3:
        return [], []
    return [p[0] for p in dedup], [p[1] for p in dedup]


_GEN_D16 = ((4, 0), (4, 2), (3, 3), (2, 4), (0, 4), (-2, 4), (-3, 3), (-4, 2),
            (-4, 0), (-4, -2), (-3, -3), (-2, -4), (0, -4), (2, -4), (3, -3),
            (4, -2))


def _simplify_ring_twin(xs, ys, tol):
    """Ring-DP twin: same anchor spec (vertex 0 + FIRST farthest vertex,
    two open-path DPs, union of keeps), but over the independent
    Fraction-exact recursive DP."""
    n = len(xs)
    if n < 3:
        return [], []
    d = [(xs[i] - xs[0]) ** 2 + (ys[i] - ys[0]) ** 2 for i in range(n)]
    k = d.index(max(d))
    if d[k] == 0:
        return [], []
    keep = set(_dp_recursive(xs[: k + 1], ys[: k + 1], tol))
    wrap = _dp_recursive(xs[k:] + [xs[0]], ys[k:] + [ys[0]], tol)
    keep |= {(k + i) % n for i in wrap}
    idx = sorted(keep)
    if len(idx) < 3:
        return [], []
    return [xs[i] for i in idx], [ys[i] for i in idx]


def q_simplify_rings(sf_dir: str, tol: int = 12) -> pd.DataFrame:
    ev = load(sf_dir, "events")
    rows = []
    for eid in ev["event_id"].astype(int):
        cx = (eid * 48271) % 4096
        cy = (eid * 69621) % 4096
        xs = [cx + _GEN_D16[i][0] * (24 + _gen_h(eid, i) % 7) for i in range(16)]
        ys = [cy + _GEN_D16[i][1] * (24 + _gen_h(eid, i) % 7) for i in range(16)]
        sx, sy = _simplify_ring_twin(xs, ys, tol)
        n = len(sx)
        area2 = sum(
            sx[i] * sy[(i + 1) % n] - sx[(i + 1) % n] * sy[i] for i in range(n)
        ) if n >= 3 else 0
        rows.append((eid, 16, n, area2, _gen_ck(sx, sy)))
    return pd.DataFrame(
        rows, columns=["event_id", "n_in", "n_out", "area2", "ck"]
    ).astype("int64").sort_values("event_id", ignore_index=True)


def _clip_seg_twin(a, b, x0, y0, x1, y1):
    """Segment-to-box twin: same successive half-plane spec as the ring
    clipper, Fraction interpolation with round-half-up."""
    from fractions import Fraction

    for axis, bound, sign in ((0, x0, 1), (0, x1, -1), (1, y0, 1), (1, y1, -1)):
        a_in = sign * a[axis] >= sign * bound
        b_in = sign * b[axis] >= sign * bound
        if not a_in and not b_in:
            return None
        if a_in and b_in:
            continue
        f = Fraction(
            a[1 - axis] * (b[axis] - bound) - b[1 - axis] * (a[axis] - bound),
            b[axis] - a[axis],
        )
        ov = math.floor(f + Fraction(1, 2))
        p = (bound, ov) if axis == 0 else (ov, bound)
        if a_in:
            b = p
        else:
            a = p
    return a, b


def _clip_polyline_twin(xs, ys, x0, y0, x1, y1):
    """Part-chaining twin of clip_polyline: per-segment clip, chain while
    the joint vertex survives intact, drop point-degenerate segments."""
    parts, cur = [], []
    for i in range(len(xs) - 1):
        seg = _clip_seg_twin(
            (xs[i], ys[i]), (xs[i + 1], ys[i + 1]), x0, y0, x1, y1
        )
        if seg is None or seg[0] == seg[1]:
            if len(cur) >= 2:
                parts.append(cur)
            cur = []
            continue
        a, b = seg
        if cur and cur[-1] == a:
            cur.append(b)
        else:
            if len(cur) >= 2:
                parts.append(cur)
            cur = [a, b]
    if len(cur) >= 2:
        parts.append(cur)
    return parts


def q_clip_lines(sf_dir: str) -> pd.DataFrame:
    ev = load(sf_dir, "events")
    rows = []
    for eid in ev["event_id"].astype(int):
        m = 6 + eid % 11
        off = 400 if eid % 17 == 0 else 0
        xs = [i * 56 - 64 + _gen_h(eid, i) % 32 for i in range(m)]
        ys = [(_gen_h(eid, i) >> 5) % 384 - 64 + off for i in range(m)]
        for p, part in enumerate(_clip_polyline_twin(xs, ys, 0, 0, 256, 256)):
            px = [v[0] for v in part]
            py = [v[1] for v in part]
            rows.append((eid, p, m, len(px), _gen_ck(px, py)))
    return pd.DataFrame(
        rows, columns=["event_id", "part", "n_in", "n_pts", "ck"]
    ).astype("int64").sort_values(["event_id", "part"], ignore_index=True)


def _gen_ck(xs: list, ys: list) -> int:
    return sum((i + 1) * (3 * x + 7 * y) for i, (x, y) in enumerate(zip(xs, ys)))


def _merge_twin(frags):
    """Greedy endpoint chaining twin (deque-based second implementation
    of the spec in spatial/generalize.py merge_fragments: input order,
    first-registered live end wins, start-match before end-match,
    consumed joints deleted, no chain-chain joins)."""
    from collections import deque

    chains = []  # (deque of (x, y), [frag_count])
    live = {}    # coord -> (chain_idx, is_tail)

    for xs, ys in frags:
        pts = [(x, y) for x, y in zip(xs, ys)]
        where = live.get(pts[0])
        if where is None:
            where = live.get(pts[-1])
            if where is not None:
                pts.reverse()
        if where is None:
            ci = len(chains)
            chains.append((deque(pts), [1]))
            if pts[0] not in live:
                live[pts[0]] = (ci, False)
            if pts[-1] not in live:
                live[pts[-1]] = (ci, True)
            continue
        ci, is_tail = where
        dq, cnt = chains[ci]
        del live[pts[0]]
        if is_tail:
            dq.extend(pts[1:])
        else:
            dq.extendleft(pts[1:])
        far = pts[-1]
        if far not in live:
            live[far] = (ci, is_tail)
        cnt[0] += 1
    return [([p[0] for p in dq], [p[1] for p in dq], cnt[0])
            for dq, cnt in chains]


def q_merge_lines(sf_dir: str) -> pd.DataFrame:
    ev = load(sf_dir, "events")
    groups: dict = {}
    for eid in ev["event_id"].astype(int):
        m = 8 + eid % 25
        xs = [i * 100 + _gen_h(eid, i) % 37 for i in range(m)]
        ys = [(eid % 97) * 64 + ((_gen_h(eid, i) >> 7) % 64) for i in range(m)]
        c = j = 0
        while c < m - 1 and j < 16:
            k = 2 + _gen_h(eid, 100 + j) % 3
            end = min(c + k, m - 1)
            order = (_gen_h(eid, 200 + j) << 26) + ((eid >> 8) << 5) + j
            groups.setdefault(eid % 256, []).append(
                (order, xs[c:end + 1], ys[c:end + 1])
            )
            c, j = end, j + 1
    rows = []
    for g in sorted(groups):
        frags = [(xs, ys) for _, xs, ys in sorted(groups[g])]
        for chain, (cx, cy, nf) in enumerate(_merge_twin(frags)):
            rows.append((g, chain, nf, len(cx), _gen_ck(cx, cy)))
    return pd.DataFrame(
        rows, columns=["g", "chain", "n_frags", "n_pts", "ck"]
    ).astype("int64").sort_values(["g", "chain"], ignore_index=True)


def q_simplify_lines(sf_dir: str, tol: int = 16) -> pd.DataFrame:
    ev = load(sf_dir, "events")
    rows = []
    for eid in ev["event_id"].astype(int):
        m = 8 + eid % 25
        xs = [i * 100 + _gen_h(eid, i) % 37 for i in range(m)]
        ys = [(_gen_h(eid, i) >> 7) % 64 for i in range(m)]
        idx = _dp_recursive(xs, ys, tol)
        sx = [xs[i] for i in idx]
        sy = [ys[i] for i in idx]
        rows.append((eid, m, len(sx), _gen_ck(sx, sy)))
    return pd.DataFrame(
        rows, columns=["event_id", "n_in", "n_out", "ck"]
    ).astype("int64").sort_values("event_id", ignore_index=True)


def q_clip_polygons(sf_dir: str) -> pd.DataFrame:
    ev = load(sf_dir, "events")
    rows = []
    for eid in ev["event_id"].astype(int):
        cx = (eid * 48271) % 384 - 64
        cy = (eid * 69621) % 384 - 64
        xs = [cx + _GEN_DIRS[i][0] * (16 + _gen_h(eid, i) % 48) for i in range(8)]
        ys = [cy + _GEN_DIRS[i][1] * (16 + _gen_h(eid, i) % 48) for i in range(8)]
        ox, oy = _sh_clip(xs, ys, 0, 0, 256, 256)
        n = len(ox)
        area2 = sum(
            ox[i] * oy[(i + 1) % n] - ox[(i + 1) % n] * oy[i] for i in range(n)
        ) if n >= 3 else 0
        rows.append((eid, 8, n, area2, _gen_ck(ox, oy)))
    return pd.DataFrame(
        rows, columns=["event_id", "n_in", "n_out", "area2", "ck"]
    ).astype("int64").sort_values("event_id", ignore_index=True)


ORACLES = {
    "q_hilbert_cells": q_hilbert_cells,
    "q_simplify_lines": q_simplify_lines,
    "q_clip_polygons": q_clip_polygons,
    "q_clip_lines": q_clip_lines,
    "q_merge_lines": q_merge_lines,
    "q_simplify_rings": q_simplify_rings,
    "q_heavy_hitters_bound": q_heavy_hitters_bound,
    "q_h3_cells": q_h3_cells,
    "q_doc_fingerprint": q_doc_fingerprint,
    "q_minhash_dedup": q_minhash_dedup,
    "q_simhash_dedup": q_simhash_dedup,
    "q_embedding_near_dups": q_embedding_near_dups,
    "q_image_invariants": q_image_invariants,
    "q_webdataset_roundtrip": q_webdataset_roundtrip,
    "q_phash_dedup": q_phash_dedup,
    "q_audio_features": q_audio_features,
    "q_frame_sample": q_frame_sample,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_resize": q_resize,
    "q_token_counts_bpe": q_token_counts_bpe,
    "q_dup_clusters": q_dup_clusters,
    "q_decontaminate": q_decontaminate,
    "q_bpe_train": q_bpe_train,
    "q_bpe_encode": q_bpe_encode,
    "q_semantic_dedup": q_semantic_dedup,
    "q_span_dedup": q_span_dedup,
    "q_pack_bins": q_pack_bins,
    "q_text_pipeline": q_text_pipeline,
    "q_quality_classifier": q_quality_classifier,
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "oracles", f"sf{sf}")
    )
    os.makedirs(out_dir, exist_ok=True)
    only = set(sys.argv[3:])
    for name, fn in ORACLES.items():
        if only and name not in only:
            continue
        df = fn(sf_dir)
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        print(f"{name}: {len(df)} rows -> {path}")


if __name__ == "__main__":
    main()
