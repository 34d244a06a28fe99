"""Driver contract for the spark-graft builder (PySpark target).

Each gate is a ``q_*`` DataFrame query over the testdata tables,
one per implemented operator family from SURVEY.md §2, declared with
``@gate(sql)``: ``sql`` is the ANSI-SQL twin DuckDB executes on the same
parquet. ``queries()`` and ``oracle_sql()`` read that one registry.
Column names/types are aliased identically on both sides; float
aggregates are rounded (4-6 dp) so last-ulp summation-order differences
between engines can't flip the value hash.

Spatial queries derive deterministic lon/lat from integer keys with
engine-portable modular arithmetic (events carry no coordinates), then run
the same web-mercator math on both sides.
"""

from __future__ import annotations

import atexit
import math
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# deterministic lon/lat from an integer key (same formula in SQL)
def _lon(key):
    return ((key * 9973) % 3600) / F.lit(10.0) - F.lit(180.0) + F.lit(0.05)


def _lat(key):
    return ((key * 7919) % 1600) / F.lit(10.0) - F.lit(80.0) + F.lit(0.05)


_LON_SQL = "((({k} * 9973) % 3600) / 10.0 - 180.0 + 0.05)"
_LAT_SQL = "((({k} * 7919) % 1600) / 10.0 - 80.0 + 0.05)"


def _merc_x(lon):
    return (lon + F.lit(180.0)) / F.lit(360.0)


def _merc_y(lat):
    return (
        F.lit(0.5)
        - F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / F.lit(2.0)))
        / F.lit(2.0 * math.pi)
    )


# constant-folded HLL alpha_m * m^2 * 2^32 (operators/sketch.py) — repr()
# round-trips the exact double, so both engines divide by the same value
from cov_tiles_spark.operators.sketch import ALPHA_NUM as _HLL_ALPHA  # noqa: E402

# optimizer-proof constant window partition key for by-design
# single-partition windows (post-limit ranks, sequential streams):
# F.lit(0) is folded away and the unpartitioned-window warning fires
from cov_tiles_spark.operators import single_partition_key as _spk  # noqa: E402

# planted gate-corpus literals, shared with the oracle twins
from cov_tiles_spark.gate_corpus import (  # noqa: E402
    BOILER_A,
    BOILER_B,
    LINE_PAT,
    N_IMAGES,
    PLANT_LINE,
)


def _hash_sql(key: str, seed: int) -> str:
    """SQL twin of operators/sampling.sample_hash — exact int64
    arithmetic on the 2^31 ring, engine-portable (see the module
    docstring for why two multiply rounds + xorshift)."""
    off = (seed * 2_654_435_769 + 1) % (1 << 31)
    h1 = (
        f"(((((({key}) % 2147483648) + 2147483648) % 2147483648"
        f" + {off}) % 2147483648) * 2654435761 + 1) % 2147483648"
    )
    return f"((xor(({h1}), ({h1}) >> 15) * 2246822519) % 2147483648)"


_MX_SQL = "(({lon} + 180.0) / 360.0)"
_MY_SQL = "(0.5 - ln(tan(pi() / 4.0 + radians({lat}) / 2.0)) / (2.0 * pi()))"


# ------------------------------------------------ SQL shared by the twins

_LON_E = _LON_SQL.format(k="event_id")
_LAT_E = _LAT_SQL.format(k="event_id")
_MX_E = _MX_SQL.format(lon=_LON_E)
_MY_E = _MY_SQL.format(lat=_LAT_E)
# Gates whose pandas-UDF kernels no ANSI SQL can express read committed
# parquet built by the independent single-node twin in
# scripts/build_oracles.py (no Spark, no cov_tiles_spark kernel), pinned
# to the gate's sf0.01 data; COV_ORACLE_DIR points at another scale's
# build (scripts/check_oracles.py sets it when oracles/<sf> exists)
_ORACLE_DIR = os.environ.get("COV_ORACLE_DIR") or os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "oracles", "sf0.01"
)

_Z = 6
_EXTENT = 4096
_N = 1 << _Z
_LO = _EXTENT * 7 // 16
_HI = _EXTENT * 9 // 16
_TILE_XY = (
    f"cast(least({_N - 1}, greatest(0, floor({_MX_E} * {_N}))) as int) as tile_x, "
    f"cast(least({_N - 1}, greatest(0, floor({_MY_E} * {_N}))) as int) as tile_y"
)
# the z2/z4/z6 feature table that every lossless tile path (gen-A and
# gen-B encode, MVT export, incremental delta) must reproduce exactly
_TILE_ENCODE_SQL = f"""
    WITH pts AS (
      SELECT event_id, event_type, {_MX_E} AS mx, {_MY_E} AS my FROM events),
    a AS (
      SELECT z, event_id, event_type, mx, my,
             cast(least(pow(2, z) - 1, greatest(0, floor(mx * pow(2, z)))) as int) AS x,
             cast(least(pow(2, z) - 1, greatest(0, floor(my * pow(2, z)))) as int) AS y
      FROM pts CROSS JOIN (SELECT unnest([2, 4, 6]) AS z))
    SELECT cast(z as int) AS z, x, y, event_id AS feature_id,
           cast(floor((mx * pow(2, z) - x) * {_EXTENT}) as int) AS local_x,
           cast(floor((my * pow(2, z) - y) * {_EXTENT}) as int) AS local_y,
           event_type AS caption, 'raw' AS fmt,
           cast(32 as bigint) AS w, cast(32 as bigint) AS h,
           (event_id * 31 + 7) AS phash
    FROM a ORDER BY z, x, y, feature_id
"""


def _lm_sql_blocks(prefix: str, where: str) -> str:
    """CTE block training a bigram stupid-backoff LM over ``documents``
    (restricted by ``where``) and scoring the shared ``spairs`` pairs —
    one block per DSIR model, same algebra as the q_lm_filter twin."""
    return f"""{prefix}toks AS (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS tok,
                       generate_subscripts(string_split(text, ' '), 1)
                           AS pos
                FROM documents {where}
            ),
            {prefix}uni AS (
                SELECT tok, count(*) AS c1 FROM {prefix}toks GROUP BY tok
            ),
            {prefix}tot AS (
                SELECT CAST(count(*) AS DOUBLE) AS t FROM {prefix}toks
            ),
            {prefix}big AS (
                SELECT a.tok AS ctx, b.tok AS tok, count(*) AS c2
                FROM {prefix}toks a JOIN {prefix}toks b
                  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                GROUP BY a.tok, b.tok
            ),
            {prefix}scored AS (
                SELECT p.doc_id,
                       CASE WHEN bg.c2 IS NOT NULL
                            THEN log10(bg.c2 / uc.c1)
                            WHEN ut.c1 IS NOT NULL
                            THEN log10(0.4 * ut.c1 /
                                       (SELECT t FROM {prefix}tot))
                            ELSE log10(0.4 * 1e-10) END AS lp
                FROM spairs p
                LEFT JOIN {prefix}big bg
                  ON p.ctx = bg.ctx AND p.tok = bg.tok
                LEFT JOIN {prefix}uni uc ON p.ctx = uc.tok
                LEFT JOIN {prefix}uni ut ON p.tok = ut.tok
            ),
            {prefix}per AS (
                SELECT doc_id, count(*) AS n, sum(lp) AS lp
                FROM {prefix}scored GROUP BY doc_id
            )"""


def _lang_id_sql() -> str:
    from cov_tiles_spark.operators.text import STOPWORDS

    def occ(word: str) -> str:
        needle = f" {word} "
        return (
            f"cast((length(padded) - length(replace(padded, '{needle}', '')))"
            f" / {len(needle)} as bigint)"
        )

    scores = ", ".join(
        "(" + " + ".join(occ(w) for w in words) + f") AS s_{lang}"
        for lang, words in STOPWORDS.items()
    )
    gmax = f"greatest({', '.join('s_' + l for l in STOPWORDS)})"
    case = "CASE " + " ".join(
        f"WHEN s_{l} > 0 AND s_{l} = {gmax} THEN '{l}'" for l in STOPWORDS
    ) + " ELSE 'und' END"
    return f"""
        SELECT doc_id, lang, {case} AS lang_pred FROM (
          SELECT doc_id, lang, {scores} FROM (
            SELECT doc_id, lang, ' ' || lower(text) || ' ' AS padded
            FROM documents))
        ORDER BY doc_id
    """


# ---------------------------------------------------------------- contract
# Registration order is source order, and it is the order of queries().
# A probe that reads only the first 50 entries must cover the gates with
# the least standing evidence, so those come first.

_GATES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {}


def gate(sql: str):
    """Register the decorated ``q_*`` query under its name, with ``sql``
    as the DuckDB twin; a second gate of the same name raises."""
    def register(fn):
        if fn.__name__ in _GATES:
            raise ValueError(f"gate {fn.__name__} is already registered")
        _GATES[fn.__name__] = (fn, sql)
        return fn
    return register


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _GATES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _GATES.items()}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: tile materialization of events-derived points."""
    return q_tile_encode(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------- gate inputs

def _gate_tmpdir(prefix: str) -> str:
    """A scratch directory for a gate's lake, removed at interpreter exit:
    the gate returns a lazy DataFrame over it, so it cannot delete it."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, True)
    return path


def _events_points(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        _lon(F.col("event_id")).alias("lon"),
        _lat(F.col("event_id")).alias("lat"),
    )


def _events_images(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.concat(F.lit("img-"), F.lpad(F.col("event_id").cast("string"), 12, "0")).alias("image_id"),
        F.col("event_type").alias("caption"),
        F.lit("raw").alias("fmt"),
        F.lit(32).alias("w"),
        F.lit(32).alias("h"),
        # portable arithmetic phash (the SQL twin must reproduce it)
        (F.col("event_id") * 31 + 7).alias("phash"),
        _lon(F.col("event_id")).alias("lon"),
        _lat(F.col("event_id")).alias("lat"),
    )


def _events_images_fast(spark, sf_dir):
    """Narrow twin of :func:`_events_images` for the tile-encode gates.

    Two results-identical optimizations (guide §2.3/§2.5):
    - ``image_id`` stays the int64 ``event_id``: the encode kernel
      parses the ``img-%012d`` string right back to int64
      (``_extract_arrays_arrow`` utf8 slice + cast), so the string build,
      its ~20 shuffle bytes/row, and the 3M-object Arrow transfer were
      pure overhead. Decoded ``feature_id`` is the same int64 either
      way, and the (z, x, y, image_id) encode sort orders int64 ids
      exactly like their zero-padded strings.
    - the 2-column events scan (a single parquet row group = one task)
      is repartitioned by key up front, so the explode/assignment map
      side of the tile exchange runs at core parallelism instead of
      single-threaded.

    Only valid where the per-tile cap cannot bind (the gate cap): with a
    binding cap the xxhash64 sample key would differ between the string
    and int64 ids and select a different subset.
    """
    e = _t(spark, sf_dir, "events").select("event_id", "event_type")
    e = e.repartition(spark.sparkContext.defaultParallelism, "event_id")
    return e.select(
        F.col("event_id").alias("image_id"),
        F.col("event_type").alias("caption"),
        F.lit("raw").alias("fmt"),
        F.lit(32).alias("w"),
        F.lit(32).alias("h"),
        (F.col("event_id") * 31 + 7).alias("phash"),
        _lon(F.col("event_id")).alias("lon"),
        _lat(F.col("event_id")).alias("lat"),
    )


# Non-binding per-tile cap for the tile GATE queries: the gate contract
# is the provably-exact setting (CLAUDE.md: approximate/capped operators
# must scale their bounds with |corpus| — the sf1 run caught the 20k
# default binding on z2 tiles and silently dropping 23% of rows vs the
# uncapped SQL twin). Cap *behavior* is pinned by pytest
# (test_cap_bounds_groups, test_precap_*) and the hotspot-skew smoke.
_GATE_CAP = 1 << 41


def _events_ids_par(spark, sf_dir):
    """events.select(event_id) at core parallelism: the single-row-group
    events parquet gives downstream synthesis + Python stages ONE scan
    task otherwise (CLAUDE.md parallelism pin; measured 30-54s -> a few
    seconds on the sf1 generalization gates). Keyed repartition:
    deterministic under retry, no sort-before-repartition."""
    return _t(spark, sf_dir, "events").select("event_id").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )


def _gen_hash(i):
    """Shared synthesis hash h(event_id, i) for the generalization gates.

    Literals duplicated in scripts/build_oracles.py ON PURPOSE (the twin
    must not import this module) — change BOTH or the gate fails on
    corpus mismatch.
    """
    return F.pmod(
        F.col("event_id") * F.lit(40503) + i * F.lit(2654435761),
        F.lit(2147483648),
    )


def _gen_ck_col(xs: str, ys: str):
    """Position-weighted integer checksum sum_i i*(3*x_i + 7*y_i), 1-based —
    order-sensitive and integer-exact, so it pins the full vertex sequence
    without shipping array columns through the hash compare."""
    agg = F.aggregate(
        F.sequence(F.lit(1), F.size(xs)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + i.cast("long")
        * (
            F.lit(3) * F.element_at(F.col(xs), i)
            + F.lit(7) * F.element_at(F.col(ys), i)
        ),
    )
    # F.sequence(1, 0) DESCENDS on empty arrays (see CLAUDE.md) — guard
    return F.when(F.size(xs) == 0, F.lit(0).cast("long")).otherwise(agg)


# ---------------------------------------- gates with the least evidence

@gate(f"""
    SELECT event_id, n_in, n_out, ck
    FROM read_parquet('{_ORACLE_DIR}/q_simplify_lines.parquet')
    ORDER BY event_id
""")
def q_simplify_lines(spark, sf_dir):
    """Integer-exact Douglas-Peucker line simplification
    (spatial/generalize.py simplify_lines — the per-zoom generalization
    step upstream of tile encode; map-only, no exchange). Input polylines
    are synthesized JVM-side from event_id (monotone-x walk with hashed
    y-jitter in [0,64), tol 16 → ~55% of vertices dropped). Oracle:
    independent recursive-DP twin over exact Fractions
    (scripts/build_oracles.py _dp_recursive)."""
    from cov_tiles_spark.spatial.generalize import simplify_lines

    ev = _events_ids_par(spark, sf_dir)
    pl = ev.select(
        "event_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(7) + F.pmod(F.col("event_id"), F.lit(25))),
            lambda i: (i * F.lit(100) + F.pmod(_gen_hash(i), F.lit(37))).cast("long"),
        ).alias("xs"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7) + F.pmod(F.col("event_id"), F.lit(25))),
            lambda i: F.pmod(F.shiftright(_gen_hash(i), 7), F.lit(64)).cast("long"),
        ).alias("ys"),
    )
    out = simplify_lines(pl, tolerance=16)
    return out.select(
        "event_id",
        F.col("n_in").cast("long").alias("n_in"),
        F.col("n_out").cast("long").alias("n_out"),
        _gen_ck_col("xs", "ys").alias("ck"),
    ).orderBy("event_id")


@gate(f"""
    SELECT event_id, n_in, n_out, area2, ck
    FROM read_parquet('{_ORACLE_DIR}/q_clip_polygons.parquet')
    ORDER BY event_id
""")
def q_clip_polygons(spark, sf_dir):
    """Sutherland-Hodgman ring clipping to a 256x256 tile box
    (spatial/generalize.py clip_rings; exact integer round-half-up
    intersections). Input rings are hashed-radius octagons centered in
    [-64, 320)^2 so the corpus mixes fully-inside, fully-outside, and
    crossing rings (~7.5% clip to empty). Oracle: independent
    Fraction-rounding twin (scripts/build_oracles.py _sh_clip)."""
    from cov_tiles_spark.spatial.generalize import clip_rings

    dirs_x = F.array(*[F.lit(v) for v in (2, 1, 0, -1, -2, -1, 0, 1)])
    dirs_y = F.array(*[F.lit(v) for v in (0, 1, 2, 1, 0, -1, -2, -1)])
    cx = F.pmod(F.col("event_id") * F.lit(48271), F.lit(384)) - F.lit(64)
    cy = F.pmod(F.col("event_id") * F.lit(69621), F.lit(384)) - F.lit(64)
    radius = lambda i: F.lit(16) + F.pmod(_gen_hash(i), F.lit(48))  # noqa: E731
    ev = _events_ids_par(spark, sf_dir)
    rings = ev.select(
        "event_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: (cx + F.element_at(dirs_x, i + 1) * radius(i)).cast("long"),
        ).alias("xs"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: (cy + F.element_at(dirs_y, i + 1) * radius(i)).cast("long"),
        ).alias("ys"),
    )
    out = clip_rings(rings, bounds=(0, 0, 256, 256))
    return out.select(
        "event_id",
        F.col("n_in").cast("long").alias("n_in"),
        F.col("n_out").cast("long").alias("n_out"),
        "area2",
        _gen_ck_col("xs", "ys").alias("ck"),
    ).orderBy("event_id")


@gate(f"""
    SELECT event_id, part, n_in, n_pts, ck
    FROM read_parquet('{_ORACLE_DIR}/q_clip_lines.parquet')
    ORDER BY event_id, part
""")
def q_clip_lines(spark, sf_dir):
    """Polyline-to-tile-box clipping with multi-part explode
    (spatial/generalize.py clip_lines — per-segment successive
    half-plane clip, parts chain while the joint vertex survives;
    map-only, the explode happens inside the Arrow batch). Corpus: walks
    crossing the 256-box left-to-right with hashed y-jumps (~56%
    multi-part, ~6% fully outside via the eid%17 +400 lift). Oracle:
    independent Fraction-rounding twin (scripts/build_oracles.py
    _clip_polyline_twin)."""
    from cov_tiles_spark.spatial.generalize import clip_lines

    off = F.when(F.pmod(F.col("event_id"), F.lit(17)) == 0, F.lit(400)).otherwise(
        F.lit(0)
    )
    ev = _events_ids_par(spark, sf_dir)
    lines = ev.select(
        "event_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(5) + F.pmod(F.col("event_id"), F.lit(11))),
            lambda i: (i * F.lit(56) - F.lit(64) + F.pmod(_gen_hash(i), F.lit(32))).cast(
                "long"
            ),
        ).alias("xs"),
        F.transform(
            F.sequence(F.lit(0), F.lit(5) + F.pmod(F.col("event_id"), F.lit(11))),
            lambda i: (
                F.pmod(F.shiftright(_gen_hash(i), 5), F.lit(384)) - F.lit(64) + off
            ).cast("long"),
        ).alias("ys"),
    )
    out = clip_lines(lines, bounds=(0, 0, 256, 256))
    return out.select(
        "event_id",
        F.col("part").cast("long").alias("part"),
        F.col("n_in").cast("long").alias("n_in"),
        F.col("n_pts").cast("long").alias("n_pts"),
        _gen_ck_col("xs", "ys").alias("ck"),
    ).orderBy("event_id", "part")


@gate("""
    WITH v AS (
      SELECT e.event_id, g.i,
             (e.event_id * 48271) % 384 - 64
               + (CASE g.i WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 0
                  WHEN 3 THEN -1 WHEN 4 THEN -2 WHEN 5 THEN -1
                  WHEN 6 THEN 0 ELSE 1 END)
               * (16 + (e.event_id * 40503 + g.i * 2654435761)
                       % 2147483648 % 48) AS x,
             (e.event_id * 69621) % 384 - 64
               + (CASE g.i WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
                  WHEN 3 THEN 1 WHEN 4 THEN 0 WHEN 5 THEN -1
                  WHEN 6 THEN -2 ELSE -1 END)
               * (16 + (e.event_id * 40503 + g.i * 2654435761)
                       % 2147483648 % 48) AS y
      FROM events e, generate_series(0, 7) AS g(i)
    ),
    pair AS (
      SELECT a.event_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      FROM v a JOIN v b
        ON a.event_id = b.event_id AND b.i = (a.i + 1) % 8
    )
    SELECT event_id,
           cast(sum(x1 * y2 - x2 * y1) as bigint) AS area2,
           cast(max(x1) - min(x1) as bigint) AS bbox_w,
           cast(max(y1) - min(y1) as bigint) AS bbox_h,
           cast(sum((x1 + x2) * (x1 * y2 - x2 * y1)) as bigint)
             AS cx_num,
           cast(sum((y1 + y2) * (x1 * y2 - x2 * y1)) as bigint)
             AS cy_num,
           abs(sum(x1 * y2 - x2 * y1)) >= 23000 AS kept
    FROM pair GROUP BY event_id ORDER BY event_id
""")
def q_ring_metrics(spark, sf_dir):
    """Per-feature geometry metrics + small-feature culling flag, pure
    JVM (spatial/generalize.py ring_area2_col / bbox_cols — F.aggregate
    shoelace over the vertex arrays, whole-stage codegen, no Python
    worker; the tippecanoe-style drop-smallest predicate is a free
    scan-time filter at 100 TB). Corpus: the q_clip_polygons octagons,
    unclipped. LIVE DuckDB twin: the synthesis is stateless per vertex
    index, so the twin recomputes every vertex from (event_id, i) via
    generate_series and aggregates the same shoelace — no oracle
    parquet, a genuine second engine-side implementation."""
    from cov_tiles_spark.spatial.generalize import (
        bbox_cols,
        ring_area2_col,
        ring_centroid_cols,
    )

    dirs_x = F.array(*[F.lit(v) for v in (2, 1, 0, -1, -2, -1, 0, 1)])
    dirs_y = F.array(*[F.lit(v) for v in (0, 1, 2, 1, 0, -1, -2, -1)])
    cx = F.pmod(F.col("event_id") * F.lit(48271), F.lit(384)) - F.lit(64)
    cy = F.pmod(F.col("event_id") * F.lit(69621), F.lit(384)) - F.lit(64)
    radius = lambda i: F.lit(16) + F.pmod(_gen_hash(i), F.lit(48))  # noqa: E731
    ev = _t(spark, sf_dir, "events").select("event_id")
    rings = ev.select(
        "event_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: (cx + F.element_at(dirs_x, i + 1) * radius(i)).cast("long"),
        ).alias("xs"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: (cy + F.element_at(dirs_y, i + 1) * radius(i)).cast("long"),
        ).alias("ys"),
    )
    w, h = bbox_cols("xs", "ys")
    area2 = ring_area2_col("xs", "ys")
    cx_num, cy_num = ring_centroid_cols("xs", "ys")
    return rings.select(
        "event_id",
        area2.alias("area2"),
        w.alias("bbox_w"),
        h.alias("bbox_h"),
        cx_num.alias("cx_num"),
        cy_num.alias("cy_num"),
        (F.abs(area2) >= 23000).alias("kept"),
    ).orderBy("event_id")


@gate(f"""
    SELECT g, chain, n_frags, n_pts, ck
    FROM read_parquet('{_ORACLE_DIR}/q_merge_lines.parquet')
    ORDER BY g, chain
""")
def q_merge_lines(spark, sf_dir):
    """Line-fragment merging (spatial/generalize.py merge_lines — the
    tippecanoe-style pre-simplify chaining of 3-5-vertex road fragments;
    ONE group-key exchange + sorted-stream mapInPandas, deterministic
    under any input partitioning because processing order is the sorted
    (group, ord) order). Corpus: each event's banded route is cut into
    fragments at hashed positions and processed in hashed order within
    group = event_id % 256; the twin replays cut + greedy chaining
    with an independent deque-based implementation
    (scripts/build_oracles.py _merge_twin)."""
    from cov_tiles_spark.spatial.generalize import merge_lines

    ev = _events_ids_par(spark, sf_dir)
    m = F.lit(8) + F.pmod(F.col("event_id"), F.lit(25))
    x_at = lambda i: (i * F.lit(100) + F.pmod(_gen_hash(i), F.lit(37))).cast("long")  # noqa: E731
    y_at = lambda i: (  # noqa: E731
        F.pmod(F.col("event_id"), F.lit(97)) * F.lit(64)
        + F.pmod(F.shiftright(_gen_hash(i), 7), F.lit(64))
    ).cast("long")
    k_at = lambda j: F.lit(2) + F.pmod(_gen_hash(F.lit(100) + j), F.lit(3))  # noqa: E731
    # cut start c_j = 2j + sum_{l<j} (k_l - 2); F.sequence(0, -1) descends,
    # so the j = 0 prefix sum is guarded (see CLAUDE.md)
    c_at = lambda j: j * F.lit(2) + F.when(  # noqa: E731
        j == 0, F.lit(0).cast("long")
    ).otherwise(
        F.aggregate(
            F.sequence(F.lit(0), j - 1),
            F.lit(0).cast("long"),
            lambda acc, l: acc + (k_at(l) - F.lit(2)).cast("long"),
        )
    )
    frags = (
        ev.select(
            "event_id",
            F.explode(F.sequence(F.lit(0), F.lit(15))).alias("j"),
        )
        .select(
            "event_id",
            "j",
            c_at(F.col("j")).alias("start"),
        )
        .where(F.col("start") < m - 1)
        .select(
            "event_id",
            "j",
            "start",
            F.least(F.col("start") + k_at(F.col("j")), m - 1).alias("end"),
        )
    )
    frags = frags.select(
        F.pmod(F.col("event_id"), F.lit(256)).alias("g"),
        (
            F.shiftleft(_gen_hash(F.lit(200) + F.col("j")), 26)
            + F.shiftleft(F.shiftright(F.col("event_id"), 8), 5)
            + F.col("j")
        ).alias("ord"),
        F.transform(
            F.sequence(F.col("start"), F.col("end")), x_at
        ).alias("xs"),
        F.transform(
            F.sequence(F.col("start"), F.col("end")), y_at
        ).alias("ys"),
    )
    out = merge_lines(frags, ["g"], "ord")
    return out.select(
        "g",
        F.col("chain").cast("long").alias("chain"),
        F.col("n_frags").cast("long").alias("n_frags"),
        F.col("n_pts").cast("long").alias("n_pts"),
        _gen_ck_col("xs", "ys").alias("ck"),
    ).orderBy("g", "chain")


@gate(f"""
    SELECT event_id, n_in, n_out, area2, ck
    FROM read_parquet('{_ORACLE_DIR}/q_simplify_rings.parquet')
    ORDER BY event_id
""")
def q_simplify_rings(spark, sf_dir):
    """Ring (polygon) Douglas-Peucker simplification
    (spatial/generalize.py simplify_rings — deterministic two-anchor
    split, map-only). Corpus: noisy 16-gons (radius 24 with hashed
    0-6 jitter; tol 12 removes ~1/3 of vertices). Output pins the full
    surviving ring via the position checksum plus the JVM shoelace of
    the simplified arrays. Oracle: anchor spec replayed over the
    independent Fraction-exact recursive DP
    (scripts/build_oracles.py _simplify_ring_twin)."""
    from cov_tiles_spark.spatial.generalize import (
        ring_area2_col,
        simplify_rings,
    )

    d16x = F.array(*[F.lit(v) for v in
                     (4, 4, 3, 2, 0, -2, -3, -4, -4, -4, -3, -2, 0, 2, 3, 4)])
    d16y = F.array(*[F.lit(v) for v in
                     (0, 2, 3, 4, 4, 4, 3, 2, 0, -2, -3, -4, -4, -4, -3, -2)])
    cx = F.pmod(F.col("event_id") * F.lit(48271), F.lit(4096))
    cy = F.pmod(F.col("event_id") * F.lit(69621), F.lit(4096))
    radius = lambda i: F.lit(24) + F.pmod(_gen_hash(i), F.lit(7))  # noqa: E731
    ev = _events_ids_par(spark, sf_dir)
    rings = ev.select(
        "event_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (cx + F.element_at(d16x, i + 1) * radius(i)).cast("long"),
        ).alias("xs"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (cy + F.element_at(d16y, i + 1) * radius(i)).cast("long"),
        ).alias("ys"),
    )
    out = simplify_rings(rings, tolerance=12)
    return out.select(
        "event_id",
        F.col("n_in").cast("long").alias("n_in"),
        F.col("n_out").cast("long").alias("n_out"),
        ring_area2_col("xs", "ys").alias("area2"),
        _gen_ck_col("xs", "ys").alias("ck"),
    ).orderBy("event_id")


@gate("""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE length(term) > 0 GROUP BY doc_id, term),
    dl AS (
      -- row-local like the Spark build (includes zero-token
      -- docs, which a sum-over-tf derivation would drop)
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> len(x) > 0)) AS DOUBLE)
               AS dl
      FROM documents),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
      FROM dl),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    q AS (
      SELECT DISTINCT doc_id AS query_id,
             unnest((string_split(text, ' '))[1:5]) AS term
      FROM documents WHERE doc_id % 50 = 7),
    qw AS (
      SELECT q.query_id, q.term,
             ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5)) AS idf
      FROM q JOIN dft USING (term) CROSS JOIN stats s),
    hits AS (
      SELECT qw.query_id, tf.doc_id,
             qw.idf * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / s.avgdl))
               AS sc
      FROM tf JOIN qw USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats s),
    scored AS (
      SELECT query_id, doc_id, sum(sc) AS score
      FROM hits GROUP BY query_id, doc_id),
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 6) DESC, doc_id) AS INT)
               AS rank
      FROM scored)
    SELECT query_id, rank, doc_id FROM ranked
    WHERE rank <= 10 ORDER BY query_id, rank
""")
def q_bm25_topk(spark, sf_dir):
    """BM25 sparse retrieval (similarity #6, lexical): distributed
    inverted index over ``documents`` + top-10 per query
    (operators/bm25.py). Queries are the first 5 tokens of every
    doc_id % 50 == 7 document (deterministic, SQL-reproducible). The
    postings scan never reshuffles — query terms with idf pre-attached
    ride a broadcast join; the only exchange is the query-hit-sized
    partial-sum aggregate. Rank key round(score, 6) + doc_id tiebreak
    (the q_cosine_topk device); the raw score stays out of the hash."""
    from cov_tiles_spark.operators.bm25 import bm25_index, bm25_topk

    d = _t(spark, sf_dir, "documents")
    # pin the index build's parallelism: the single-row-group documents
    # scan otherwise runs the explode + map-side tf combine on one task
    # (CLAUDE.md); the operator itself stays exchange-free by contract
    d_par = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    postings, df, doclen = bm25_index(d_par)
    postings = postings.persist()  # scored twice below (stats + hits)
    st = doclen.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    queries = d.filter(F.col("doc_id") % 50 == 7).select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.slice(F.split("text", " "), 1, 5)).alias("term"),
    )
    return bm25_topk(
        postings, df, queries, int(st.n), float(st.avgdl), k=10
    ).select("query_id", "rank", "doc_id").orderBy("query_id", "rank")


@gate("""
    WITH e AS (
      SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev IS NULL
                      OR us - prev > 43200000000
                 THEN 1 ELSE 0 END AS ns
      FROM e),
    sess AS (
      SELECT *, sum(ns) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           max(us) - min(us) AS duration_us,
           round(sum(value), 4) AS sum_value
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
""")
def q_session_stats(spark, sf_dir):
    """Per-SESSION stats via gap sessionization over ``events`` (12 h
    timeout; operators/sessions.py) — complements q_sessionize's
    per-user session COUNTS with the materialized sessions themselves:
    ONE exchange on user_id shared by the lag/cumsum window and the
    session aggregate; all gap
    math in exact integer microseconds (unix_micros ≡ DuckDB epoch_us),
    so only sum_value needs the round-4 float convention."""
    from cov_tiles_spark.operators.sessions import session_stats, sessionize

    ev = _t(spark, sf_dir, "events")
    return (
        session_stats(sessionize(ev, gap_sec=43_200))
        .withColumn("session_id", F.col("session_id").cast("long"))
        .orderBy("user_id", "session_id")
    )


@gate(f"""
    WITH stoks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1)
                   AS pos
        FROM documents
    ),
    spairs AS (
        SELECT a.doc_id, a.tok AS ctx, b.tok AS tok
        FROM stoks a JOIN stoks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    {_lm_sql_blocks("t", "WHERE lang = 'en'")},
    {_lm_sql_blocks("r", "")}
    SELECT d.doc_id,
           CAST(coalesce(tper.n, 0) AS BIGINT) AS n_scored,
           round(coalesce(tper.lp, 0.0) - coalesce(rper.lp, 0.0),
                 4) AS log_w,
           round(CASE WHEN coalesce(tper.n, 0) > 0
                      THEN (tper.lp - rper.lp) / tper.n
                      ELSE 0.0 END, 4) AS log_w_norm,
           round(CASE WHEN coalesce(tper.n, 0) > 0
                      THEN (tper.lp - rper.lp) / tper.n
                      ELSE 0.0 END, 4) >= 0.0 AS keep
    FROM documents d
    LEFT JOIN tper ON d.doc_id = tper.doc_id
    LEFT JOIN rper ON d.doc_id = rper.doc_id
    ORDER BY d.doc_id
""")
def q_dsir_select(spark, sf_dir):
    """DSIR-style importance weighting (operators/ngram_lm.py
    ``importance_weights``): target LM trained on the lang='en' docs,
    raw LM on the whole corpus, per-doc log10 likelihood ratio + a
    keep flag thresholding the ROUNDED per-token ratio at 0.  The
    DuckDB twin retrains BOTH models and rescores in SQL."""
    from cov_tiles_spark.operators.ngram_lm import (
        importance_weights,
        ngram_lm_counts,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text")
    target = d.filter(F.col("lang") == "en").select("doc_id", "text")
    tm = ngram_lm_counts(target, "text", "doc_id")
    rm = ngram_lm_counts(corpus, "text", "doc_id")
    w = importance_weights(corpus, tm, rm, "text", "doc_id")
    lwn = F.round("log_w_norm", 4)
    return w.select(
        "doc_id",
        "n_scored",
        F.round("log_w", 4).alias("log_w"),
        lwn.alias("log_w_norm"),
        (lwn >= 0.0).alias("keep"),
    ).orderBy("doc_id")


@gate(f"""
    SELECT doc_id, text, n_tokens, cluster
    FROM read_parquet('{_ORACLE_DIR}/q_text_pipeline.parquet')
    ORDER BY doc_id
""")
def q_text_pipeline(spark, sf_dir):
    """Capstone composition gate: the full training-data preparation
    stack (pipeline/textstack.py — C4 line cleaning -> ExactSubstr span
    dedup -> MinHash+CC near-dup canonicalization) over a corpus that
    exercises every stage: 12-token line structure, a planted global
    duplicate line (%5 docs), boilerplate passages (%20/%7 docs), and
    near-dup copies (+1M ids for %10 docs, every 6th token perturbed so
    they slip past line AND window dedup and must be caught by MinHash).
    Oracle = the same stages chained from the independent pure-python
    twin kernels in scripts/build_oracles.py."""
    from cov_tiles_spark.pipeline.textstack import prepare_text_corpus

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda x, i: F.when(i % 6 == 5, F.lit("qq")).otherwise(x),
        ),
        " ",
    )
    copies = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        perturbed.alias("text"),
    )
    raw = d.unionAll(copies)
    with_boiler = raw.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 20 == 0, F.lit(" " + BOILER_A)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" " + BOILER_B)).otherwise(F.lit("")),
        ).alias("text"),
    )
    corpus = with_boiler.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), LINE_PAT, "$1\n"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\n" + PLANT_LINE)).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = prepare_text_corpus(
        corpus, "text", "doc_id",
        min_words_per_line=4, badwords=["slow"], span_k=8,
        min_tokens_after_dedup=10, minhash_threshold=0.7,
    )
    return out.select("doc_id", "text", "n_tokens", "cluster").orderBy("doc_id")


@gate(f"""
    SELECT doc_id, label, prob
    FROM read_parquet('{_ORACLE_DIR}/q_quality_classifier.parquet')
    ORDER BY doc_id
""")
def q_quality_classifier(spark, sf_dir):
    """Learned quality filter (operators/classifier.py): logistic
    regression trained by 25 batch-GD iterations entirely through
    per-iteration JVM aggregations (k+1 avg() expressions; the driver
    holds only the weights), then scored as a pure column expression —
    no UDFs anywhere. Label: lang == 'en'; features: counting-only
    signals (exact integers both engines). The twin re-runs the SAME
    training in plain numpy (scripts/build_oracles.py — independent
    implementation, shared hyperparameters by gate-corpora convention),
    so the hash compares the full learned per-doc probabilities, not
    just the pipeline shape. Rounded to 4 dp: cross-engine drift is
    summation order inside avg(), ~1e-15 relative per iteration."""
    from cov_tiles_spark.operators.classifier import (
        logreg_score,
        logreg_train,
        quality_features,
    )

    docs = _t(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    cols = list(feats.keys())
    fdf = docs.select(
        "doc_id",
        (F.col("lang") == F.lit("en")).cast("int").alias("label"),
        *[v.alias(k) for k, v in feats.items()],
    ).cache()
    model = logreg_train(fdf, cols, "label")
    return fdf.select(
        "doc_id",
        "label",
        F.round(logreg_score(model, cols), 4).alias("prob"),
    ).orderBy("doc_id")


@gate("""
    SELECT token AS item, count(*) AS cnt
    FROM (
      SELECT unnest(string_split(text, ' ')) AS token
      FROM documents) t
    WHERE token != ''
    GROUP BY token
    ORDER BY cnt DESC, item ASC
    LIMIT 20
""")
def q_heavy_hitters(spark, sf_dir):
    """Provably-exact top-k frequent tokens
    (operators/heavyhitters.py): Misra-Gries candidate pass (map-side
    state and shuffle capped at `capacity` rows per partition —
    corpus-size-independent, unlike a full token groupBy) -> broadcast
    semi-join exact recount -> certificate that no evicted item can
    reach the top-k. Gate runs the unconditional-exactness setting
    (capacity above the distinct-token count, bound 0 — the repo's
    provably-exact contract for approximate operators; the live
    decrement path is pinned in pytest). Twin: plain split/unnest
    GROUP BY top-k in SQL with the same (cnt desc, token asc)
    tie-break."""
    from cov_tiles_spark.operators.heavyhitters import heavy_hitters_topk

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.col("text"), " ", -1)).alias("token")
    ).filter(F.col("token") != "")
    topk, bound = heavy_hitters_topk(toks, "token", 20, capacity=1 << 17)
    assert bound == 0, bound
    return topk.select("item", "cnt").orderBy(F.col("cnt").desc(), "item")


@gate(f"""
    SELECT CAST(item AS BIGINT) AS item,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(bound AS BIGINT) AS bound
    FROM read_parquet('{_ORACLE_DIR}/q_heavy_hitters_bound.parquet')
    ORDER BY cnt DESC, item ASC
""")
def q_heavy_hitters_bound(spark, sf_dir):
    """Heavy hitters with LIVE Misra-Gries decrements (bound > 0) and
    the certificate recomputed from scratch by the twin — the novel
    exactness claim, gated, not just pytest-pinned.

    The raw token stream is too flat for decrements to certify (31
    ~uniform tokens — the honest-failure regime), so the gate derives a
    deterministic integer-exact zipf stream from it: rn = global token
    position (row_number over (doc_id, pos)), item = 1000 div
    ((rn mod 1000) + 1) — item v covers ~1000/(v*(v+1)) of positions, 62
    distinct values. capacity=16 forces continuous eviction; replay
    determinism comes from one sorted partition + fixed 4096-row logical
    MG batches (batch_rows), so the twin
    (scripts/build_oracles.py mg replay — independent sequential
    implementation) reproduces the exact decrement total B, asserts the
    certificate (k-th count > B > 0) itself, and the hash compares
    (item, cnt, bound) including B. Integer division keeps every value
    engine-exact (no float pow boundaries)."""
    from pyspark.sql import Window

    from cov_tiles_spark.operators.heavyhitters import heavy_hitters_topk

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ", -1)).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    # global position over an inherently sequential stream — single
    # partition BY DESIGN (the MG replay is order-dependent); _spk keys
    # the window so the shape is declared, not a missing partitionBy
    rn = F.row_number().over(Window.partitionBy(_spk("doc_id")).orderBy("doc_id", "pos"))
    stream = (
        toks.select(rn.alias("rn"))
        .select("rn", F.expr("1000 div ((rn % 1000) + 1)").alias("item"))
        .repartition(1)
        .sortWithinPartitions("rn")
    )
    topk, bound = heavy_hitters_topk(
        stream, "item", 5, capacity=16, batch_rows=4096
    )
    assert bound > 0, bound  # the decrement path must actually run
    return topk.select(
        "item", "cnt", F.lit(bound).cast("long").alias("bound")
    ).orderBy(F.col("cnt").desc(), "item")


@gate(f"""
    SELECT vec_id, list_id, is_kept
    FROM read_parquet('{_ORACLE_DIR}/q_semantic_dedup.parquet')
    ORDER BY vec_id
""")
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style cluster-then-prune semantic dedup over the
    embeddings table: spherical k-means (8 clusters, deterministic
    id-ordered training sample), map-only assign, one list_id shuffle
    into the per-cluster blocked-cosine prune. Oracle = independent
    numpy twin parquet (scripts/build_oracles.py)."""
    from cov_tiles_spark.operators.semdedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionAll(planted)
    return semantic_dedup(
        corpus, "embedding", "vec_id", n_centroids=8, threshold=0.95
    ).select(
        F.col("id").alias("vec_id"), "list_id", "is_kept"
    ).orderBy("vec_id")


@gate(f"""
    SELECT id_a, id_b, hamming
    FROM read_parquet('{_ORACLE_DIR}/q_phash_dedup.parquet')
    ORDER BY id_a, id_b
""")
def q_phash_dedup(spark, sf_dir):
    """Perceptual-hash image near-dup pairs (image dedup; rows-only).

    The canonical image-pipeline dedup at the BASELINE.json input_hint
    shape: the ``phash:int64`` column of the image+caption corpus goes
    through the banded-Hamming operator (operators/dedup.py
    ``hamming_near_dups`` — the same distinct-signature pigeonhole core
    as SimHash text dedup, exact recall for <= max_hamming). Near-dups
    are planted per image id i as id+1_000_000 with 0..3 deterministic
    bit flips (positions (7i+13j) % 64, j < i%4 — 13 coprime to 64 so
    the positions never collide and the planted Hamming distance is
    exactly i%4). Oracle: independent scalar phash + brute-force
    all-pairs Hamming (scripts/build_oracles.py) -> committed parquet.
    """
    from cov_tiles_spark.io.synth import images_df
    from cov_tiles_spark.operators.dedup import hamming_near_dups

    imgs = images_df(spark, N_IMAGES, partitions=8)
    nid = F.substring("image_id", 5, 12).cast("long")
    orig = imgs.select(nid.alias("nid"), F.col("phash").alias("ph"))
    mask = F.lit(0).cast("long")
    for j in range(3):
        bit = F.expr(f"shiftleft(1L, cast((nid * 7 + {13 * j}) % 64 as int))")
        mask = F.when(F.col("nid") % 4 > j, mask.bitwiseOR(bit)).otherwise(mask)
    planted = orig.select(
        (F.col("nid") + 1_000_000).alias("nid"),
        F.col("ph").bitwiseXOR(mask).alias("ph"),
    )
    corpus = orig.unionAll(planted)
    return hamming_near_dups(corpus, "ph", "nid", max_hamming=3, op="phash").orderBy(
        "id_a", "id_b"
    )


# hash-sampled query set (rate 0.1, seed 5), exact top-10 by
# round(cosine, 6) with vec_id tiebreak, self excluded; per-query
# hit/precision/first-relevant-rank, averaged per query label
@gate(f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    q AS (
      SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e
      WHERE ({_hash_sql("vec_id", 5)}) < 214748364),
    ranked AS (
      SELECT qid, qlabel, e.label AS plabel,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY round(
                 list_dot_product(e.v, qv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(qv, qv))), 6) DESC,
                 e.vec_id) AS rnk
      FROM q CROSS JOIN e WHERE e.vec_id != qid),
    perq AS (
      SELECT qid, qlabel,
             max(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS hit,
             sum(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END)
               / 10.0 AS prec,
             coalesce(1.0 / min(CASE WHEN plabel = qlabel
                                     THEN rnk END), 0.0) AS rr
      FROM ranked WHERE rnk <= 10 GROUP BY qid, qlabel)
    SELECT qlabel AS label, count(*) AS n_queries,
           round(avg(hit), 6) AS recall_at_k,
           round(avg(prec), 6) AS precision_at_k,
           round(avg(rr), 6) AS mrr
    FROM perq GROUP BY qlabel ORDER BY label
""")
def q_retrieval_eval(spark, sf_dir):
    """Embedding-retrieval eval (similarity #4): label-match recall@10 /
    precision@10 / MRR per label over a deterministic hash-sampled query
    set (operators/similarity.py retrieval_eval). Exact cosine top-k,
    self excluded, broadcast queries + per-partition local top-k before
    the per-query window (the knn monoid reduction); rank key
    round(cosine, 6) + vec_id tiebreak so the DuckDB twin (same
    formulas, same integer hash sample) ranks identically."""
    from cov_tiles_spark.operators.similarity import retrieval_eval

    emb = _t(spark, sf_dir, "embeddings")
    return retrieval_eval(
        emb, "embedding", "vec_id", "label", k=10, query_rate=0.1, seed=5
    )


# hash-sampled queries (rate 0.05, seed 5); different-label
# filter BEFORE the top-k, so the rank is over negatives only
@gate(f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    q AS (
      SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e
      WHERE ({_hash_sql("vec_id", 5)}) < 107374182),
    ranked AS (
      SELECT qid, e.vec_id AS vec_id, e.label AS label,
             cast(row_number() OVER (
               PARTITION BY qid
               ORDER BY round(
                 list_dot_product(e.v, qv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(qv, qv))), 6) DESC,
                 e.vec_id) AS int) AS neg_rank
      FROM q CROSS JOIN e
      WHERE e.vec_id != qid AND e.label != qlabel)
    SELECT qid AS query_id, neg_rank, vec_id, label
    FROM ranked WHERE neg_rank <= 5 ORDER BY query_id, neg_rank
""")
def q_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining (similarity #5): per sampled
    query, the exact top-5 most-similar DIFFERENT-label embeddings
    (operators/similarity.py hard_negatives — different-label filter
    BEFORE the top-k reduction, so exact at any scale with no candidate
    shortlist). Cosine stays out of the output hash (rank determinism
    via round-6 key + id tiebreak, the q_cosine_topk device)."""
    from cov_tiles_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    return (
        hard_negatives(
            emb, "embedding", "vec_id", "label",
            k=5, query_rate=0.05, seed=5,
        )
        .select(
            "query_id", "neg_rank", F.col("id").alias("vec_id"), "label"
        )
        .orderBy("query_id", "neg_rank")
    )


@gate(f"""
    SELECT image_id, payload_md5, w, h, fmt, caption, phash
    FROM read_parquet('{_ORACLE_DIR}/q_webdataset_roundtrip.parquet')
    ORDER BY image_id
""")
def q_webdataset_roundtrip(spark, sf_dir):
    """WebDataset tar shard sink→source roundtrip (sources/shards.py):
    the input-hint image corpus is materialized into hash-sharded,
    byte-reproducible tar archives ({key}.{fmt} / {key}.txt /
    {key}.json members, the public WebDataset convention) and read back
    through the binaryFile scan. The result is the read surface —
    payload md5 + every metadata field — checked against the same
    INDEPENDENT scalar image stack that pins q_image_invariants
    (scripts/build_oracles.py), so a hash match proves write→read is
    lossless byte-for-byte AND the corpus derivation agrees with the
    oracle encoder."""
    from cov_tiles_spark.io.synth import images_df
    from cov_tiles_spark.sources.shards import read_webdataset, write_webdataset

    imgs = images_df(spark, N_IMAGES, partitions=8)
    tmp = _gate_tmpdir("wds_gate_")
    write_webdataset(imgs, tmp, target_shard_bytes=192 * 1024)
    back = read_webdataset(spark, tmp)
    return back.select(
        "image_id",
        F.md5("bytes").alias("payload_md5"),
        "w", "h", "fmt", "caption", "phash",
    ).orderBy("image_id")


@gate(f"""
    SELECT asset_id, w, h, n_frames, fmt, frames_sampled, frame_phash_xor
    FROM read_parquet('{_ORACLE_DIR}/q_frame_sample.parquet')
    ORDER BY asset_id
""")
def q_frame_sample(spark, sf_dir):
    """Video frame-sampling + per-frame fingerprinting over the
    deterministic raw-frame corpus (operators/av.py): uniform-k frame
    selection ((j*n)//k rule) and xor of the sampled frames' 64-bit
    perceptual hashes — exact integers on both engines. Oracle:
    independent scalar implementation (scripts/build_oracles.py)."""
    from cov_tiles_spark.io.synth import video_df
    from cov_tiles_spark.operators.av import frame_sample_features

    return (
        frame_sample_features(video_df(spark, 200), k=4)
        .select("asset_id", "w", "h", "n_frames", "fmt", "frames_sampled",
                "frame_phash_xor")
        .orderBy("asset_id")
    )


@gate(f"""
    SELECT image_id, fmt, w, h, resized_md5
    FROM read_parquet('{_ORACLE_DIR}/q_resize.parquet')
    ORDER BY image_id
""")
def q_resize(spark, sf_dir):
    """Image resize (multimodal op #3): every corpus image decoded,
    area-mean-resized to 12x10 (exact integer box averages via prefix
    sums), re-encoded in its own format — md5 of the resized payload
    compared against an independent scalar per-output-pixel loop
    implementation (scripts/build_oracles.py)."""
    from cov_tiles_spark.io.synth import images_df
    from cov_tiles_spark.operators.av import resize_images

    small = resize_images(images_df(spark, 300, partitions=8), 12, 10)
    return small.select(
        "image_id", "fmt", "w", "h", F.md5("bytes").alias("resized_md5")
    ).orderBy("image_id")


@gate("""
    SELECT o_orderkey, o_custkey, c_nationkey
    FROM orders JOIN customer ON o_custkey = c_custkey
    ORDER BY o_orderkey
""")
def q_salted_join(spark, sf_dir):
    """Skew-safe salted equi-join (pipeline/skew.py salted_join): orders
    x customer with the small side replicated per salt — row-identical
    to the plain join, which is exactly what the DuckDB twin runs."""
    from cov_tiles_spark.pipeline.skew import salted_join

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    return (
        salted_join(o, c, ["o_custkey"], factor=8, salt_from="o_orderkey")
        .select("o_orderkey", "o_custkey", "c_nationkey")
        .orderBy("o_orderkey")
    )


@gate(f"""
    WITH p AS (
      SELECT ts, {_LON_E} AS lon, {_LAT_E} AS lat FROM events),
    t AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start,
             4 AS z,
             cast(least(15, greatest(0, floor({_MX_SQL.format(lon="lon")} * 16))) as int) AS x,
             cast(least(15, greatest(0, floor({_MY_SQL.format(lat="lat")} * 16))) as int) AS y
      FROM p)
    SELECT win_start, z, x, y, count(*) AS n_points
    FROM t GROUP BY win_start, z, x, y
    ORDER BY win_start, x, y
""")
def q_windowed_tile_counts(spark, sf_dir):
    """Event-time tumbling-window per-tile counts — the batch twin of the
    streaming definition (streaming/windowed.py tile_counts_windowed runs
    unchanged on batch or stream; §2.9). DuckDB twin uses time_bucket."""
    from cov_tiles_spark.streaming.windowed import tile_counts_windowed

    e = _t(spark, sf_dir, "events")
    pts = e.select(
        "ts",
        _lon(F.col("event_id")).alias("lon"),
        _lat(F.col("event_id")).alias("lat"),
    )
    return tile_counts_windowed(pts, zoom=4, window_duration="1 hour").orderBy(
        "win_start", "x", "y"
    )


@gate(f"""
    WITH p AS (
      SELECT event_id, {_LON_E} AS lon, {_LAT_E} AS lat FROM events),
    b AS (
      SELECT id AS box_id,
             ({_LON_SQL.format(k="(id * 7 + 3)")} - ((id % 5) + 2)) AS lon_min,
             ({_LON_SQL.format(k="(id * 7 + 3)")} + ((id % 5) + 2)) AS lon_max,
             ({_LAT_SQL.format(k="(id * 7 + 3)")} - ((id % 3) + 1)) AS lat_min,
             ({_LAT_SQL.format(k="(id * 7 + 3)")} + ((id % 3) + 1)) AS lat_max
      FROM range(80) t(id))
    SELECT event_id, box_id
    FROM p JOIN b
      ON p.lon >= b.lon_min AND p.lon <= b.lon_max
     AND p.lat >= b.lat_min AND p.lat <= b.lat_max
    ORDER BY event_id, box_id
""")
def q_bbox_join(spark, sf_dir):
    """Range join (SURVEY §2.3 range-join row): points-in-rectangles via
    cell-binned equi-join + exact interval predicate
    (spatial/rangejoin.py bbox_join) — never a cartesian. Boxes derive
    deterministically from integer keys with the same modular arithmetic
    as the points, so the DuckDB twin is the plain interval join (the
    cell binning changes the plan, not the result)."""
    from cov_tiles_spark.spatial.rangejoin import bbox_join

    pts = _events_points(spark, sf_dir)
    k = F.col("id") * 7 + 3
    boxes = spark.range(80).select(
        F.col("id").alias("box_id"),
        (_lon(k) - ((F.col("id") % 5) + 2)).alias("lon_min"),
        (_lon(k) + ((F.col("id") % 5) + 2)).alias("lon_max"),
        (_lat(k) - ((F.col("id") % 3) + 1)).alias("lat_min"),
        (_lat(k) + ((F.col("id") % 3) + 1)).alias("lat_max"),
    )
    return (
        bbox_join(pts, boxes, zoom=4)
        .select("event_id", "box_id")
        .orderBy("event_id", "box_id")
    )


@gate("""
    WITH m AS (
      SELECT user_id, ts, max(event_id) AS marker_id
      FROM events WHERE event_id % 20 = 0 GROUP BY user_id, ts),
    l AS (SELECT event_id, user_id, ts FROM events)
    SELECT l.event_id, l.user_id, m.marker_id
    FROM l ASOF LEFT JOIN m
      ON l.user_id = m.user_id AND l.ts >= m.ts
    ORDER BY l.event_id
""")
def q_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): every event matched to the latest
    marker event (event_id % 20 == 0, deduped per user+ts) at or before
    its timestamp, per user — union-tag-window plan, one exchange. The
    DuckDB twin uses its native ASOF LEFT JOIN."""
    from cov_tiles_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    markers = (
        e.filter(F.col("event_id") % 20 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("marker_id"))
    )
    left = e.select("event_id", "user_id", "ts")
    return (
        asof_join(left, markers, "ts", ["user_id"], ["marker_id"])
        .select("event_id", "user_id", "marker_id")
        .orderBy("event_id")
    )


# identical integer hash formula as operators/sampling.py
# sample_hash (seed 0): pmod into the 31-bit ring, multiply,
# xorshift, multiply again; keep iff h < t
@gate("""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
        (xor(h1, h1 >> 15) * 2246822519) % 2147483648 AS h,
        CASE source
          WHEN 'src0' THEN 2147483648
          WHEN 'src1' THEN 1073741824
          WHEN 'src2' THEN 536870912
          WHEN 'src3' THEN 0
          ELSE 214748364 END AS t
      FROM (
        SELECT doc_id, source,
          (((((doc_id % 2147483648) + 2147483648) % 2147483648
             + 1) % 2147483648) * 2654435761 + 1)
            % 2147483648 AS h1
        FROM documents))
    WHERE h < t ORDER BY doc_id
""")
def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified Bernoulli sample over documents
    (operators/sampling.py): per-source rates via broadcast rate table,
    keep iff hash(doc_id) < floor(rate * 2^31) — integer-exact and
    engine-portable, so the DuckDB twin replays the identical formula."""
    from cov_tiles_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}
    return (
        stratified_sample(
            d, "source", rates, key_col="doc_id", default_rate=0.1
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@gate("""
    SELECT doc_id, source, rank FROM (
      SELECT doc_id, source,
        cast(row_number() OVER (
          PARTITION BY source
          ORDER BY (xor(h1, h1 >> 15) * 2246822519) % 2147483648,
                   doc_id
        ) AS int) AS rank
      FROM (
        SELECT doc_id, source,
          (((((doc_id % 2147483648) + 2147483648) % 2147483648
             + 1) % 2147483648) * 2654435761 + 1)
            % 2147483648 AS h1
        FROM documents))
    WHERE rank <= 5 ORDER BY source, rank
""")
def q_sample_per_group(spark, sf_dir):
    """Exact-k uniform sample per source (operators/sampling.py
    sample_per_group): the k smallest key hashes per group with a
    deterministic rank — prefiltered window with provable fallback. The
    DuckDB twin is the plain full-window formulation of the same rule."""
    from cov_tiles_spark.operators.sampling import sample_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_per_group(d, ["source"], 5, "doc_id").orderBy(
        "source", "rank"
    )


# mixture weights {src0: 2.5, src1: 1.0, src2: 0.25, src3: 0.0},
# default 0.5 -> whole copies + one extra iff hash < frac-threshold;
# epoch expansion via unnest(range(n)) (0..n-1, bigint, matches
# Spark's sequence(0L, n-1))
@gate(f"""
    SELECT doc_id, source, epoch FROM (
      SELECT doc_id, source,
             unnest(range(
               (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
                     WHEN 'src2' THEN 0 WHEN 'src3' THEN 0
                     ELSE 0 END)
               + (CASE WHEN ({_hash_sql("doc_id", 0)}) <
                   (CASE source
                      WHEN 'src0' THEN 1073741824
                      WHEN 'src1' THEN 0
                      WHEN 'src2' THEN 536870912
                      WHEN 'src3' THEN 0
                      ELSE 1073741824 END)
                  THEN 1 ELSE 0 END)
             )) AS epoch
      FROM documents)
    ORDER BY doc_id, epoch
""")
def q_mixture_sample(spark, sf_dir):
    """Domain-mixture sampling with replacement (operators/sampling.py
    mixture_sample): each document of source s is emitted
    floor(w_s) + Bernoulli(frac(w_s)) times with an epoch index — the
    epochs-per-domain mixing rule of training-data pipelines. The coin
    is the portable integer hash, so the DuckDB twin replays the exact
    multiplicity (whole copies + the same fractional keep set) and the
    identical 0..n-1 epoch expansion via unnest(range(n))."""
    from cov_tiles_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    weights = {"src0": 2.5, "src1": 1.0, "src2": 0.25, "src3": 0.0}
    return (
        mixture_sample(
            d, "source", weights, key_col="doc_id", default_weight=0.5
        )
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")
    )


# props sum to 1.0 so no normalization term; weight arithmetic
# in the identical double order (budget * prop / tokens)
@gate("""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             cast(sum(n_chars) AS bigint) AS tokens
      FROM documents GROUP BY source),
    p AS (
      SELECT * FROM (VALUES
        ('src0', CAST(0.4 AS DOUBLE)),
        ('src1', CAST(0.3 AS DOUBLE)),
        ('src2', CAST(0.2 AS DOUBLE)),
        ('src5', CAST(0.1 AS DOUBLE))) AS t(source, prop))
    SELECT per.source, n_docs, tokens,
           coalesce(prop, 0.0) AS target_prop,
           round(1000000.0 * coalesce(prop, 0.0) / tokens, 6)
             AS weight
    FROM per LEFT JOIN p USING (source)
    ORDER BY source
""")
def q_mixture_plan(spark, sf_dir):
    """Static mixture planning (operators/sampling.py plan_mixture):
    per-source token counts -> sampling weights hitting a 1M-token
    budget at target proportions (the input of q_mixture_sample's
    epochs-per-domain rule). One map-side-combined groupBy + broadcast
    proportion table; the DuckDB twin recomputes the identical
    double arithmetic."""
    from cov_tiles_spark.operators.sampling import plan_mixture

    d = _t(spark, sf_dir, "documents")
    props = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src5": 0.1}
    return plan_mixture(d, "source", "n_chars", props, token_budget=1_000_000)


# shard = multiply-shift on the TOP hash bits ((h * 8) >> 31);
# pos = dense 0-based rank on (h, doc_id) within the shard
@gate(f"""
    SELECT doc_id, source, shard,
           cast(row_number() OVER (
             PARTITION BY shard ORDER BY h, doc_id
           ) - 1 AS bigint) AS pos
    FROM (
      SELECT doc_id, source,
             ({_hash_sql("doc_id", 0)}) AS h,
             cast((({_hash_sql("doc_id", 0)}) * 8) >> 31 AS int)
               AS shard
      FROM documents)
    ORDER BY shard, pos
""")
def q_shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle -> shard export assignment
    (operators/sampling.py shuffle_assign): shard by the TOP bits of
    the portable hash (multiply-shift), position by rank on (hash,
    doc_id) within the shard — one fixed uniform permutation of the
    corpus, re-derivable per row on any engine. The DuckDB twin runs
    the identical integer formula + window rank."""
    from cov_tiles_spark.operators.sampling import shuffle_assign

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return shuffle_assign(d, "doc_id", n_shards=8).orderBy("shard", "pos")


# ---------------------------------------------------------------- relational

@gate("""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
""")
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan+filter+hash agg+sort (SURVEY §2.2/2.4/2.6)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@gate("""
    SELECT o_custkey, order_rank, o_orderkey, total_price FROM (
      SELECT o_custkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS order_rank,
             o_orderkey, round(o_totalprice, 2) AS total_price
      FROM orders) WHERE order_rank <= 3
""")
def q_top_orders_per_customer(spark, sf_dir):
    """Ranking window: top-3 orders per customer (SURVEY §2.5 built-ins)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            F.col("rn").alias("order_rank"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


@gate("""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name ORDER BY revenue DESC, n_name
""")
def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: multi-join with broadcast dims (SURVEY §2.3)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    # orders is too big to broadcast cheaply (the planner was collecting
    # a 1.5M-row hash relation on the driver every run at sf1) but small
    # enough per partition for a shuffled hash join — force the build
    # side explicitly instead of sort-merge (guide §3.1); the dims below
    # stay broadcast.
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), (c.c_nationkey == n.n_nationkey) & (s.s_nationkey == n.n_nationkey))
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@gate("""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def q_rollup_returns(spark, sf_dir):
    """CUBE aggregation (SURVEY §2.4 'grouping sets absent' row)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select("l_returnflag", "l_linestatus", "n", "qty")
    )


@gate("""
    SELECT date_trunc('day', ts) AS day, event_type,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
""")
def q_events_window(spark, sf_dir):
    """Tumbling 1-day window agg over the events stream table (§2.9 twin)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("day", "event_type")
    )


@gate("""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99,
           round(min(value), 4) AS vmin,
           round(max(value), 4) AS vmax
    FROM events GROUP BY event_type ORDER BY event_type
""")
def q_percentiles(spark, sf_dir):
    """Exact ordered-aggregation percentiles (SURVEY §2.4/§2.6: ordered
    reduce): per-type p50/p90/p99 of event value with linear
    interpolation — Spark `percentile` == DuckDB `quantile_cont`."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
            F.round(F.min("value"), 4).alias("vmin"),
            F.round(F.max("value"), 4).alias("vmax"),
        )
        .orderBy("event_type")
    )


@gate("""
    SELECT event_id, event_type,
           cast(row_number() OVER w AS int) AS rn,
           round(lag(value, 1) OVER w, 4) AS prev_value,
           round(lead(value, 1) OVER w, 4) AS next_value,
           cast(ntile(4) OVER w AS int) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ORDER BY event_id
""")
def q_window_suite(spark, sf_dir):
    """Full ranking-window surface (§2.5): row_number / lag / lead /
    ntile / percent_rank / cume_dist over a deterministic total order."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        e.select(
            "event_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
            F.round(F.lag("value", 1).over(w), 4).alias("prev_value"),
            F.round(F.lead("value", 1).over(w), 4).alias("next_value"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("event_id")
    )


@gate("""
    SELECT o_custkey FROM
      (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
    EXCEPT ALL
    SELECT o_custkey FROM
      (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
    ORDER BY o_custkey
""")
def q_set_ops(spark, sf_dir):
    """Set operations: customers with F-status orders minus O-status (§2.7)."""
    o = _t(spark, sf_dir, "orders")
    f_custs = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_custs = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    return f_custs.exceptAll(o_custs).orderBy("o_custkey")


@gate("""
    SELECT c_custkey, 1 AS has_orders FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT c_custkey, 0 AS has_orders FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
""")
def q_semi_anti_join(spark, sf_dir):
    """Left-semi + left-anti joins (SURVEY §2.3 absent row, built-ins)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        with_orders.select("c_custkey", F.lit(1).alias("has_orders"))
        .unionAll(without.select("c_custkey", F.lit(0).alias("has_orders")))
        .orderBy("c_custkey")
    )


@gate("""
    SELECT l_orderkey, l_linenumber,
           round(cast(l_quantity AS double), 4) AS quantity
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    )
    ORDER BY l_orderkey, l_linenumber
""")
def q_bloom_semi_join(spark, sf_dir):
    """Bloom-pruned semi join (operators/bloomjoin.py): urgent high-value
    orders' keys -> broadcast bitmap -> map-side prune of lineitem before
    the exchange -> exact semi join. Result is unconditionally equal to
    the plain semi join (no false negatives; survivors re-verified), so
    the DuckDB twin is a plain IN-subquery."""
    from cov_tiles_spark.operators.bloomjoin import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    out = bloom_semi_join(
        li.select("l_orderkey", "l_linenumber", "l_quantity"),
        urgent,
        "l_orderkey",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_quantity").cast("double"), 4).alias("quantity"),
    ).orderBy("l_orderkey", "l_linenumber")


@gate("""
    SELECT l_returnflag,
           cast(count(DISTINCT l_suppkey) as bigint) AS n_suppliers,
           cast(count(DISTINCT l_partkey) as bigint) AS n_parts
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
def q_distinct_agg(spark, sf_dir):
    """Distinct aggregation (vertex/string dictionary analogue, §2.4 A1/A2)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .orderBy("l_returnflag")
    )


@gate(f"""
    WITH regs AS (
      SELECT l_returnflag,
             ({_hash_sql("l_partkey", 101)}) >> 19 AS idx,
             max(CASE WHEN ({_hash_sql("l_partkey", 202)}) = 0 THEN 32
                      ELSE 32 - length(bin({_hash_sql("l_partkey", 202)}))
                 END) AS mrho
      FROM lineitem GROUP BY 1, 2
    ), agg AS (
      SELECT l_returnflag,
             cast(sum(1::BIGINT << (32 - mrho)) AS BIGINT) AS s_hit,
             count(*) AS n_hit
      FROM regs GROUP BY 1
    ), st AS (
      SELECT l_returnflag,
             cast(s_hit + (4096 - n_hit) * 4294967296 AS BIGINT) AS hll_s,
             cast(4096 - n_hit AS BIGINT) AS n_zero
      FROM agg
    )
    SELECT st.l_returnflag, hll_s, n_zero,
           round(CASE WHEN ({_HLL_ALPHA!r} / hll_s) <= 10240.0
                           AND n_zero > 0
                      THEN 4096.0 * ln(4096.0 / n_zero)
                      ELSE {_HLL_ALPHA!r} / hll_s END, 4) AS hll_est,
           ex.exact_distinct
    FROM st JOIN (
      SELECT l_returnflag,
             cast(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
      FROM lineitem GROUP BY 1
    ) ex USING (l_returnflag)
    ORDER BY l_returnflag
""")
def q_hll_distinct(spark, sf_dir):
    """Mergeable HyperLogLog distinct sketch (operators/sketch.py) per
    l_returnflag over l_partkey, next to the exact count. The DuckDB twin
    recomputes the estimator end-to-end in SQL from the raw table (same
    portable hash, exact bin-length rho, integer harmonic sum) — a live
    cross-engine second implementation, not a fixture."""
    from cov_tiles_spark.operators.sketch import hll_distinct

    li = _t(spark, sf_dir, "lineitem")
    sketch = hll_distinct(li, "l_partkey", ["l_returnflag"])
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    return (
        sketch.join(exact, "l_returnflag")
        .select("l_returnflag", "hll_s", "n_zero", "hll_est", "exact_distinct")
        .orderBy("l_returnflag")
    )


@gate("""
    SELECT p_brand, count(*) AS n_items,
           round(sum(l_extendedprice), 2) AS volume
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand ORDER BY p_brand
""")
def q_broadcast_join_parts(spark, sf_dir):
    """Explicit broadcast hash join small-dim x big-fact (§2.3)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("volume"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------- spatial

@gate(f"""
    SELECT tile_x, tile_y, count(*) AS n_points FROM (
      SELECT {_TILE_XY} FROM events)
    GROUP BY tile_x, tile_y ORDER BY tile_x, tile_y
""")
def q_tile_assignment(spark, sf_dir):
    """ZXY tile assignment at z6 + per-tile counts (S1/P6 mapping)."""
    pts = _events_points(spark, sf_dir)
    n = 1 << _Z
    tx = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(_merc_x(F.col("lon")) * n))).cast("int")
    ty = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(_merc_y(F.col("lat")) * n))).cast("int")
    return (
        pts.select(tx.alias("tile_x"), ty.alias("tile_y"))
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
        .orderBy("tile_x", "tile_y")
    )


@gate(f"""
    SELECT event_id, tile_x, tile_y,
           cast(floor((mx * {_N} - tile_x) * {_EXTENT}) as int) AS local_x,
           cast(floor((my * {_N} - tile_y) * {_EXTENT}) as int) AS local_y
    FROM (
      SELECT event_id, {_MX_E} AS mx, {_MY_E} AS my, {_TILE_XY}
      FROM events)
    ORDER BY event_id
""")
def q_tile_local_coords(spark, sf_dir):
    """Tile-local integer coords on the 4096 grid at z6 (P2 analogue)."""
    pts = _events_points(spark, sf_dir)
    n = 1 << _Z
    mx = _merc_x(F.col("lon"))
    my = _merc_y(F.col("lat"))
    tx = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(mx * n))).cast("int")
    ty = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(my * n))).cast("int")
    return pts.select(
        "event_id",
        tx.alias("tile_x"),
        ty.alias("tile_y"),
        F.floor((mx * n - tx) * _EXTENT).cast("int").alias("local_x"),
        F.floor((my * n - ty) * _EXTENT).cast("int").alias("local_y"),
    )


@gate(f"""
    WITH g AS (
      SELECT cast(least(65535, greatest(0, floor({_MX_E} * 65536))) as bigint) AS gx,
             cast(least(65535, greatest(0, floor({_MY_E} * 65536))) as bigint) AS gy
      FROM events),
    s AS (
      SELECT
        ((gx | (gx << 8)) & 16711935) AS x1,
        ((gy | (gy << 8)) & 16711935) AS y1
      FROM g),
    s2 AS (
      SELECT ((x1 | (x1 << 4)) & 252645135) AS x2,
             ((y1 | (y1 << 4)) & 252645135) AS y2 FROM s),
    s3 AS (
      SELECT ((x2 | (x2 << 2)) & 858993459) AS x3,
             ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2),
    s4 AS (
      SELECT ((x3 | (x3 << 1)) & 1431655765) AS x4,
             ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3)
    SELECT (x4 | (y4 << 1)) AS cell, count(*) AS n_points
    FROM s4 GROUP BY 1 ORDER BY 1
""")
def q_morton_cells(spark, sf_dir):
    """Morton (z-order) cell ids at 16 bits/dim + counts (K11/K13)."""
    pts = _events_points(spark, sf_dir)
    n = 1 << 16

    def spread(c):
        c = c.cast("long")
        c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF))
        c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x33333333))
        c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x55555555))
        return c

    gx = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(_merc_x(F.col("lon")) * n))).cast("long")
    gy = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(_merc_y(F.col("lat")) * n))).cast("long")
    morton = spread(gx).bitwiseOR(F.shiftleft(spread(gy), 1))
    return (
        pts.select(morton.alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n_points"))
        .orderBy("cell")
    )


@gate(f"""
    SELECT cell, n_points
    FROM read_parquet('{_ORACLE_DIR}/q_hilbert_cells.parquet')
    ORDER BY cell
""")
def q_hilbert_cells(spark, sf_dir):
    """Hilbert S2-l13-analogue cells (K12) — no SQL twin (rows-only check;
    exactness is covered by pytest vs an independent numpy oracle)."""
    from cov_tiles_spark.spatial.cells import cell_s2l13

    pts = _events_points(spark, sf_dir)
    return (
        pts.select(cell_s2l13("lon", "lat").alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n_points"))
        .orderBy("cell")
    )


@gate(f"""
    WITH base AS (
      SELECT cell, n_points
      FROM read_parquet('{_ORACLE_DIR}/q_hilbert_cells.parquet'))
    SELECT cast(13 as int) AS level, cell,
           cast(n_points as bigint) AS n_points FROM base
    UNION ALL
    SELECT cast(11 as int), cell >> 4, cast(sum(n_points) as bigint)
    FROM base GROUP BY cell >> 4
    UNION ALL
    SELECT cast(9 as int), cell >> 8, cast(sum(n_points) as bigint)
    FROM base GROUP BY cell >> 8
    ORDER BY level, cell
""")
def q_cell_rollup(spark, sf_dir):
    """Hierarchical cell-stats rollup (spatial/cells.py
    cell_stats_rollup — hypertable-style continuous aggregates): per-cell
    counts at Hilbert level 13, coarser levels 11/9 derived from the
    AGGREGATE table by the hierarchy property (parent = cell >> 2k, four
    children consecutive on the curve). The twin re-aggregates the
    committed independent-oracle cell table with the same shift
    arithmetic in SQL."""
    from cov_tiles_spark.spatial.cells import cell_s2l13, cell_stats_rollup

    pts = _events_points(spark, sf_dir)
    cells = pts.select(cell_s2l13("lon", "lat").alias("cell"))
    return cell_stats_rollup(cells, "cell", [13, 11, 9]).orderBy(
        "level", "cell"
    )


@gate(f"""
    SELECT cell, n_points
    FROM read_parquet('{_ORACLE_DIR}/q_h3_cells.parquet')
    ORDER BY cell
""")
def q_h3_cells(spark, sf_dir):
    """H3-res-9-analogue hex cells (north_star: 'assigns every record to
    H3 res-9 / S2 level-13 cells'): pointy-top axial binning with cube
    rounding on the mercator plane (spatial/cells.py cell_h3r9). Oracle:
    independent single-node implementation (scripts/build_oracles.py)."""
    from cov_tiles_spark.spatial.cells import cell_h3r9

    pts = _events_points(spark, sf_dir)
    return (
        pts.select(cell_h3r9("lon", "lat").alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n_points"))
        .orderBy("cell")
    )


@gate(f"""
    SELECT event_id,
           NOT ( (({_Z} + tile_x + tile_y) % 20 = 0)
                 AND local_x > {_LO} AND local_x < {_HI}
                 AND local_y > {_LO} AND local_y < {_HI} ) AS inside
    FROM (
      SELECT event_id, tile_x, tile_y,
             cast(floor((mx * {_N} - tile_x) * {_EXTENT}) as int) AS local_x,
             cast(floor((my * {_N} - tile_y) * {_EXTENT}) as int) AS local_y
      FROM (
        SELECT event_id, {_MX_E} AS mx, {_MY_E} AS my, {_TILE_XY}
        FROM events))
    ORDER BY event_id
""")
def q_pip(spark, sf_dir):
    """Point-in-polygon vs tile-boundary squares with deterministic holes.

    Hole rule: tiles with (z + x + y) % 20 == 0 carry a centered square
    hole (7/16..9/16 of the extent) — reproducible in plain SQL.
    """
    pts = q_tile_local_coords(spark, sf_dir)
    lo = _EXTENT * 7 // 16
    hi = _EXTENT * 9 // 16
    has_hole = ((F.lit(_Z) + F.col("tile_x") + F.col("tile_y")) % 20) == 0
    in_hole = (
        (F.col("local_x") > lo) & (F.col("local_x") < hi)
        & (F.col("local_y") > lo) & (F.col("local_y") < hi)
    )
    return pts.select(
        "event_id",
        (~(has_hole & in_hole)).alias("inside"),
    ).orderBy("event_id")


@gate(f"""
    SELECT event_id,
           NOT ( (({_Z} + tile_x + tile_y) % 20 = 0)
                 AND local_x >= {_LO} AND local_x < {_HI}
                 AND local_y >= {_LO} AND local_y < {_HI} ) AS inside
    FROM (
      SELECT event_id, tile_x, tile_y,
             cast(floor((mx * {_N} - tile_x) * {_EXTENT}) as int) AS local_x,
             cast(floor((my * {_N} - tile_y) * {_EXTENT}) as int) AS local_y
      FROM (
        SELECT event_id, {_MX_E} AS mx, {_MY_E} AS my, {_TILE_XY}
        FROM events))
    ORDER BY event_id
""")
def q_pip_join(spark, sf_dir):
    """Production point-in-polygon join (spatial/pip.py pip_join_broadcast)
    on deterministic per-tile boundary polygons.

    Boundaries: every occupied z6 tile gets a full-extent square shell;
    tiles with (z + x + y) % 20 == 0 additionally carry a centered square
    hole (7/16..9/16 of the extent). The even-odd ray cast classifies a
    grid point as in-hole iff lo <= local < hi on both axes (half-open:
    the cast counts a crossing for y in [y1, y2) and x < x_int), which is
    what the SQL twin states directly.
    """
    from cov_tiles_spark.spatial.pip import pip_join_broadcast

    pts = q_tile_local_coords(spark, sf_dir).select(
        "event_id",
        F.lit(_Z).alias("z"),
        F.col("tile_x").alias("x"),
        F.col("tile_y").alias("y"),
        "local_x",
        "local_y",
    )
    lo = _EXTENT * 7 // 16
    hi = _EXTENT * 9 // 16
    ext = _EXTENT
    shell = [0, 0, ext, 0, ext, ext, 0, ext]
    hole = [lo, lo, hi, lo, hi, hi, lo, hi]
    has_hole = ((F.col("z") + F.col("x") + F.col("y")) % 20) == 0
    boundaries = pts.select("z", "x", "y").distinct().select(
        "z", "x", "y",
        F.struct(
            F.when(has_hole, F.array(F.lit(4), F.lit(4)))
            .otherwise(F.array(F.lit(4))).alias("ring_offsets"),
            F.when(
                has_hole,
                F.array(*[F.lit(v) for v in shell + hole]),
            ).otherwise(F.array(*[F.lit(v) for v in shell])).alias("vertex_buffer"),
        ).alias("boundary"),
    )
    return (
        pip_join_broadcast(pts, boundaries)
        .select("event_id", "inside")
        .orderBy("event_id")
    )


@gate(f"""
    WITH q AS (
      SELECT i AS query_id,
             (((i * 37 + 11) * 9973) % 3600) / 10.0 - 180.0 + 0.05 AS q_lon,
             (((i * 53 + 7) * 7919) % 1600) / 10.0 - 80.0 + 0.05 AS q_lat
      FROM range(50) t(i)),
    p AS (
      SELECT event_id, {_LON_E} AS lon, {_LAT_E} AS lat FROM events),
    ranked AS (
      SELECT q.query_id, p.event_id AS point_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY (p.lon - q.q_lon) * (p.lon - q.q_lon)
                      + (p.lat - q.q_lat) * (p.lat - q.q_lat),
                      p.event_id) AS rank
      FROM p CROSS JOIN q)
    SELECT query_id, rank, point_id FROM ranked WHERE rank <= 5
""")
def q_knn(spark, sf_dir):
    """Exact kNN: 50 broadcast query points vs events points, top-5 by
    squared euclidean (arithmetic-only metric -> bit-identical across
    engines), ties broken by point id (SURVEY §2.3/§2.5 mapping).

    Plan: radius prefilter (L-inf box r) before the window shuffle; a
    query whose 5th hit lies within r (dist2 <= r^2) is provably exact
    (any point outside the box has dist2 > r^2). Unsatisfied queries
    fall back to the unfiltered window — exactness never depends on r.
    """
    # r routes queries between the two exact branches, never changes the
    # output (the docstring invariant). r=3 left 26/50 queries on the
    # full-scan fallback at every sf (the event lattice occupies only
    # 1/400 of the 0.1-degree grid positions, so many boxes hold < k
    # points); r=10 satisfies 50/50 at sf0.01/0.1/1 (measured) and the
    # near-branch pair count stays tiny (316k at sf1).
    k, r = 5, 10.0
    # widen the scan before the broadcast cross join: the events parquet
    # is 1-3 files, so without this the 100k x 50 pair evaluation runs on
    # 1-3 tasks (measured 3.9-6.1s; 1.4-2.0s repartitioned to core count)
    pts = _events_points(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    q = spark.range(50).select(
        F.col("id").alias("query_id"),
        (((F.col("id") * 37 + 11) * 9973 % 3600) / F.lit(10.0) - F.lit(180.0) + F.lit(0.05)).alias("q_lon"),
        (((F.col("id") * 53 + 7) * 7919 % 1600) / F.lit(10.0) - F.lit(80.0) + F.lit(0.05)).alias("q_lat"),
    )
    d2 = (F.col("lon") - F.col("q_lon")) ** 2 + (F.col("lat") - F.col("q_lat")) ** 2
    w = Window.partitionBy("query_id").orderBy(F.col("dist2"), F.col("event_id"))

    def topk(pairs):
        return (
            pairs.withColumn("dist2", d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    # Cell-bucketed candidate generation for the radius branch: the old
    # broadcast *nested-loop* join evaluated |points| x |queries| pairs
    # (50M at sf1, 10.5s) just to keep the ~0.06% inside the L-inf box.
    # Bucketing points on an r-sized grid and exploding each query to the
    # (at most 3x3) grid cells its box overlaps turns this into a
    # BroadcastHashJoin: one hash probe per point, only near-pairs
    # materialize (guide §3.1). Exactness: lon in [q-r, q+r] implies
    # floor(lon/r) in [floor((q-r)/r), floor((q+r)/r)] (floor is
    # monotone), so every box match survives the cell equi-join, and the
    # unchanged box filter below keeps exactly the same pair set.
    cell = lambda c: F.floor(c / F.lit(r)).cast("int")
    ptsc = pts.withColumn("_cx", cell(F.col("lon"))).withColumn(
        "_cy", cell(F.col("lat"))
    )
    qc = (
        q.withColumn(
            "_cx",
            F.explode(
                F.sequence(cell(F.col("q_lon") - r), cell(F.col("q_lon") + r))
            ),
        )
        .withColumn(
            "_cy",
            F.explode(
                F.sequence(cell(F.col("q_lat") - r), cell(F.col("q_lat") + r))
            ),
        )
    )
    pairs = ptsc.join(F.broadcast(qc), ["_cx", "_cy"]).drop("_cx", "_cy")
    near = topk(
        pairs.filter(
            (F.abs(F.col("lon") - F.col("q_lon")) <= r)
            & (F.abs(F.col("lat") - F.col("q_lat")) <= r)
        )
    ).cache()
    satisfied = (
        near.groupBy("query_id")
        .agg(F.count("*").alias("n"), F.max("dist2").alias("kth"))
        .filter((F.col("n") >= k) & (F.col("kth") <= r * r))
        .select("query_id")
    )
    out_cols = ["query_id", "rank", F.col("event_id").alias("point_id")]
    good = near.join(satisfied, "query_id", "left_semi").select(*out_cols)
    rest_q = q.join(satisfied, "query_id", "left_anti")
    # fallback top-k stays in the JVM: Spark >= 3.5 inserts a Partial
    # WindowGroupLimit (per-partition sort + top-k) BEFORE the exchange
    # for row_number()+rank filter, so at most partitions x queries x k
    # rows shuffle — the same monoid reduction the old Python
    # _local_topk mapInPandas did, minus the Arrow boundary over
    # |points| x |rest_q| rows (guide §4.1: built-ins over UDFs).
    fb_pairs = (
        pts.join(F.broadcast(rest_q))
        .withColumn("dist_m", d2)
        .select("query_id", F.col("event_id").alias("point_id"), "dist_m")
    )
    fallback = (
        fb_pairs.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("dist_m", "point_id")
            ),
        )
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "point_id")
    )
    # select per branch: joins reorder columns and unionAll is positional
    return good.unionAll(fallback)


@gate(f"""
    WITH q AS (
      SELECT i AS query_id,
             (((i * 41 + 13) * 9973) % 3600) / 10.0 - 180.0 + 0.0137 AS q_lon,
             (((i * 59 + 5) * 7919) % 1600) / 10.0 - 80.0 + 0.0731 AS q_lat
      FROM range(40) t(i)),
    p AS (
      SELECT event_id, {_LON_E} AS lon, {_LAT_E} AS lat FROM events),
    ranked AS (
      SELECT q.query_id, p.event_id AS point_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY 2.0 * 6371008.8 * asin(sqrt(
                   sin(radians(p.lat - q.q_lat) / 2) * sin(radians(p.lat - q.q_lat) / 2)
                 + cos(radians(q.q_lat)) * cos(radians(p.lat))
                   * sin(radians(p.lon - q.q_lon) / 2) * sin(radians(p.lon - q.q_lon) / 2)
                 )),
                 p.event_id) AS rank
      FROM p CROSS JOIN q)
    SELECT query_id, cast(rank as int) AS rank, point_id
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
""")
def q_knn_cell(spark, sf_dir):
    """Production exact kNN (spatial/knn.py knn_exact): cell-pruned 3x3
    candidate lists with a provable exactness guarantee + broadcast
    fallback, haversine meters, ties by point id. Query points sit off
    the events' 0.05-offset lattice so no two candidate distances are
    near-equal across engines (cross-engine trig differs in the last
    ulp); dist stays out of the output hash.
    """
    from cov_tiles_spark.spatial.knn import knn_exact

    pts = _events_points(spark, sf_dir)
    q = spark.range(40).select(
        F.col("id").alias("query_id"),
        (((F.col("id") * 41 + 13) * 9973 % 3600) / F.lit(10.0) - F.lit(180.0) + F.lit(0.0137)).alias("lon"),
        (((F.col("id") * 59 + 5) * 7919 % 1600) / F.lit(10.0) - F.lit(80.0) + F.lit(0.0731)).alias("lat"),
    )
    return (
        knn_exact(pts, q, k=5, bits=5, point_id="event_id")
        .select("query_id", "rank", "point_id")
        .orderBy("query_id", "rank")
    )


@gate(f"""
    WITH pts AS (SELECT {_MX_E} AS mx, {_MY_E} AS my FROM events),
    assigned AS (
      SELECT z,
             cast(least(pow(2, z) - 1, greatest(0, floor(mx * pow(2, z)))) as int) AS x,
             cast(least(pow(2, z) - 1, greatest(0, floor(my * pow(2, z)))) as int) AS y
      FROM pts CROSS JOIN (SELECT unnest([2, 4, 6]) AS z))
    SELECT z, x, y, count(*) AS n_features
    FROM assigned GROUP BY z, x, y ORDER BY z, x, y
""")
def q_tile_feature_counts(spark, sf_dir):
    """Per-tile feature counts after the materialization pipeline's
    assignment stage at z2/z4/z6 (pyramid; SQL-checkable half of the
    flagship)."""
    pts = _events_points(spark, sf_dir)
    per_zoom = []
    for z in (2, 4, 6):
        n = 1 << z
        tx = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(_merc_x(F.col("lon")) * n))).cast("int")
        ty = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(_merc_y(F.col("lat")) * n))).cast("int")
        per_zoom.append(
            pts.select(F.lit(z).alias("z"), tx.alias("x"), ty.alias("y"))
        )
    allz = per_zoom[0]
    for d in per_zoom[1:]:
        allz = allz.unionAll(d)
    return allz.groupBy("z", "x", "y").agg(F.count("*").alias("n_features")).orderBy("z", "x", "y")


@gate(_TILE_ENCODE_SQL)
def q_tile_encode(spark, sf_dir):
    """Flagship: events-derived points -> COVT tile payloads at z2/z4/z6
    (single hash(z,x,y) exchange + sorted-stream mapInArrow encode; §3.1
    lifecycle) -> decoded back to the exploded feature table. The DuckDB
    twin computes the same feature table directly from events, so a value
    hash match proves the engine's encode->decode roundtrip is lossless
    on every tile — a stronger check than comparing engine-specific
    payload bytes."""
    from cov_tiles_spark.pipeline.materialize import decode_tiles, materialize_tiles

    imgs = _events_images_fast(spark, sf_dir)
    tiles = materialize_tiles(
        imgs, [2, 4, 6], with_mvt_baseline=False,
        max_features_per_tile=_GATE_CAP,
    )
    # NOTE: measured A/B at sf0.1 — a .persist() before this global sort
    # costs 14-53s (cache population contends with execution memory for
    # the UDF stages) while the plain sort chain runs in ~10s (the range
    # sampler reuses the materialized hash-exchange outputs, so the
    # pre-shuffle work is not recomputed); keep the plain chain
    return decode_tiles(tiles).orderBy("z", "x", "y", "feature_id")


@gate(_TILE_ENCODE_SQL.replace("unnest([2, 4, 6])", "unnest([2, 3, 4, 5, 6])"))
def q_tile_pyramid(spark, sf_dir):
    """Pyramid ROLLUP materialization (pipeline/pyramid.py): one
    full-corpus exchange at z6, parents derived from capped children by
    exact grid halving — ~1/|zooms| the shuffle volume of the direct
    path, provably byte-identical output. The twin computes every level
    directly from events, so a hash match proves the halving chain and
    the encode->decode roundtrip at all five levels."""
    from cov_tiles_spark.pipeline.materialize import decode_tiles
    from cov_tiles_spark.pipeline.pyramid import materialize_pyramid

    imgs = _events_images_fast(spark, sf_dir)
    tiles = materialize_pyramid(
        imgs, 2, 6, with_mvt_baseline=False, max_features_per_tile=_GATE_CAP
    )
    return decode_tiles(tiles).orderBy("z", "x", "y", "feature_id")


@gate(_TILE_ENCODE_SQL)
def q_delta_tiles(spark, sf_dir):
    """Incremental materialization under the gate (pipeline/delta.py):
    commit tiles for HALF the corpus, then delta-run the full corpus —
    only tiles touched by the other half re-encode (overwrite snapshots)
    — and decode the latest-wins view. A hash match against the same
    events SQL twin as q_tile_encode proves incremental == full
    recompute, through the manifest/checksum/latest-read machinery."""
    from cov_tiles_spark.pipeline.delta import delta_materialize
    from cov_tiles_spark.pipeline.lineage import IcebergLite
    from cov_tiles_spark.pipeline.materialize import decode_tiles

    lake = IcebergLite(spark, _gate_tmpdir("delta_gate_"))
    imgs = _events_images_fast(spark, sf_dir)
    # same half: substring(img-%012d, 16, 1) in {0,2,4,6,8} selected the
    # ids with an even last digit, i.e. exactly the even event_ids
    half = imgs.filter(F.col("image_id") % 2 == 0)
    delta_materialize(lake, half, [2, 4, 6], partition_buckets=32,
                      max_features_per_tile=_GATE_CAP)
    stats = delta_materialize(lake, imgs, [2, 4, 6], partition_buckets=32,
                              max_features_per_tile=_GATE_CAP)
    assert stats["changed"] > 0, "second corpus must touch tiles"
    tiles = lake.read_table("tiles", latest_only=True).drop("tile_key")
    return decode_tiles(tiles).orderBy("z", "x", "y", "feature_id")


@gate(f"""
    WITH pts AS (
      SELECT event_id, {_MX_E} AS mx, {_MY_E} AS my FROM events)
    SELECT 5 AS z,
           cast(least(31, greatest(0, floor(mx * 32))) as int) AS x,
           cast(least(31, greatest(0, floor(my * 32))) as int) AS y,
           event_id AS feature_id
    FROM pts ORDER BY z, x, y, feature_id
""")
def q_overzoom(spark, sf_dir):
    """Overzoom (pipeline/overzoom.py): z4 tiles encoded once, z5 tiles
    DERIVED from the z4 payloads map-side (the tile-server fallback past
    maxzoom). Child membership is exactly derivable from parent-quantized
    coordinates (extent even => floor(frac*E) >= E/2 <=> frac >= 1/2), so
    the twin computes z5 assignment directly from events; coordinates
    carry parent quantization and are excluded (pinned within 1 unit by
    pytest)."""
    from cov_tiles_spark.covt.decoder import decode_covt
    from cov_tiles_spark.pipeline.materialize import (
        assign_tiles, encode_assigned,
    )
    from cov_tiles_spark.pipeline.overzoom import overzoom_tiles
    from cov_tiles_spark.rows import map_rows

    imgs = _events_images_fast(spark, sf_dir)
    parents = encode_assigned(
        assign_tiles(imgs, [4]), with_mvt_baseline=False,
        max_features_per_tile=_GATE_CAP,
    )
    kids = overzoom_tiles(parents)

    def explode_ids(payload):
        return [
            (int(fid),)
            for lay in decode_covt(bytes(payload)).values() for fid in lay.ids
        ]

    return map_rows(
        kids, "z int, x int, y int, feature_id long", ("payload",),
        ("feature_id",), explode_ids,
    ).orderBy("z", "x", "y", "feature_id")


@gate(_TILE_ENCODE_SQL)
def q_tile_encode_genb(spark, sf_dir):
    """Same encode->decode roundtrip through the gen-B wire format
    (covt/genb.py — the reference's current CovtParser/CovtConverter
    generation). Shares q_tile_encode's SQL twin: the decoded feature
    table must be identical regardless of wire format."""
    from cov_tiles_spark.pipeline.materialize import decode_tiles, materialize_tiles

    imgs = _events_images_fast(spark, sf_dir)
    tiles = materialize_tiles(
        imgs, [2, 4, 6], with_mvt_baseline=False, wire_format="genb",
        max_features_per_tile=_GATE_CAP,
    )
    return decode_tiles(tiles, wire_format="genb").orderBy(
        "z", "x", "y", "feature_id"
    )


@gate(f"""
    WITH pts AS (
      SELECT event_id, event_type, {_MX_E} AS mx, {_MY_E} AS my FROM events),
    a AS (
      SELECT z, event_id, event_type,
             cast(least(pow(2, z) - 1, greatest(0, floor(mx * pow(2, z)))) as int) AS x,
             cast(least(pow(2, z) - 1, greatest(0, floor(my * pow(2, z)))) as int) AS y
      FROM pts CROSS JOIN (SELECT unnest([2, 4, 6]) AS z))
    SELECT cast(z as int) AS z, x, y, event_id AS feature_id,
           event_type AS caption, cast(32 as bigint) AS w
    FROM a ORDER BY z, x, y, feature_id
""")
def q_tile_decode_pruned(spark, sf_dir):
    """Projected tile read: gen-B payloads decoded with the projection
    pushed INTO the payload — unselected streams are cursor-jumped via
    their recorded byte lengths, never parsed (covt/genb.py
    decode_tile_genb(columns=...); 1.7-11x on the reference's golden
    tiles depending on selectivity, the lazy-parse scan shape its parser
    roadmap targets). Twin = q_tile_encode's events SQL minus the pruned
    columns, so a hash match proves the pruned read returns exactly the
    full read's selected columns."""
    from cov_tiles_spark.pipeline.materialize import decode_tiles, materialize_tiles

    imgs = _events_images(spark, sf_dir)
    tiles = materialize_tiles(
        imgs, [2, 4, 6], with_mvt_baseline=False, wire_format="genb",
        max_features_per_tile=_GATE_CAP,
    )
    return decode_tiles(
        tiles, wire_format="genb", columns=["caption", "w"]
    ).orderBy("z", "x", "y", "feature_id")


@gate(_TILE_ENCODE_SQL)
def q_tile_export_mvt(spark, sf_dir):
    """The REVERSE transcode direction under the driver gate: the same
    encode pipeline, but every COVT payload is exported back to MVT
    (transcode.covt_to_mvt, the direction the reference lacks) and the
    MVT decoded to the feature table. Shares q_tile_encode's SQL twin —
    a hash match proves encode -> export -> MVT-decode is lossless."""
    from cov_tiles_spark.pipeline.materialize import (
        decode_tiles_via_mvt,
        materialize_tiles,
    )

    imgs = _events_images_fast(spark, sf_dir)
    tiles = materialize_tiles(
        imgs, [2, 4, 6], with_mvt_baseline=False,
        max_features_per_tile=_GATE_CAP,
    )
    return decode_tiles_via_mvt(tiles).orderBy("z", "x", "y", "feature_id")


@gate(f"""
    WITH pts AS (
      SELECT {_MX_E} AS mx, {_MY_E} AS my FROM events),
    t AS (
      SELECT mx, my,
             cast(least(15, greatest(0, floor(mx * 16))) as int) AS x,
             cast(least(15, greatest(0, floor(my * 16))) as int) AS y
      FROM pts)
    SELECT x, y,
           cast(floor((mx * 16 - x) * {_EXTENT}) as int) // {_EXTENT // 16} AS gx,
           cast(floor((my * 16 - y) * {_EXTENT}) as int) // {_EXTENT // 16} AS gy,
           count(*) AS n_points
    FROM t GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4
""")
def q_raster_cells(spark, sf_dir):
    """Raster-grid aggregation: per (tile, 16x16 cell) point counts at z4,
    computed in plain DataFrame code."""
    pts = _events_points(spark, sf_dir)
    z = 4
    n = 1 << z
    grid = 16
    cell = _EXTENT // grid
    mx = _merc_x(F.col("lon"))
    my = _merc_y(F.col("lat"))
    tx = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(mx * n))).cast("int")
    ty = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(my * n))).cast("int")
    lx = F.floor((mx * n - tx) * _EXTENT).cast("int")
    ly = F.floor((my * n - ty) * _EXTENT).cast("int")
    return (
        pts.select(
            tx.alias("x"), ty.alias("y"),
            (lx / cell).cast("int").alias("gx"),
            (ly / cell).cast("int").alias("gy"),
        )
        .groupBy("x", "y", "gx", "gy")
        .agg(F.count("*").alias("n_points"))
        .orderBy("x", "y", "gx", "gy")
    )


@gate(f"""
    SELECT event_id,
           round({_LON_E}, 4) AS lon,
           round({_LAT_E}, 4) AS lat
    FROM events
    WHERE {_LON_E} BETWEEN -60.0 AND 40.0
      AND {_LAT_E} BETWEEN -30.0 AND 45.0
    ORDER BY event_id
""")
def q_layout_scan(spark, sf_dir):
    """SFC-clustered storage layout + pruned bbox scan
    (pipeline/layout.py): the corpus points are written Hilbert-clustered
    (coarse-prefix directory partitions, fine-key-sorted row groups),
    then a lon/lat bbox is served through partition pruning + row-group
    skipping + the exact residual predicate. The twin is the plain bbox
    filter in SQL — a hash match proves the pruned path loses/invents
    nothing (the cover is a superset by construction; pruning can only
    make the scan cheaper, never wrong)."""
    from cov_tiles_spark.pipeline.layout import bbox_scan, cluster_write

    bbox = (-60.0, -30.0, 40.0, 45.0)
    pts = _events_points(spark, sf_dir)
    tmp = _gate_tmpdir("layout_gate_")
    # prefix_bits=4 (256 directories) keeps the file count sane at gate
    # scale; a 100 TB corpus would use the default 6 (4096 directories)
    cluster_write(pts, tmp, prefix_bits=4, n_partitions=16)
    return (
        bbox_scan(spark, tmp, bbox, prefix_bits=4)
        .select(
            "event_id",
            F.round("lon", 4).alias("lon"),
            F.round("lat", 4).alias("lat"),
        )
        .orderBy("event_id")
    )


@gate("""
    SELECT user_id,
           cast(sum(new_session) as bigint) AS n_sessions,
           count(*) AS n_events
    FROM (
      SELECT user_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) > 3600000000
                  OR lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    GROUP BY user_id ORDER BY user_id
""")
def q_sessionize(spark, sf_dir):
    """Sessionization: per-user session count with 1-hour inactivity gaps
    (lag window over event time — W-class ordered computation)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gaps (tz shifts cancel in the difference)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us, 1).over(w)
    new_session = F.when(gap.isNull() | (gap > 3_600_000_000), 1).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------------------- training-data ops

@gate("""
    SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM (SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 1000000, text FROM documents)
    GROUP BY 1 ORDER BY keeper_id
""")
def q_dedup_exact(spark, sf_dir):
    """Exact dedup by md5(text) over documents + shifted copies (dedup #1)."""
    from cov_tiles_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    dupes = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = d.select("doc_id", "text").unionAll(dupes)
    # every text has its shifted copy, so the n_copies > 1 filter keeps all
    return exact_dedup(corpus, "text", "doc_id").orderBy("keeper_id")


@gate("""
    WITH s AS (
      SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
             cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) as bigint) AS n_null,
             cast(count(DISTINCT o_orderkey) as bigint) AS n_distinct,
             cast(min(o_orderkey) as varchar) AS min_val,
             cast(max(o_orderkey) as varchar) AS max_val
      FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*),
             cast(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) as bigint),
             cast(count(DISTINCT o_custkey) as bigint),
             cast(min(o_custkey) as varchar), cast(max(o_custkey) as varchar)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', count(*),
             cast(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) as bigint),
             cast(count(DISTINCT o_orderstatus) as bigint),
             min(o_orderstatus), max(o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', count(*),
             cast(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) as bigint),
             cast(count(DISTINCT o_totalprice) as bigint),
             printf('%.4f', round(min(o_totalprice), 4)),
             printf('%.4f', round(max(o_totalprice), 4))
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', count(*),
             cast(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) as bigint),
             cast(count(DISTINCT o_orderpriority) as bigint),
             min(o_orderpriority), max(o_orderpriority)
      FROM orders)
    SELECT * FROM s ORDER BY "column"
""")
def q_profile(spark, sf_dir):
    """Dataset profiling (operators/profile.py): per-column n / nulls /
    exact distinct / min / max over orders, in ONE wide aggregation
    (multi-countDistinct plans as a single expand + exchange). The twin
    computes the same stats column-by-column in SQL."""
    from cov_tiles_spark.operators.profile import profile

    o = _t(spark, sf_dir, "orders")
    return profile(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    ).orderBy("column")


@gate("""
    WITH s AS (
      SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
             cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) as bigint) AS n_null,
             TRUE AS within_bound
      FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*),
             cast(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) as bigint),
             TRUE
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', count(*),
             cast(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) as bigint),
             TRUE
      FROM orders)
    SELECT * FROM s ORDER BY "column"
""")
def q_profile_approx(spark, sf_dir):
    """Approx profiling (``profile(approx=True)``) — the 100 TB ANALYZE
    path where exact countDistinct's per-column expand is the one heavy
    term. HLL++ estimates are engine-specific, so the gate encodes an
    ERROR-BOUND assertion instead of value equality: ``within_bound`` is
    computed Spark-side as |approx - exact| <= 25% (5x the requested
    rsd=0.05) against an exact countDistinct over the same column, and
    the DuckDB twin asserts literal TRUE; n_rows/n_null stay
    exact-matched. A drifting estimator fails the hash match."""
    from cov_tiles_spark.operators.profile import profile

    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    ap = profile(o, cols, approx=True, rsd=0.05).select(
        "column", "n_rows", "n_null", F.col("n_distinct").alias("_approx")
    )
    ex = profile(o, cols).select(
        F.col("column").alias("_c"), F.col("n_distinct").alias("_exact")
    )
    return (
        ap.join(ex, ap["column"] == ex["_c"])
        .select(
            "column",
            "n_rows",
            "n_null",
            (
                F.abs(F.col("_approx") - F.col("_exact"))
                <= F.lit(0.25) * F.col("_exact")
            ).alias("within_bound"),
        )
        .orderBy("column")
    )


@gate(f"""
    SELECT "rank", "left", "right", freq
    FROM read_parquet('{_ORACLE_DIR}/q_bpe_train.parquet')
    ORDER BY "rank"
""")
def q_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.py): one
    corpus-scale word-count pass, then 40 merge iterations over the
    vocabulary-sized table (JVM pair explode + sum, vectorized merge
    UDF). Deterministic tie-breaking makes the merge sequence a pure
    function of the corpus; the oracle is an independent pure-python
    trainer (scripts/build_oracles.py, committed parquet)."""
    from cov_tiles_spark.operators.bpe import bpe_merges_df

    d = _t(spark, sf_dir, "documents")
    # pin the word-count pass's parallelism (single-row-group scan trap)
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return bpe_merges_df(d, "text", n_merges=40).orderBy("rank")


@gate(f"""
    SELECT doc_id, n_tokens, n_distinct_tokens
    FROM read_parquet('{_ORACLE_DIR}/q_bpe_encode.parquet')
    ORDER BY doc_id
""")
def q_bpe_encode(spark, sf_dir):
    """Corpus tokenization with the learned BPE merges
    (operators/bpe.py bpe_encode): greedy lowest-rank apply over the
    DISTINCT-word table, token fan-out by equi-join, one hash-agg
    rollup per doc. Oracle: sequential-replay tokenization reusing the
    pure-python trainer's final word state (scripts/build_oracles.py) —
    equal for trained merge tables (see _bpe_word_greedy docstring)."""
    from cov_tiles_spark.operators.bpe import bpe_encode, bpe_train

    d = _t(spark, sf_dir, "documents")
    merges = [(l, r) for l, r, _ in bpe_train(d, "text", n_merges=40)]
    return bpe_encode(d, merges, "text").orderBy("doc_id")


@gate("""
    SELECT doc_id, length(text) AS n_chars_computed,
           cast(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(text) - length(replace(text, ' ', '')) + 1
           END as bigint) AS n_tokens
    FROM documents ORDER BY doc_id
""")
def q_token_counts(spark, sf_dir):
    """Token counting via portable replace arithmetic (text analysis #3)."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    n_tokens = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(spaces + 1)
    return d.select(
        "doc_id",
        F.length(t).alias("n_chars_computed"),
        n_tokens.cast("long").alias("n_tokens"),
    ).orderBy("doc_id")


@gate(f"""
    SELECT doc_id, n_bpe_tokens
    FROM read_parquet('{_ORACLE_DIR}/q_token_counts_bpe.parquet')
    ORDER BY doc_id
""")
def q_token_counts_bpe(spark, sf_dir):
    """BPE-pre-tokenizer token counts (the 'BPE-ish regex'): JVM-side
    regexp_count of the GPT-2-style pattern (operators/text.py
    BPE_PATTERN). Oracle: independent hand-rolled scanner emulating the
    alternation semantics with no regex engine
    (scripts/build_oracles.py)."""
    from cov_tiles_spark.operators.text import token_count_bpe

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", token_count_bpe(F.col("text")).alias("n_bpe_tokens")
    ).orderBy("doc_id")


@gate(_lang_id_sql())
def q_lang_id(spark, sf_dir):
    """Stopword-ratio language id vs labels (text analysis #1)."""
    from cov_tiles_spark.operators.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", lang_id(F.col("text")).alias("lang_pred")
    ).orderBy("doc_id")


@gate("""
    SELECT doc_id,
      round(
        (CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 0.4
              WHEN length(text) > 0 THEN 0.1 ELSE 0.0 END)
      + (CASE WHEN tokens > 0 AND (length(text) * 1.0 / tokens) BETWEEN 3.0 AND 12.0
              THEN 0.3 ELSE 0.1 END)
      + (CASE WHEN length(text) = 0 OR
                (length(text) - length(regexp_replace(text, '[,.;:!?]', '', 'g'))) * 1.0
                  / length(text) <= 0.1
              THEN 0.3 ELSE 0.1 END), 4) AS quality
    FROM (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS tokens
      FROM documents)
    ORDER BY doc_id
""")
def q_quality(spark, sf_dir):
    """Quality scoring: length/punct/word-length bands (text analysis #2)."""
    from cov_tiles_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality")).orderBy("doc_id")


@gate("""
    WITH base AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
             ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
      FROM documents
    ), g AS (
      SELECT doc_id, ws, len(ws) AS n,
        CASE WHEN len(ws) >= 2 THEN
          list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        ELSE []::VARCHAR[] END AS g2,
        CASE WHEN len(ws) >= 5 THEN
          list_transform(range(1, len(ws) - 3), i ->
            ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
            ws[i+3] || ' ' || ws[i+4])
        ELSE []::VARCHAR[] END AS g5
      FROM base
    )
    SELECT doc_id,
      cast(n AS bigint) AS n_words,
      round(CASE WHEN n > 0
            THEN 1.0 - len(list_distinct(ws)) * 1.0 / n
            ELSE 0.0 END, 6) AS dup_word_frac,
      round(CASE WHEN len(g2) > 0
            THEN 1.0 - len(list_distinct(g2)) * 1.0 / len(g2)
            ELSE 0.0 END, 6) AS dup_2gram_frac,
      round(CASE WHEN len(g5) > 0
            THEN 1.0 - len(list_distinct(g5)) * 1.0 / len(g5)
            ELSE 0.0 END, 6) AS dup_5gram_frac
    FROM g ORDER BY doc_id
""")
def q_repetition(spark, sf_dir):
    """Intra-document repetition quality signals (Gopher/C4-family):
    duplicate word / 2-gram / 5-gram fractions. Map-only plan — split +
    array lambdas + array_distinct, zero shuffles (operators/text.py
    ``repetition_stats``)."""
    from cov_tiles_spark.operators.text import repetition_stats

    d = _t(spark, sf_dir, "documents")
    # pin parallelism for the gate run: the operator itself stays
    # map-only (plan-pinned), but the single-row-group scan would run
    # the whole array stage on one task — and the final orderBy's range
    # sampler executes it twice
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return repetition_stats(d).orderBy("doc_id")


@gate(f"""
    SELECT doc_id, clean_text, n_tokens, n_removed
    FROM read_parquet('{_ORACLE_DIR}/q_span_dedup.parquet')
    ORDER BY doc_id
""")
def q_span_dedup(spark, sf_dir):
    """Exact duplicated-substring removal (ExactSubstr, Lee et al. 2022;
    operators/spandedup.py): every duplicated 8-token window is cut,
    keeping the min-(doc,pos) occurrence. Boilerplate passages planted
    on every 20th / 7th document give cross-doc duplicated spans; the
    oracle is an independent pure-python twin keyed on exact token
    tuples (no hashing), so a rolling-hash collision would fail the
    gate."""
    from cov_tiles_spark.operators.spandedup import exact_span_dedup

    d = _t(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 20 == 0, F.lit(" " + BOILER_A)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" " + BOILER_B)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return exact_span_dedup(corpus, "text", "doc_id", k=8).orderBy("doc_id")


@gate("""
    WITH toks AS (
      SELECT doc_id,
        cast(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE length(text) - length(replace(text, ' ', '')) + 1
        END AS BIGINT) AS n_tokens
      FROM documents
    ), h AS (
      SELECT doc_id, n_tokens,
        cast((xor(h1, h1 >> 15) * 2246822519) % 2147483648
             AS BIGINT) AS hh
      FROM (
        SELECT doc_id, n_tokens,
          (((((doc_id % 2147483648) + 2147483648) % 2147483648
             + 1) % 2147483648) * 2654435761 + 1)
            % 2147483648 AS h1
        FROM toks)
      WHERE n_tokens > 0
    ), placed AS (
      SELECT doc_id, n_tokens, cast(hh % 8 AS INT) AS shard, hh,
        cast(coalesce(sum(n_tokens) OVER (
          PARTITION BY hh % 8 ORDER BY hh, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          0) AS BIGINT) AS off
      FROM h
    )
    SELECT doc_id, shard, seq,
      cast(greatest(off, seq*256) - off AS BIGINT) AS tok_start,
      cast(least(off + n_tokens, (seq+1)*256) - off AS BIGINT)
        AS tok_end,
      cast(greatest(off, seq*256) - seq*256 AS BIGINT) AS seq_off
    FROM placed,
      unnest(generate_series(off // 256,
                             (off + n_tokens - 1) // 256)) AS t(seq)
    ORDER BY doc_id, seq
""")
def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk training-sequence packing (operators/packing.py
    pack_concat): documents laid end-to-end in hash order inside 8
    shards, cut every 256 tokens; one row per (doc, sequence) span.
    Fully JVM-side (window prefix sum + arithmetic span explode); the
    DuckDB twin recomputes the ENTIRE packing — hash, shard, prefix
    sum, span generate_series — live in SQL."""
    from cov_tiles_spark.operators.packing import pack_concat

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    n = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(spaces + 1)
    docs = d.select("doc_id", n.cast("long").alias("n_tokens"))
    return pack_concat(
        docs, "doc_id", "n_tokens", max_len=256, num_shards=8
    ).orderBy("doc_id", "seq")


@gate(f"""
    SELECT doc_id, shard, seq, seq_pos, n_tokens, oversize
    FROM read_parquet('{_ORACLE_DIR}/q_pack_bins.parquet')
    ORDER BY doc_id
""")
def q_pack_bins(spark, sf_dir):
    """Next-fit whole-document packing (operators/packing.py pack_bins):
    same hash order, docs never split, oversize docs flagged alone in
    their sequence. The per-shard recurrence is sequential (sorted-stream
    mapInPandas), so the oracle is an independent pure-python twin
    (scripts/build_oracles.py) replaying the same deterministic
    definition."""
    from cov_tiles_spark.operators.packing import pack_bins

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    n = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(spaces + 1)
    docs = d.select("doc_id", n.cast("long").alias("n_tokens"))
    return pack_bins(
        docs, "doc_id", "n_tokens", max_len=128, num_shards=8
    ).orderBy("doc_id")


@gate("""
    WITH dims AS (
      SELECT doc_id AS image_id,
        [16, 32, 64][cast(doc_id % 3 AS INT) + 1] AS w,
        [16, 32, 48][cast((doc_id // 3) % 3 AS INT) + 1] AS h
      FROM documents
    ), hsh AS (
      SELECT image_id, w, h,
        cast((xor(h1, h1 >> 15) * 2246822519) % 2147483648
             AS BIGINT) AS hh
      FROM (
        SELECT image_id, w, h,
          (((((image_id % 2147483648) + 2147483648) % 2147483648
             + 1) % 2147483648) * 2654435761 + 1)
            % 2147483648 AS h1
        FROM dims)
    ), buckets(i, bw, bh) AS (
      VALUES (0,256,256),(1,288,224),(2,224,288),(3,320,192),
             (4,192,320),(5,384,128),(6,128,384)
    ), best AS (
      SELECT image_id, hh, i, bw, bh
      FROM hsh CROSS JOIN buckets
      QUALIFY row_number() OVER (
        PARTITION BY image_id
        ORDER BY abs(cast(w AS DOUBLE)/cast(h AS DOUBLE)
                     - cast(bw AS DOUBLE)/cast(bh AS DOUBLE)), i
      ) = 1
    )
    SELECT image_id, cast(i AS INT) AS bucket,
      cast(bw AS INT) AS bucket_w, cast(bh AS INT) AS bucket_h,
      cast(hh % 8 AS INT) AS shard,
      cast((row_number() OVER (
         PARTITION BY i, hh % 8 ORDER BY hh, image_id) - 1) // 16
         AS BIGINT) AS batch,
      cast((row_number() OVER (
         PARTITION BY i, hh % 8 ORDER BY hh, image_id) - 1) % 16
         AS INT) AS batch_pos
    FROM best ORDER BY image_id
""")
def q_aspect_buckets(spark, sf_dir):
    """Aspect-ratio bucketing + batch packing for variable-resolution
    image training (operators/packing.py aspect_buckets): each image
    goes to the bucket with the nearest aspect ratio (argmin of
    |w/h - bw/bh| in double — both engines evaluate the identical IEEE
    expression), then deterministic hash-ordered batches of 16 inside
    (bucket, shard). Image dims derive from the id by the synth
    corpus's own 3x3 grid (io/synth.py row_params) so the twin can
    rebuild them in SQL."""
    from cov_tiles_spark.operators.packing import aspect_buckets

    d = _t(spark, sf_dir, "documents")
    dims = d.select(
        F.col("doc_id").alias("image_id"),
        F.element_at(
            F.array(F.lit(16), F.lit(32), F.lit(64)),
            F.pmod(F.col("doc_id"), F.lit(3)).cast("int") + 1,
        ).alias("w"),
        F.element_at(
            F.array(F.lit(16), F.lit(32), F.lit(48)),
            F.pmod(
                (F.col("doc_id") / 3).cast("long"), F.lit(3)
            ).cast("int") + 1,
        ).alias("h"),
    )
    return aspect_buckets(
        dims, "image_id", "w", "h", batch_size=16, num_shards=8
    ).orderBy("image_id")


@gate(f"""
    WITH corpus AS (
        SELECT doc_id,
               regexp_replace(text, '((?:\\S+ ){{11}})(\\S+) ',
                              '\\1\\2' || chr(10), 'g')
               || CASE WHEN doc_id % 5 = 0
                       THEN chr(10) || '{PLANT_LINE}'
                       ELSE '' END AS t
        FROM documents
    ),
    lines AS (
        SELECT doc_id,
               unnest(string_split(t, chr(10))) AS line,
               generate_subscripts(string_split(t, chr(10)), 1) - 1
                   AS line_idx
        FROM corpus
    ),
    filt AS (
        SELECT * FROM lines
        WHERE len(string_split(line, ' ')) >= 4
          AND NOT list_contains(string_split(line, ' '), 'slow')
    ),
    keepers AS (
        SELECT line, min(doc_id * 100000 + line_idx) AS kk
        FROM filt GROUP BY line
    ),
    kept AS (
        SELECT f.doc_id, f.line_idx, f.line
        FROM filt f JOIN keepers k ON f.line = k.line
        WHERE f.doc_id * 100000 + f.line_idx = k.kk
    ),
    rebuilt AS (
        SELECT doc_id,
               string_agg(line, chr(10) ORDER BY line_idx)
                   AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT c.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(len(string_split(c.t, chr(10))) AS INT) AS n_lines,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
    FROM corpus c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id
    ORDER BY c.doc_id
""")
def q_c4_clean(spark, sf_dir):
    """C4-style line cleaning (operators/cleaning.py): min-4-words line
    filter + badword line drop + corpus-GLOBAL line dedup (keep the
    min-(doc,line) occurrence) + document reassembly. Fully JVM-side,
    so the twin is live DuckDB SQL recomputing the whole pass."""
    from cov_tiles_spark.operators.cleaning import c4_clean

    d = _t(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), LINE_PAT, "$1\n"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\n" + PLANT_LINE)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return c4_clean(
        corpus, "text", "doc_id", min_words_per_line=4, badwords=["slow"]
    ).orderBy("doc_id")


@gate("""
    WITH corpus AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 13 = 0 AND doc_id % 2 = 0
                    THEN ' zzqq zzqq'
                    WHEN doc_id % 13 = 0 AND doc_id % 2 = 1
                    THEN ' qqxx'
                    ELSE '' END AS text
        FROM documents
    ),
    ttoks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1)
                   AS pos
        FROM corpus WHERE doc_id % 2 = 0
    ),
    uni AS (SELECT tok, count(*) AS c1 FROM ttoks GROUP BY tok),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM ttoks),
    big AS (
        SELECT a.tok AS ctx, b.tok AS tok, count(*) AS c2
        FROM ttoks a JOIN ttoks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY a.tok, b.tok
    ),
    stoks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1)
                   AS pos
        FROM corpus
    ),
    pairs AS (
        SELECT a.doc_id, a.tok AS ctx, b.tok AS tok
        FROM stoks a JOIN stoks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    scored AS (
        SELECT p.doc_id,
               CASE WHEN bg.c2 IS NOT NULL
                    THEN log10(bg.c2 / uc.c1)
                    WHEN ut.c1 IS NOT NULL
                    THEN log10(0.4 * ut.c1 / (SELECT t FROM tot))
                    ELSE log10(0.4 * 1e-10) END AS lp,
               CASE WHEN ut.c1 IS NULL THEN 1 ELSE 0 END AS oov
        FROM pairs p
        LEFT JOIN big bg ON p.ctx = bg.ctx AND p.tok = bg.tok
        LEFT JOIN uni uc ON p.ctx = uc.tok
        LEFT JOIN uni ut ON p.tok = ut.tok
    ),
    per AS (
        SELECT doc_id, count(*) AS n_scored,
               sum(oov) AS n_oov, sum(lp) AS lp
        FROM scored GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(coalesce(p.n_scored, 0) AS BIGINT) AS n_scored,
           CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
           round(coalesce(p.lp, 0.0), 4) AS logprob,
           round(CASE WHEN coalesce(p.n_scored, 0) > 0
                      THEN -p.lp / p.n_scored
                      ELSE 0.0 END, 4) AS log_ppl,
           round(CASE WHEN coalesce(p.n_scored, 0) > 0
                      THEN -p.lp / p.n_scored
                      ELSE 0.0 END, 4) <= 3.0 AS keep
    FROM corpus c LEFT JOIN per p ON c.doc_id = p.doc_id
    ORDER BY c.doc_id
""")
def q_lm_filter(spark, sf_dir):
    """CCNet-style bigram-LM perplexity scoring (operators/ngram_lm.py):
    train stupid-backoff counts on the even-doc half, score every doc.
    Planted tokens exercise all three probability paths: ' zzqq zzqq'
    on even 13-multiples (in-train rare token -> bigram + backoff),
    ' qqxx' on odd 13-multiples (never trained -> OOV floor).  The
    DuckDB twin recomputes train AND score end-to-end in SQL.  log_ppl
    (= -logprob/n, bounded ~[0, 10.4]) is emitted instead of raw
    perplexity so 4-dp rounding is robust for OOV-heavy docs (raw ppl
    reaches 1e10, where engine log10/pow ulp differences survive
    fixed-dp rounding); the keep flag thresholds the ROUNDED log_ppl
    identically in both engines."""
    from cov_tiles_spark.operators.ngram_lm import lm_score, ngram_lm_counts

    d = _t(spark, sf_dir, "documents")
    even13 = (F.col("doc_id") % 13 == 0) & (F.col("doc_id") % 2 == 0)
    odd13 = (F.col("doc_id") % 13 == 0) & (F.col("doc_id") % 2 == 1)
    corpus = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(even13, F.lit(" zzqq zzqq")).otherwise(F.lit("")),
            F.when(odd13, F.lit(" qqxx")).otherwise(F.lit("")),
        ).alias("text"),
    )
    train = corpus.filter(F.col("doc_id") % 2 == 0)
    big, uni, total = ngram_lm_counts(train, "text", "doc_id")
    s = lm_score(corpus, big, uni, total, "text", "doc_id")
    log_ppl = F.round(
        F.when(F.col("n_scored") > 0, -F.col("logprob") / F.col("n_scored"))
        .otherwise(F.lit(0.0)),
        4,
    )
    return s.select(
        "doc_id",
        "n_scored",
        "n_oov",
        F.round("logprob", 4).alias("logprob"),
        log_ppl.alias("log_ppl"),
        (log_ppl <= 3.0).alias("keep"),
    ).orderBy("doc_id")


@gate(f"""
    SELECT id_a, id_b, jaccard_est
    FROM read_parquet('{_ORACLE_DIR}/q_minhash_dedup.parquet')
    ORDER BY id_a, id_b
""")
def q_minhash_dedup(spark, sf_dir):
    """MinHash+LSH near-dup pairs on documents + planted exact copies
    (dedup #2; pandas-UDF signatures -> rows-only driver check, exactness
    vs planted ground truth asserted in pytest)."""
    from cov_tiles_spark.operators.dedup import minhash_near_dups

    d = _t(spark, sf_dir, "documents")
    planted = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = d.select("doc_id", "text").unionAll(planted)
    return minhash_near_dups(
        corpus, "text", "doc_id", threshold=0.9
    ).orderBy("id_a", "id_b")


@gate(f"""
    SELECT doc_id, is_contaminated
    FROM read_parquet('{_ORACLE_DIR}/q_decontaminate.parquet')
    ORDER BY doc_id
""")
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/decontam.py — the standard
    13-word-gram eval-overlap pass): every 50th document is the 'eval
    set'; the corpus (docs + planted copies) is flagged where any 13-gram
    overlaps. Integer-exact rolling hashes, so the independent scalar
    oracle (scripts/build_oracles.py) matches bit-for-bit."""
    from cov_tiles_spark.operators.decontam import decontaminate

    d = _t(spark, sf_dir, "documents")
    planted = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = d.select("doc_id", "text").unionAll(planted)
    bench = d.filter(F.col("doc_id") % 50 == 0).select("text")
    return (
        decontaminate(corpus, bench)
        .select("doc_id", "is_contaminated")
        .orderBy("doc_id")
    )


@gate(f"""
    SELECT doc_id, cluster, is_canonical
    FROM read_parquet('{_ORACLE_DIR}/q_dup_clusters.parquet')
    ORDER BY doc_id
""")
def q_dup_clusters(spark, sf_dir):
    """Transitive closure of the minhash near-dup pairs -> one canonical
    doc per duplicate cluster (dedup #2b: pairs alone don't dedup a
    corpus — a~b, b~c must keep exactly one of three). Alternating
    large/small-star connected components (operators/cluster.py), checked
    against an independent path-compressed union-find closure of the
    independently-recomputed pair set (scripts/build_oracles.py)."""
    from cov_tiles_spark.operators.cluster import dedup_clusters
    from cov_tiles_spark.operators.dedup import minhash_near_dups

    d = _t(spark, sf_dir, "documents")
    planted = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = d.select("doc_id", "text").unionAll(planted)
    pairs = minhash_near_dups(corpus, "text", "doc_id", threshold=0.9)
    return (
        dedup_clusters(corpus, pairs)
        .select("doc_id", "cluster", "is_canonical")
        .orderBy("doc_id")
    )


@gate(f"""
    SELECT id_a, id_b, hamming
    FROM read_parquet('{_ORACLE_DIR}/q_simhash_dedup.parquet')
    ORDER BY id_a, id_b
""")
def q_simhash_dedup(spark, sf_dir):
    """SimHash near-dup pairs (dedup #3; rows-only)."""
    from cov_tiles_spark.operators.dedup import simhash_near_dups

    d = _t(spark, sf_dir, "documents")
    planted = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = d.select("doc_id", "text").unionAll(planted)
    return simhash_near_dups(corpus, "text", "doc_id", max_hamming=3).orderBy(
        "id_a", "id_b"
    )


@gate("""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             round(
               list_dot_product(ev, qv)
               / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))),
               6) AS c
      FROM (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
            FROM embeddings) CROSS JOIN q)
    SELECT cast(row_number() OVER (ORDER BY c DESC, vec_id) as int) AS rank,
           vec_id
    FROM scored ORDER BY c DESC, vec_id LIMIT 10
""")
def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 embedding (similarity #1).

    Delegates to operators.similarity.cosine_topk — distributed
    ``orderBy().limit`` (TakeOrderedAndProject: per-partition top-k heaps,
    never a single-partition global window). Ordering key is
    round(cosine, 6) with vec_id tie-break so the DuckDB twin's float
    summation order cannot flip ranks; cosine stays out of the output hash.
    """
    from cov_tiles_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return (
        cosine_topk(emb, "embedding", "vec_id", list(qvec), 10, order_round=6)
        .select("rank", F.col("id").alias("vec_id"))
    )


@gate(f"""
    SELECT id_a, id_b
    FROM read_parquet('{_ORACLE_DIR}/q_ngram_jaccard.parquet')
    ORDER BY id_a, id_b
""")
def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (dedup #4) on documents +
    planted copies — hash-blocked candidates, set-intersection Jaccard
    JVM-side. Oracle: independent scalar blocking + set math
    (scripts/build_oracles.py). Output is the id pair set (the jaccard
    float stays out of the hash; thresholding is checked by membership).
    """
    from cov_tiles_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    planted = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = d.select("doc_id", "text").unionAll(planted)
    return (
        ngram_jaccard_pairs(corpus, "text", "doc_id", n=3, threshold=0.5)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


@gate("""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 1),
    scored AS (
      SELECT vec_id,
             round(
               list_dot_product(ev, qv)
               / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))),
               6) AS c
      FROM (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
            FROM embeddings) CROSS JOIN q)
    SELECT cast(row_number() OVER (ORDER BY c DESC, vec_id) as int) AS rank,
           vec_id
    FROM scored ORDER BY c DESC, vec_id LIMIT 10
""")
def q_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) ANN top-10 vs the vec_id=1 embedding
    (similarity #2 — the clusterable-data scale path: spherical-k-means
    coarse quantizer + inverted-list probe + exact re-rank,
    operators/similarity.py ivf_*). Gate setting probes ALL lists so IVF
    degrades to provably-exact brute force and the DuckDB twin is plain
    SQL top-k; partial-probe recall is pytest-covered on clustered data.
    """
    from cov_tiles_spark.operators.similarity import (
        ivf_topk, ivf_train_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]
    cents = ivf_train_centroids(emb, "embedding", "vec_id", n_centroids=8)
    return (
        ivf_topk(
            emb, "embedding", "vec_id", list(qvec), 10, cents,
            nprobe=8, order_round=6,
        )
        .select("rank", F.col("id").alias("vec_id"))
    )


@gate("""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 2),
    scored AS (
      SELECT vec_id, round(list_dot_product(ev, qv), 6) AS d
      FROM (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
            FROM embeddings) CROSS JOIN q)
    SELECT cast(row_number() OVER (ORDER BY d DESC, vec_id) as int) AS rank,
           vec_id
    FROM scored ORDER BY d DESC, vec_id LIMIT 10
""")
def q_pq_rerank(spark, sf_dir):
    """Product-quantization ANN (operators/pq.py — the memory-scale
    path: 64xf32 vectors stored as 8 one-byte codes, scored by ADC table
    lookups without reconstructing): ADC-scored candidates -> exact
    dot-product re-rank -> top-10. Gate setting keeps ALL candidates so
    the re-rank is provably exact and the DuckDB twin is the plain exact
    top-k (the IVF probe-all precedent — sf0.01 embeddings are
    unclustered random vectors, where bounded-candidate recall is a
    data property, not an operator property); partial-candidate recall
    is pytest-covered on clustered corpora."""
    from cov_tiles_spark.operators.pq import (
        pq_candidate_ids, pq_encode, pq_train,
    )
    from cov_tiles_spark.operators.similarity import _dot_expr

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in
            emb.filter(F.col("vec_id") == 2).select("embedding").collect()[0][0]]
    cb = pq_train(emb, "embedding", "vec_id", dim=64, m=8, nbits=4)
    # candidate k = |corpus|: a fixed shortlist (500) silently loses
    # exactness as the corpus scales (5 of the true top-10 dropped at
    # sf0.1) — the gate's contract is the provably-exact all-candidate
    # setting at ANY sf; partial-shortlist recall is a data property,
    # pytest-covered on clustered corpora
    # candidate IDs only (pq_candidate_ids): the old pq_topk call ran a
    # single-partition rank window over the FULL |corpus| candidate list
    # and then threw the ranks away ("Moving all data to a single
    # partition" in the gate run — round-5 verdict item 3); the ID set
    # comes from the same (score desc, id) TakeOrdered, so the semi-join
    # input — and the output — is unchanged.
    cand = pq_candidate_ids(
        pq_encode(emb, "embedding", cb), "vec_id", qvec, emb.count(), cb
    ).select(F.col("id").alias("vec_id"))
    q = F.array(*[F.lit(v) for v in qvec])
    rer = (
        emb.join(cand, "vec_id", "left_semi")
        .select(
            "vec_id",
            F.round(_dot_expr(F.col("embedding"), q), 6).alias("_d"),
        )
        .orderBy(F.col("_d").desc(), "vec_id")
        .limit(10)
    )
    # rank over the 10 surviving rows; constant partition key = same
    # single-partition execution the post-limit shape implies, without
    # the unpartitioned-window warning
    return rer.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(_spk("vec_id")).orderBy(F.col("_d").desc(), "vec_id")
        ),
    ).select("rank", "vec_id")


@gate(f"""
    SELECT id_a, id_b
    FROM read_parquet('{_ORACLE_DIR}/q_embedding_near_dups.parquet')
    ORDER BY id_a, id_b
""")
def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs via hyperplane LSH (dedup #5;
    rows-only — pandas-UDF signatures)."""
    from cov_tiles_spark.operators.dedup import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionAll(planted)
    return embedding_near_dups(
        corpus, "embedding", "vec_id", dim=64, threshold=0.999
    ).select("id_a", "id_b").orderBy("id_a", "id_b")


@gate(f"""
    SELECT doc_id, fp
    FROM read_parquet('{_ORACLE_DIR}/q_doc_fingerprint.parquet')
    ORDER BY doc_id
""")
def q_doc_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprints (text analysis #4; rows-only)."""
    from cov_tiles_spark.operators.text import fingerprint64

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint64(F.col("text")).alias("fp")).orderBy("doc_id")


@gate(f"""
    SELECT image_id, fmt, w, h, caption, phash, phash_dist,
           payload_md5, sq_err, n_subpx, psnr40_ok
    FROM read_parquet('{_ORACLE_DIR}/q_image_invariants.parquet')
    ORDER BY image_id
""")
def q_image_invariants(spark, sf_dir):
    """Per-row image+caption invariants over the deterministic binary
    corpus at the exact BASELINE.json input_hint schema
    (image_id/bytes/w/h/fmt/caption/phash — io/synth.py images_df):

    - ``payload_md5``: md5 of the stored encoded bytes — byte-for-byte
      agreement between the distributed encoder and the oracle's
      independent scalar encoder (raw / byte-RLE / dct40);
    - ``caption``: byte-for-byte caption equality ("captions match
      byte-for-byte", input_hint);
    - ``phash`` (stored) and ``phash_dist`` (Hamming distance between the
      stored hash and the hash recomputed from the *decoded* pixels);
    - ``sq_err``/``n_subpx``/``psnr40_ok``: the lossy-codec invariant
      "decoded-pixel allclose (PSNR>=40dB for lossy)" computed from the
      exact integer squared-error sum, so psnr>=40 is the precise integer
      inequality sq_err * 10^4 <= 255^2 * n_subpx on both engines.

    Decode / re-encode / hash run once per row inside one ``mapInPandas``
    pass (numpy kernels per image). Oracle: independent single-node
    scalar implementation (scripts/build_oracles.py) -> committed parquet.
    """
    import hashlib

    import numpy as np

    from cov_tiles_spark.io.synth import images_df
    from cov_tiles_spark.operators.images import (
        decode_image, encode_image, hamming64, phash64,
    )
    from cov_tiles_spark.rows import map_rows

    def _check(data, w, h, fmt, phash):
        data = bytes(data)
        px = decode_image(data, int(w), int(h), fmt)
        dist = int(hamming64(np.array([phash64(px)]), np.array([phash]))[0])
        lossy = decode_image(encode_image(px, "dct40"), int(w), int(h), "dct40")
        sq = int(((px.astype(np.int64) - lossy.astype(np.int64)) ** 2).sum())
        md5 = hashlib.md5(data).hexdigest()
        return [(dist, md5, sq, px.size, sq * 10_000 <= 255 * 255 * px.size)]

    out_schema = (
        "image_id string, fmt string, w int, h int, caption string, "
        "phash long, phash_dist int, payload_md5 string, sq_err long, "
        "n_subpx long, psnr40_ok boolean"
    )
    return map_rows(
        images_df(spark, N_IMAGES, partitions=8), out_schema,
        ("bytes", "w", "h", "fmt", "phash"),
        ("phash_dist", "payload_md5", "sq_err", "n_subpx", "psnr40_ok"), _check,
    ).orderBy("image_id")


@gate(f"""
    SELECT asset_id, sr, fmt, n_samples, peak, energy, zero_crossings
    FROM read_parquet('{_ORACLE_DIR}/q_audio_features.parquet')
    ORDER BY asset_id
""")
def q_audio_features(spark, sf_dir):
    """Audio decode + feature extraction over the deterministic pcm16
    corpus (operators/av.py): integer-exact per-asset features (sample
    count, peak, energy = exact int64 sum of squares, zero-crossing
    count) from one vectorized mapInPandas pass. Oracle: independent
    scalar single-node implementation (scripts/build_oracles.py)."""
    from cov_tiles_spark.io.synth import audio_df
    from cov_tiles_spark.operators.av import audio_features

    return (
        audio_features(audio_df(spark, 300))
        .select("asset_id", "sr", "fmt", "n_samples", "peak", "energy",
                "zero_crossings")
        .orderBy("asset_id")
    )
