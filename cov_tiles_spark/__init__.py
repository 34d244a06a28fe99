"""cov_tiles_spark — a PySpark-native spatial-join + cloud-optimized tiling engine.

A from-scratch re-expression of the capabilities of springmeyer/cov-tiles
(reference read-only at /root/reference) on Apache Spark:

- ``covt``     : pure-numpy codec kernels + COVT (gen-A) tile wire format
                 encoder/decoder, conformant with the reference's committed
                 golden fixtures (parser/js/data/{omt,bing,amazon}).
- ``spatial``  : lon/lat -> web-mercator -> ZXY tiling, Hilbert (S2-level-13
                 analogue) and hex (H3-res-9 analogue) cell indexes,
                 point-in-polygon and kNN spatial joins.
- ``operators``: large-scale training-data pipeline operators (dedup,
                 similarity search, text analysis, multimodal columns).
- ``pipeline`` : tile materialization (hash(z,x,y) exchange + sorted-stream
                 ``mapInArrow`` encode with a per-tile cap), salted joins
                 for hot keys, and IcebergLite lineage/checkpoint tables
                 (partitioned parquet + manifest, ``pipeline/lineage.py``).
- ``io``       : deterministic synthetic corpora (images+captions).

All heavy kernels are vectorized numpy inside Arrow-batched Python UDFs
(``mapInArrow`` on the tile path, pandas UDFs in the operators); the
relational plan is plain DataFrame API so Catalyst handles pushdown/pruning.
"""

__version__ = "0.1.0"
