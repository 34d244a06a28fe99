"""One row-map driver: a per-row kernel over the Arrow batch stream, the
shape of the paper's per-feature converter loop (reference
``CovtConverter.java:103-175``). On 200k polylines the pure-Python kernel,
not the pandas boundary, dominated the cost, so the driver keeps
``mapInPandas``."""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_rows(
    df: DataFrame,
    schema: StructType | str,
    args: Sequence[str],
    made: Sequence[str],
    kernel: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """Map-only: ``kernel(*row[args])`` returns one tuple of the ``made``
    columns per output row, so returning none drops the row and several
    explode it. Every other ``schema`` column is carried from the input
    row, and only the ``args`` and carried columns cross into Python.
    Output order is input order, then kernel order.

    A batch with no output rows is not yielded: an empty frame has
    all-object dtypes and can fail the Arrow conversion against the
    declared schema (e.g. ``array<long>``)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = [f.name for f in schema.fields]
    carried = [n for n in names if n not in made]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src: list[int] = []
            rows: list[tuple] = []
            for i, vals in enumerate(zip(*(pdf[a] for a in args))):
                for t in kernel(*vals):
                    src.append(i)
                    rows.append(t)
            if not rows:
                continue
            # positional take: no carried columns still gives len(src) rows
            out = pdf[carried].iloc[src].reset_index(drop=True)
            for name, col in zip(made, zip(*rows)):
                out[name] = list(col)
            yield out[names]

    return df.select(*dict.fromkeys([*args, *carried])).mapInPandas(run, schema)
