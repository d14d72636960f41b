"""Manual grouped-map: repartition + sortWithinPartitions + mapInPandas.

``DataFrame.groupBy(key).applyInPandas(fn)`` pays ~20 ms of pandas/Arrow
setup PER GROUP (measured round 1 — it dominated the tile-merge pipeline
at ~30k tiny groups; the rework there was 36-44x). This helper gives the
same per-group semantics for single-key, one-row-per-group kernels while
amortizing the overhead across whole Arrow batches:

1. one shuffle co-locates and orders each key's rows contiguously;
2. ONE ``mapInPandas`` walks the sorted stream, slicing groups out of
   each batch with numpy searchsorted — a group spanning a batch
   boundary is carried forward, so memory is bounded by the largest
   group (same bound as applyInPandas).

Used by pyramid_up / focal stencil / reproject warp / rasterize /
local_stats (every per-tile assembly kernel in the engine).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# output rows gathered before ``grouped_rows`` yields an Arrow batch
YIELD_EVERY = 64


def grouped_rows(
    df: DataFrame,
    key: str,
    row_fn: Callable[[int, pd.DataFrame], dict | None],
    schema,
) -> DataFrame:
    """Apply ``row_fn(key_value, group_pdf) -> row dict | None`` to every
    group of ``key`` (int64 column), one output row per group.

    Equivalent to groupBy(key).applyInPandas for one-row-per-group
    kernels, minus the per-group Arrow overhead. The shuffle has
    ``spark.sql.shuffle.partitions`` partitions.
    """
    n_part = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    cols = [f.name for f in schema.fields]
    arranged = df.repartition(n_part, key).sortWithinPartitions(key)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        out: list[dict] = []

        def run(pdf: pd.DataFrame) -> None:
            for kv, g in pdf.groupby(key, sort=False):
                row = row_fn(int(kv), g)
                if row is not None:
                    out.append(row)

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            keys = pdf[key].to_numpy(np.int64)
            # hold back the trailing group — it may continue next batch
            first_of_last = int(np.searchsorted(keys, keys[-1], side="left"))
            if first_of_last == 0:
                carry = pdf
                continue
            carry = pdf.iloc[first_of_last:]
            run(pdf.iloc[:first_of_last])
            if len(out) >= YIELD_EVERY:
                yield pd.DataFrame(out, columns=cols)
                out = []
        if carry is not None and len(carry):
            run(carry)
        if out:
            yield pd.DataFrame(out, columns=cols)

    return arranged.mapInPandas(gen, schema)
