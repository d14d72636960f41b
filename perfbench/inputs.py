"""Seeded input tables for the benchmark workloads.

Every table is a pure function of the seed. Ids start at a seeded
offset, so two seeds give different rows, different derived
coordinates (the engine derives lon/lat from integer ids) and
different results, while keeping the table sizes fixed. Tables are
written with pyarrow in the client process: staging needs no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from geotrellis_spark import synth

# sizes: small enough that one run of each workload fits the time budget
# set in BENCHMARK.json, large enough that per-row work shows next to
# Spark's fixed per-job cost
N_EVENTS = 30_000
N_CUSTOMERS = 1_500
N_ORDERS = 15_000
N_NATIONS = 25
N_DOCS = 3_000
N_EMBEDDINGS = 600
EMB_DIM = 64

_EVENT_TYPES = ("click", "view", "purchase", "error", "search")
_LANGS = ("en", "de", "fr", "es")
_SOURCES = tuple(f"src{i}" for i in range(6))
_STOPWORDS = ("the", "a", "and", "of", "to", "in")
# word shapes for synthetic text: consonant-vowel syllables give a large
# vocabulary, so unrelated documents share few 8-character shingles
_SYL = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[seed, stream]))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def events(seed: int, n: int = N_EVENTS) -> pa.Table:
    r = _rng(seed, 1)
    base = int(r.integers(0, 1_000_000_000))
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table({
        "event_id": pa.array(base + np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts0 + r.integers(0, 30 * 86_400 * 10**6, n).astype("timedelta64[us]")),
        "user_id": pa.array(r.integers(0, 1_000_000_000, n, dtype=np.int64)),
        "event_type": pa.array([_EVENT_TYPES[i] for i in r.integers(0, 5, n)]),
        "value": pa.array(np.round(r.uniform(0.0, 500.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def nation(seed: int) -> pa.Table:
    base = int(_rng(seed, 2).integers(0, 10_000))
    keys = base + np.arange(N_NATIONS, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in keys]),
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    })


def customer(seed: int) -> pa.Table:
    r = _rng(seed, 3)
    base = int(r.integers(0, 10_000_000))
    keys = base + np.arange(N_CUSTOMERS, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(np.round(r.uniform(-999, 9999, N_CUSTOMERS), 2)),
        "c_mktsegment": pa.array(["BUILDING"] * N_CUSTOMERS),
    })


def orders(seed: int) -> pa.Table:
    r = _rng(seed, 4)
    base = int(r.integers(0, 100_000_000))
    keys = base + np.arange(N_ORDERS, dtype=np.int64)
    return pa.table({
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(r.integers(0, N_CUSTOMERS, N_ORDERS, dtype=np.int64)),
        "o_totalprice": pa.array(np.round(r.uniform(1, 500_000, N_ORDERS), 2)),
    })


def _words(r: np.random.Generator, n: int) -> list[str]:
    stop = r.random(n) < 0.2
    stop_pick = r.integers(0, len(_STOPWORDS), n)
    n_syl = r.integers(2, 4, n)
    syl = r.integers(0, len(_SYL), (n, 3))
    return [
        _STOPWORDS[stop_pick[i]] if stop[i] else "".join(_SYL[k] for k in syl[i, : n_syl[i]])
        for i in range(n)
    ]


def documents(seed: int, n: int = N_DOCS) -> pa.Table:
    """Documents with the structure curation exists for: ~8% too short
    for the quality gate, ~10% exact copies, ~10% near-duplicates (one
    word changed) of an earlier document; the rest unrelated text."""
    r = _rng(seed, 5)
    base = int(r.integers(0, 1_000_000_000))
    u = r.random(n)
    src = r.integers(0, np.maximum(np.arange(n), 1))
    lengths = np.where(u < 0.28, r.integers(5, 19, n), r.integers(30, 90, n))
    texts: list[str] = []
    for i in range(n):
        if i > 10 and u[i] < 0.10:
            texts.append(texts[src[i]])
        elif i > 10 and u[i] < 0.20:
            words = texts[src[i]].split(" ")
            words[int(r.integers(0, len(words)))] = _words(r, 1)[0] + "x"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(_words(r, int(lengths[i]))))
    return pa.table({
        "doc_id": pa.array(base + np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in r.integers(0, len(_LANGS), n)]),
        "source": pa.array([_SOURCES[i] for i in r.integers(0, len(_SOURCES), n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, n: int = N_EMBEDDINGS) -> pa.Table:
    """Unit-scale float32 vectors; ~10% are noisy copies of an earlier
    vector (semantic duplicates), the rest independent."""
    r = _rng(seed, 6)
    base = int(r.integers(0, 1_000_000_000))
    vecs = r.normal(0.0, 0.125, (n, EMB_DIM))
    for i in range(10, n):
        if r.random() < 0.10:
            vecs[i] = vecs[int(r.integers(0, i))] + r.normal(0.0, 0.03, EMB_DIM)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(base + np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def image_window(seed: int, n: int) -> np.ndarray:
    """Ordinals of a seeded window of the deterministic images table
    (synth.make_row): contiguous, so synth's every-10th hot-spot skew
    is kept."""
    start = int(_rng(seed, 7).integers(0, 10_000_000))
    return start + np.arange(n, dtype=np.int64)


def images(ordinals: np.ndarray) -> pa.Table:
    rows = [synth.make_row(int(i)) for i in ordinals]
    cols = [f.name for f in synth.IMAGES_SCHEMA.fields]
    return pa.table(
        {c: [r[c] for r in rows] for c in cols},
        schema=pa.schema([
            ("image_id", pa.string()), ("bytes", pa.binary()),
            ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
            ("caption", pa.string()), ("phash", pa.int64()),
        ]),
    )


def stage_layer(base: str, ordinals: np.ndarray, zoom: int, paint) -> int:
    """Write the tiles of an image window as a stored layer in the
    Iceberg-shaped layout of ``iceberg_shape.write_tiles``
    (``tiles/layer=/zoom=/bucket=`` directories, rows sorted by cell_id
    within each file); ``paint(ordinals, zoom, col, row)`` gives a
    tile's pixels. Returns the number of data files."""
    from geotrellis_spark.core import codecs, sfc
    from geotrellis_spark.sources.iceberg_shape import N_CELL_BUCKETS
    from checks import tile_cover

    keys = sorted(tile_cover(ordinals, zoom))
    cols = np.array([k[0] for k in keys], dtype=np.int64)
    rows = np.array([k[1] for k in keys], dtype=np.int64)
    cells = sfc.zorder(cols, rows).astype(np.int64)
    tiles = [codecs.encode_tile(paint(ordinals, zoom, c, r), "png") for c, r in keys]
    n_files = 0
    for b in range(N_CELL_BUCKETS):
        idx = np.nonzero(cells % N_CELL_BUCKETS == b)[0]
        if len(idx) == 0:
            continue
        idx = idx[np.argsort(cells[idx], kind="stable")]
        d = os.path.join(base, "tiles", "layer=images", f"zoom={zoom}", f"bucket={b}")
        os.makedirs(d)
        _write(pa.table({
            "key_col": pa.array(cols[idx]), "key_row": pa.array(rows[idx]),
            "cell_id": pa.array(cells[idx]),
            "tile": pa.array([tiles[i] for i in idx], pa.binary()),
            "fmt": pa.array(["png"] * len(idx)),
            "w": pa.array([256] * len(idx), pa.int32()),
            "h": pa.array([256] * len(idx), pa.int32()),
            "cell_type": pa.array(["uint16ud0"] * len(idx)),
        }), os.path.join(d, "part-00000.parquet"))
        n_files += 1
    return n_files


def stage(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table as ``<out_dir>/<name>.parquet`` (the layout the
    engine's query plans and their DuckDB twins read)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
