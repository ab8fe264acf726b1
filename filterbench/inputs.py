"""Seeded input tables for the three benchmark workloads.

Every row is a pure function of (workload seed, row index). The tables are
written as parquet by a pool of plain Python processes, which also compute
the expected answer for their rows (``oracle.expected_part``) before the
JVM starts; the engine only ever reads the written tables.

- ``standard``: the rows of the repository's synthetic captions mix
  (``sources.synth``: ~200-char noisy multilingual captions, 16-64 px
  images), made by the generator ``captions_df`` runs on its executors.
  ``captions_df`` always starts at row 0, so the seed selects a disjoint
  row-index window instead.
- ``image_heavy``: 96-192 px images, mostly lossy jpeg/webp, ~1% truncated
  streams, one clean seed sentence per caption — image verify dominates.
"""

from __future__ import annotations

import hashlib
import multiprocessing as mp
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from corpusama_spark.functions.seedtext import LANGS, SEED_SENTENCES
from corpusama_spark.io.imagecodec import encode_png, encode_qimg
from corpusama_spark.sources import synth
from filterbench import oracle

IMAGE_SIZES = (96, 128, 160, 192)
# rows per seed window of the standard generator: far above any table size
# used here, so windows of different seeds never overlap
_WINDOW = 1 << 24
ARROW_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)


def standard_rows(seed: int, start: int, stop: int) -> pd.DataFrame:
    base = (seed % (1 << 31)) * _WINDOW
    return synth._gen_batch(pd.DataFrame({"id": range(base + start, base + stop)}))


def _phash(image_id: str) -> int:
    # same derivation as sources.synth: 64-bit signed from the id
    digest = hashlib.blake2b(image_id.encode(), digest_size=8).digest()
    return int.from_bytes(digest, "big") - (1 << 63)


def image_heavy_row(seed: int, idx: int) -> tuple:
    rng = np.random.Generator(np.random.Philox(key=[seed % (1 << 64), idx]))
    size = int(IMAGE_SIZES[int(rng.integers(0, len(IMAGE_SIZES)))])
    roll = int(rng.integers(0, 20))
    fmt = "png" if roll == 0 else ("jpeg" if roll % 2 else "webp")
    base = np.add.outer(
        np.arange(size, dtype=np.uint16), np.arange(size, dtype=np.uint16)
    )
    rgb = np.stack(
        [(base * (k + 1) + int(rng.integers(0, 251))) % 256 for k in range(3)],
        axis=-1,
    ).astype(np.uint8)
    data = encode_png(rgb) if fmt == "png" else encode_qimg(rgb, fmt)
    if rng.integers(0, 100) == 0:  # ~1% truncated streams
        data = data[: max(8, len(data) // 2)]
    sents = SEED_SENTENCES[LANGS[int(rng.integers(0, len(LANGS)))]]
    caption = sents[int(rng.integers(0, len(sents)))]
    image_id = hashlib.sha1(f"imgh-{seed}-{idx}".encode()).hexdigest()[:16]
    return (image_id, data, size, size, fmt, caption, _phash(image_id))


def image_heavy_rows(seed: int, start: int, stop: int) -> pd.DataFrame:
    return pd.DataFrame(
        [image_heavy_row(seed, i) for i in range(start, stop)],
        columns=ARROW_SCHEMA.names,
    )


ROWS = {"standard": standard_rows, "image_heavy": image_heavy_rows}


def write_part(
    kind: str,
    seed: int,
    start: int,
    stop: int,
    path: str,
    nbuckets: int | None,
    expect: bool,
) -> oracle.Summary | None:
    """Write rows ``start .. stop`` as one parquet file, or one per bucket
    directory ``bucket=<pmod(phash, nbuckets)>`` (the ``sources.synth.
    write_captions`` layout); return their expected summary if asked."""
    pdf = ROWS[kind](seed, start, stop)
    name = f"part-{start:09d}.parquet"
    if nbuckets is None:
        os.makedirs(path, exist_ok=True)
        table = pa.Table.from_pandas(pdf, schema=ARROW_SCHEMA, preserve_index=False)
        pq.write_table(table, os.path.join(path, name))
    else:
        for bucket, rows in pdf.groupby(pdf["phash"] % nbuckets):
            sub = os.path.join(path, f"bucket={bucket}")
            os.makedirs(sub, exist_ok=True)
            table = pa.Table.from_pandas(rows, schema=ARROW_SCHEMA, preserve_index=False)
            pq.write_table(table, os.path.join(sub, name))
    return oracle.expected_part(pdf) if expect else None


def prepare(
    kind: str, seed: int, rows: int, warm_rows: int,
    input_path: str, warm_path: str, nbuckets: int | None, procs: int,
) -> oracle.Summary:
    """Write a workload's input and warm-up tables in ``procs`` spawned
    processes; return the expected summary of the input rows."""
    bounds = np.linspace(0, rows, procs + 1).astype(int)
    tasks = [(kind, seed, rows, rows + warm_rows, warm_path, None, False)]
    tasks += [
        (kind, seed, int(a), int(b), input_path, nbuckets, True)
        for a, b in zip(bounds[:-1], bounds[1:])
    ]
    pool = mp.get_context("spawn").Pool(procs)
    try:
        parts = pool.starmap(write_part, tasks)
    except BaseException:
        pool.terminate()
        raise
    else:
        pool.close()
    finally:
        pool.join()
    return oracle.merge([p for p in parts if p is not None])
