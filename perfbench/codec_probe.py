"""Driver-side throughput of the pure-Python codecs in ``media``.

Inputs are built like the keys' inputs: closed-form images (a seeded
gradient plus texture), 64 KiB of the generated documents' text, and
the benchmark's own lineitem parquet file.  Each
decoder runs for about ``budget_s`` seconds; throughput is decoded
output megabytes per second (file megabytes for the parquet column
reader, whose output is Python values).
"""

from __future__ import annotations

import os
import time

import numpy as np


def _image(rng, h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    a, b = rng.integers(1, 7, 2)
    base = (xx * a + yy * b + rng.integers(0, 32, (h, w))) % 256
    return base.astype(np.uint8)


def _rate(fn, arg, out_bytes: int, budget_s: float) -> float:
    n, t0 = 0, time.perf_counter()
    while True:
        fn(arg)
        n += 1
        el = time.perf_counter() - t0
        if el >= budget_s:
            return n * out_bytes / el / 1e6


def probe(data_dir: str, seed: int, budget_s: float = 0.25) -> dict[str, float]:
    from downloader_spark import media

    rng = np.random.default_rng(seed)
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])
    text = "\n".join(docs.column("text").to_pylist()).encode()[: 64 * 1024]
    img = _image(rng, 64, 64)
    rgb = np.stack([img, img[::-1], img[:, ::-1]], axis=-1)
    png = media.encode_png(rgb)
    jpg = media.encode_jpeg_gray(img, quality=75)
    snappy = media.snappy_encode(text)
    deflated = media.deflate_encode(text)
    with open(os.path.join(data_dir, "lineitem.parquet"), "rb") as f:
        parquet = f.read()
    # decoded output is checked once, outside the timing
    if media.snappy_decode(snappy) != text or media.inflate(deflated) != text:
        raise ValueError("codec probe: round trip mismatch")
    if not np.array_equal(media.decode_png(png), rgb):
        raise ValueError("codec probe: png round trip mismatch")
    return {
        "media.snappy_mb_s": _rate(media.snappy_decode, snappy, len(text), budget_s),
        "media.inflate_mb_s": _rate(media.inflate, deflated, len(text), budget_s),
        "media.png_decode_mb_s": _rate(media.decode_png, png, rgb.nbytes, budget_s),
        "media.jpeg_decode_mb_s": _rate(media.decode_jpeg_gray, jpg, img.nbytes, budget_s),
        "media.parquet_column_mb_s": _rate(
            lambda d: media.read_parquet_column(d, "l_quantity"), parquet, len(parquet), budget_s
        ),
    }
