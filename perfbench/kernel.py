"""Single-process timings of the decode kernel, with no Spark involved.

These give the ``functions`` and ``sources`` layers, and the window-stamp
control: if this number is low, the host was busy, whatever the code did.
"""

from __future__ import annotations

import statistics
import time

REPEATS = 5


def _per_item_ms(fn, items: list, repeats: int = REPEATS) -> float:
    """Median over ``repeats`` passes of the mean ms per call of ``fn``."""
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) * 1e3 / len(items)


def _doc_kernel(html: bytes) -> None:
    from studiocr_spark.functions.pagestats import compute_page_stats
    from studiocr_spark.sources.decode import bitmap_decode

    for _png, data, _text in bitmap_decode(html):
        compute_page_stats(data)


def kernel_ms_per_doc(htmls: list[bytes]) -> float:
    """``bitmap_decode`` plus ``compute_page_stats``: what the extract UDF
    runs per doc, minus everything Spark and Arrow add around it."""
    return _per_item_ms(_doc_kernel, htmls)


def layer_profile(htmls: list[bytes]) -> dict[str, float]:
    """Per-function cost on the given payloads (all must decode).
    ``kernel_ms_per_doc`` gives the whole per-doc kernel."""
    from studiocr_spark.functions.glyphs import decode_page_text, page_image_to_data
    from studiocr_spark.functions.pagestats import compute_page_stats
    from studiocr_spark.functions.png import decode_png
    from studiocr_spark.sources.decode import bitmap_decode

    decoded = [page for h in htmls for page in bitmap_decode(h)]
    pngs = [png for png, _data, _text in decoded]
    with_text = [(png, text) for png, _data, text in decoded]
    datas = [data for _png, data, _text in decoded]
    return {
        "functions.decode_png_ms_per_page": _per_item_ms(decode_png, pngs),
        "functions.decode_page_text_ms_per_page": _per_item_ms(decode_page_text, pngs),
        "functions.page_image_to_data_ms_per_page": _per_item_ms(
            lambda pt: page_image_to_data(*pt), with_text
        ),
        "functions.compute_page_stats_ms_per_page": _per_item_ms(
            compute_page_stats, datas
        ),
        "sources.bitmap_decode_ms_per_doc": _per_item_ms(bitmap_decode, htmls),
    }
