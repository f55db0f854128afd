"""Document export + grid-search evaluation (S7 + the reference's eval driver).

- S7 PDF export (DocWindow.py:157-185): collect one document's page
  images ordered by page_no and concatenate into a portable container.
  The reference uses img2pdf driver-side; absent that dependency the
  sandbox packs the MPDF container (sources/decode.py) — same shape:
  a driver-side utility over a point-looked-up, ordered page set, NOT a
  distributed op.
- Parameter grid evaluation (Image_Preprocessing_Optimization/
  ImageGridSearch.py): run the extract with each config over a golden
  corpus, score predicted words against expected word lists with the
  reference's zero-one-loss (operators/eval.py), return the score table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.decode import pack_mpdf


def export_document(ocr_pages: DataFrame, url: str) -> bytes:
    """S7: one document's pages -> multi-page container bytes.

    The per-url filter partition-prunes; ordering by page_no matches the
    reference's page iteration (DocWindow.py:166-171). img2pdf can wrap
    the same page list when available.
    """
    rows = (
        ocr_pages.filter(F.col("url") == F.lit(url))
        .select("page_no", "image")
        .orderBy("page_no")
        .collect()
    )
    if not rows:
        raise ValueError(f"no pages for url {url!r}")
    try:
        import img2pdf  # type: ignore

        return img2pdf.convert([bytes(r.image) for r in rows])
    except ImportError:
        return pack_mpdf([bytes(r.image) for r in rows])


def grid_search_eval(
    spark: SparkSession,
    pages: DataFrame,
    configs: list[dict],
    tol: int | float = 0.2,
) -> DataFrame:
    """Evaluate extract configs against the corpus ground truth.

    ``configs``: [{"name": ..., "backend": ...}, ...] (``extract_raw`` kwargs).
    Score = mean per-url zero-one-loss of predicted words vs the words of
    the ground-truth ``text`` column (the reference's golden word lists,
    text_src/*.txt). Returns (config, mean_score, n_docs) sorted best
    first.
    """
    from .eval import accuracy_scores
    from .extract import blocks_from_raw, extract_raw

    expected = pages.select(
        "url", F.explode(F.split("text", " ")).alias("word")
    )
    results = []
    for cfg in configs:
        cfg = dict(cfg)
        name = cfg.pop("name")
        raw = extract_raw(pages, **cfg)
        predicted = (
            blocks_from_raw(raw.filter(F.col("error").isNull()))
            .filter(F.col("conf") >= 0)  # words only, not structural rows
            .select("url", F.col("text").alias("word"))
        )
        scores = accuracy_scores(predicted, expected, tol=tol)
        agg = scores.agg(
            F.avg("score").alias("mean_score"), F.count("*").alias("n_docs")
        ).collect()[0]
        results.append((name, float(agg.mean_score), int(agg.n_docs)))
    return spark.createDataFrame(
        results, "config string, mean_score double, n_docs long"
    ).orderBy(F.desc("mean_score"))
