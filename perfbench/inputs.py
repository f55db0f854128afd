"""Seeded inputs: a pages corpus with planted corrupt payloads, and a query mix.

Everything here is a pure function of the seed. Pages come from
``studiocr_spark.gen.make_doc`` at a seed-derived doc_id offset, so they keep
the generator's 10% multi-page and 30% hot-host mix. A fixed share of
payloads is corrupted (half truncated, half ``None``) so the quarantine path
runs on every workload. Queries are drawn from ``gen.VOCAB``.
"""

from __future__ import annotations

import multiprocessing
import os
import random
import threading

MIN_WORDS, MAX_WORDS = 200, 400
# every CORRUPT_EVERY-th doc (from a seeded phase) gets a bad payload
CORRUPT_EVERY = 50
MPDF_MAGIC = b"MPDF"


def doc_offset(seed: int) -> int:
    """First doc_id of the corpus for ``seed``: disjoint 10^6-wide ranges."""
    return 1_000_000 * (1 + seed % 1000)


def _make_docs(ids: list[int]) -> list[dict]:
    from studiocr_spark.gen import make_doc

    return [make_doc(i, MIN_WORDS, MAX_WORDS) for i in ids]


def make_corpus(seed: int, n_docs: int, procs: int) -> tuple[list[dict], set[str]]:
    """Rows of the pages table plus the set of urls whose payload is corrupt."""
    first = doc_offset(seed)
    chunks = [list(range(first + i, first + n_docs, procs)) for i in range(procs)]
    # make_doc costs about 15 ms a doc in one process, so 2400 docs take
    # about 37 s there and 10 s over 4 forked workers. Forking is safe only
    # while this process has no other thread: the run calls this before it
    # starts the JVM or any thread. The pool's exit terminates and the join
    # waits for every worker.
    if threading.active_count() != 1:
        raise RuntimeError("make_corpus forks, so it must run before any thread starts")
    pool = multiprocessing.get_context("fork").Pool(procs)
    with pool:
        parts = pool.map(_make_docs, chunks)
    pool.join()
    rows = sorted((r for part in parts for r in part), key=lambda r: r["warc_ts"])
    phase = random.Random(seed).randrange(CORRUPT_EVERY)
    corrupt: set[str] = set()
    for i, row in enumerate(rows):
        if i % CORRUPT_EVERY == phase:
            if (i // CORRUPT_EVERY) % 2:
                row["html"] = None
            else:
                row["html"] = row["html"][: len(row["html"]) // 2]
            corrupt.add(row["url"])
    return rows, corrupt


def write_corpus(rows: list[dict], path: str, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files (scan parallelism)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    for k in range(n_files):
        part = rows[k::n_files]
        pq.write_table(
            pa.Table.from_pylist(part, schema=schema),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


def _cased(rng: random.Random, word: str) -> str:
    return rng.choice([word, word.upper(), word.capitalize()])


def make_queries(seed: int, rows: list[dict], corrupt: set[str]) -> dict[str, list]:
    """Three queries per search type, one from each class below.

    - short words, which include the hot term ``the`` and substring hits
      such as ``cat`` (concatenate, catalog, scattered);
    - rare punctuated tokens such as ``O'Brien`` and ``100%``;
    - multi-word, mixed-case queries.

    In-doc queries pair them with a multi-page doc, a hot-host doc and one
    other decodable doc.
    """
    from studiocr_spark.gen import VOCAB

    rng = random.Random(f"queries-{seed}")
    # short words that are also substrings of longer vocabulary words
    lower = {w.lower() for w in VOCAB}
    stems = sorted(
        s for s in lower
        if len(s) <= 3 and s.isalpha() and any(s in v and s != v for v in lower)
    )
    punct = sorted(w for w in VOCAB if not w.isalnum())
    words = sorted(w for w in VOCAB if w.isalpha() and len(w) > 3)

    def mix(short: str) -> list[str]:
        multi = " ".join(_cased(rng, w) for w in rng.sample(words, 2))
        return [short, rng.choice(punct), multi]

    ok = [r for r in rows if r["url"] not in corrupt]
    multipage = [r["url"] for r in ok if r["html"][:4] == MPDF_MAGIC]
    hot = [r["url"] for r in ok if r["url"].startswith("https://host0.")]
    urls = [rng.choice(multipage), rng.choice(hot), rng.choice(ok)["url"]]
    # "the" is the hot term of the token-matching ranker; the substring
    # scans get a stem that matches inside longer words
    return {
        "global": mix(rng.choice(stems)),
        "bm25": mix("the"),
        "indoc": list(zip(urls, mix(rng.choice(stems)))),
    }
