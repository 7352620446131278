"""Seeded input generator: one ``documents.parquet`` per corpus.

The program derives every page from ``doc_id``/``lang``/``source`` alone
(``stanza_spark.sources.pages``), so a corpus is fully described by those
three columns.  ``text``/``n_chars`` are kept only so the file has the
same schema as the driver's ``documents`` tables.

Stream increments receive pages, not documents: ``write_increment_pages``
renders them with the DuckDB dialect of the same page generator
(``synth.pages_select``; the repo's oracle gates hold the two dialects
byte-identical), which needs no Spark job.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from stanza_spark.sources.pages import WARC_EPOCH
from stanza_spark.synth import Dialect, pages_select

OTHER_LANGS = ("zh", "es", "de", "fr")


def first_doc_id(seed: int) -> int:
    """The first doc id ``write_documents`` picks for ``seed``."""
    return int(np.random.default_rng(seed).integers(0, 1_000_000)) * 1000


def write_documents(out_dir: str, seed: int, n_docs: int,
                    en_share: float = 0.41, n_sources: int = 20,
                    first_id: int | None = None) -> str:
    """Write ``out_dir/documents.parquet`` with ``n_docs`` consecutive
    doc ids and return ``out_dir``.  The seed picks the first doc id (so
    page content differs per seed), each doc's language (``en`` with
    probability ``en_share``, else one of ``OTHER_LANGS``) and its source
    (``src0`` .. ``src<n_sources-1>``)."""
    if first_id is None:
        first_id = first_doc_id(seed)
    rng = np.random.default_rng([seed, n_docs, first_id])
    doc_id = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    en = rng.random(n_docs) < en_share
    other = rng.integers(0, len(OTHER_LANGS), n_docs)
    lang = np.where(en, "en", np.asarray(OTHER_LANGS)[other])
    source = np.char.add("src", rng.integers(0, n_sources, n_docs).astype(str))
    text = np.char.add("doc ", doc_id.astype(str))
    table = pa.table({
        "doc_id": doc_id,
        "text": text.tolist(),
        "lang": lang.tolist(),
        "source": source.tolist(),
        "n_chars": np.char.str_len(text).astype(np.int64),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir


def write_increment_pages(docs_dir: str, out_root: str, n_incs: int,
                          inc_docs: int, n_files: int) -> tuple[list[str], int]:
    """Increment ``j`` = the ``j``-th ``inc_docs`` docs by doc id, written as
    ``n_files`` parquet files (the stream's ``PAGES_SCHEMA``) under
    ``out_root-<j>``.  -> (increment dirs, total ``text`` bytes)."""
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_dir}/documents.parquet')")
        con.execute(
            "CREATE TABLE p AS SELECT doc_id, url, "
            f"to_timestamp({WARC_EPOCH} + doc_id * 37 % 31536000) AS warc_ts, "
            f"text, lang FROM ({pages_select(Dialect('duckdb'))}) ORDER BY doc_id")
        per_file = -(-inc_docs // n_files)
        dirs = []
        for j in range(n_incs):
            d = f"{out_root}-{j}"
            os.makedirs(d)
            for f in range(n_files):
                n = min(per_file, inc_docs - f * per_file)
                con.execute(
                    f"COPY (SELECT * FROM p ORDER BY doc_id LIMIT {n} OFFSET "
                    f"{j * inc_docs + f * per_file}) TO '{d}/part-{f}.parquet' "
                    "(FORMAT parquet)")
            dirs.append(d)
        text_bytes = con.execute(
            "SELECT sum(strlen(text)) FROM p").fetchone()[0]
    finally:
        con.close()
    return dirs, int(text_bytes)
