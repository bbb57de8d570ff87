"""Seeded input generator.

Everything the program reads is written here from the ``--seed`` alone: the
same seed gives the same tables.

- ``orders.parquet``: the ``o_orderkey`` column the synth source derives its
  tokenized sequences from.  Keys are a contiguous range at a seed-chosen
  offset, and stay below 10**8 because ``doc_id`` left-pads ids to 8
  characters and ``lpad`` truncates longer ones into duplicates
  (``sources/synth.py``).
- ``documents.parquet``: seed-shuffled synthetic documents for the curation
  path, with planted near-duplicate families, marker-word languages, short
  and punctuation-heavy low-quality docs.
- ``backlog/``: the same sequences the batch source would synthesise, as
  parquet files of contiguous, ascending key ranges (the stream source reads
  them in file order, so a continuation line never arrives before its head).

The backlog is derived by the DuckDB mirror of the synth source
(``oracle._SEQ_CTES``), so the program under test does none of this work.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: ids are left-padded to 8 characters in ``doc_id``
KEY_LIMIT = 10**8

WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window group order data column join small big vector stream filter "
    "query customer"
).split()
STOP = ["the", "a", "of", "and", "to"]
MARKERS = {"de": ["der", "und", "die"], "es": ["el", "la", "de"]}
LANGS = ["en", "en", "de", "es", "fr", "zh"]


def write_orders(path: str, seed: int, n: int) -> None:
    """Contiguous ``o_orderkey`` range of ``n`` keys at a seed-chosen
    offset."""
    off = int(np.random.default_rng(seed).integers(0, KEY_LIMIT - n))
    keys = pa.array(np.arange(off, off + n, dtype=np.int64))
    pq.write_table(pa.table({"o_orderkey": keys}), path)


#: two-word phrases: texts are runs of them, so bigrams are predictable
#: enough for the corpus LM filter to keep most documents
PHRASES = [f"{WORDS[i]} {WORDS[(7 * i + 3) % len(WORDS)]}" for i in range(len(WORDS))]


def _doc_text(rng: np.random.Generator, lang: str) -> str:
    n = int(rng.integers(2, 45))
    words = " ".join(PHRASES[i] for i in rng.integers(0, len(PHRASES), n)).split(" ")
    if lang != "zh":
        for _ in range(int(rng.integers(0, 1 + n // 2))):
            words.insert(int(rng.integers(0, len(words) + 1)), STOP[int(rng.integers(0, len(STOP)))])
    for m in MARKERS.get(lang, []):
        if rng.random() < 0.8:
            words.insert(int(rng.integers(0, len(words) + 1)), m)
    if rng.random() < 0.1:  # punctuation-heavy: drags the quality score
        words = [w + "," if rng.random() < 0.5 else w for w in words]
    return " ".join(words)


def write_documents(path: str, seed: int, n: int) -> None:
    """``n`` documents; about a quarter are near-duplicates of an earlier
    document (one word appended or swapped) so LSH and connected components
    find real clusters."""
    rng = np.random.default_rng(seed + 1)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.25:
            j = int(rng.integers(max(0, i - 200), i))
            words = texts[j].split(" ")
            if rng.random() < 0.5:
                words.append("dup")
            else:
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
            langs.append(langs[j])
        else:
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            texts.append(_doc_text(rng, lang))
            langs.append(lang)
    order = rng.permutation(n)
    ids = np.arange(n, dtype=np.int64)[order]
    t = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array([texts[i] for i in order]),
            "lang": pa.array([langs[i] for i in order]),
            "source": pa.array([f"src{i % 20}" for i in order]),
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )
    pq.write_table(t, path)


def write_backlog(con: duckdb.DuckDBPyConnection, out_dir: str, n_files: int) -> int:
    """Pre-write the synth sequences as ``n_files`` parquet files of
    contiguous ascending key ranges; returns the row count.  ``con`` must
    already have the ``orders`` view."""
    from go_fluentd_spark.oracle import _SEQ_CTES

    os.makedirs(out_dir, exist_ok=True)
    tbl = con.execute(
        f"WITH {_SEQ_CTES.strip().rstrip(',')} "
        "SELECT doc_id, tokens, n_tok, source, "
        "CAST(split_part(doc_id, '-', 3) AS BIGINT) AS k FROM seq ORDER BY k"
    ).arrow()
    n = tbl.num_rows
    edges = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = tbl.slice(edges[i], edges[i + 1] - edges[i]).drop_columns(["k"])
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(part, p)
        # the file source orders by modification time: make it the key order
        os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))
    return n
