"""Seeded generator of plain-text `documents` tables in the sf shape.

The shape follows the sf tables the repository's tests read: ``doc_id``
(int64), ``text`` (10 to 100 words drawn uniformly from a 30-word
vocabulary), ``lang`` (about 41 % en, the rest split over zh/es/fr/de),
``source`` (``src<doc_id % 20>``) and ``n_chars``. 5 % of the documents
are near-duplicates (another document's text plus the word ``dup``) and
a few are exact copies, so the dedup and simhash stages of the training
pipeline have work to do.

Pure stdlib plus pyarrow; the same seed gives the same rows.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
NEAR_DUP_SHARE = 0.05
EXACT_DUPS = 8

SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])


def generate_documents(seed: int, n_docs: int) -> pa.Table:
    """`n_docs` rows in doc_id order; the same arguments give the same rows."""
    rng = random.Random(seed)
    # word counts stratified over 10..100, so seeds differ in content but
    # hardly in total work
    lengths = [10 + (i * 91) // n_docs for i in range(n_docs)]
    rng.shuffle(lengths)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(n)) for n in lengths]
    ids = list(range(n_docs))
    for i in rng.sample(ids, round(n_docs * NEAR_DUP_SHARE)):
        texts[i] = texts[rng.randrange(n_docs)] + " dup"
    for i in rng.sample(ids, EXACT_DUPS):
        texts[i] = texts[rng.randrange(n_docs)]
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": [len(t) for t in texts],
        },
        schema=SCHEMA,
    )


def write_documents(table: pa.Table, sf_dir: str, n_files: int = 1,
                    order_seed: int | None = None) -> str:
    """Write `table` as ``<sf_dir>/documents.parquet``: one file, or a
    directory of `n_files` files holding the rows in a seeded order."""
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    os.makedirs(sf_dir, exist_ok=True)
    if n_files <= 1:
        pq.write_table(table, path)
        return path
    order = list(range(table.num_rows))
    random.Random(order_seed).shuffle(order)
    shuffled = table.take(order)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            shuffled.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet")
        )
    return path
