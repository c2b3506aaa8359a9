"""Seeded documents for the benchmark workloads.

The documents are a pure function of the seed. The program under test only
ever sees the generated table.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# Shape of the sf0.1 ``documents`` table (the test parquet ``bench.py``
# reads; a checkout does not hold it), as read from that file:
# 5,000 rows of bag-of-words text over 30 words, 10-100 words per document
# (mean 54), ``lang`` 41% ``en`` and ~15% each of de/fr/es/zh. 5% of the
# rows are another row's text with the marker word "dup" appended, which
# makes the table's 31-token vocabulary. The generator draws from the same
# distributions, so NER dictionary hits and prompt lengths match sf0.1.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
NEAR_DUP_SHARE = 0.05


def write_documents(path: str, n_docs: int, seed: int) -> int:
    """Write ``n_docs`` distinct documents as ``<path>/documents.parquet``
    (columns doc_id, text, lang) and return their total text bytes."""
    rng = np.random.default_rng(seed)
    words = np.array(VOCAB)
    texts: list = []
    seen: set = set()
    while len(texts) < n_docs:
        if texts and rng.random() < NEAR_DUP_SHARE:
            text = texts[rng.integers(0, len(texts))] + " dup"
        else:
            text = " ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        if text not in seen:
            seen.add(text)
            texts.append(text)
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    os.makedirs(path, exist_ok=True)
    pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts, "lang": langs}
    ).to_parquet(os.path.join(path, "documents.parquet"), index=False)
    return sum(len(t.encode()) for t in texts)
