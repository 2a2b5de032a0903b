"""Seeded inputs for the benchmark workloads.

The benchmark reads nothing outside its checkout, so it generates a corpus
with the measured shape of the sf0.1 ``documents`` fixture (5,000 rows):

- 30 vocabulary words, equally likely (each occurs 8,800-9,200 times and in
  3,816-3,923 documents), plus a ``dup`` marker ending 250 documents (5%);
- 10-100 tokens per document, uniform (mean 54.1), ``dup`` included;
- ``lang`` en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%;
- ``repo`` (the fixture's ``source``) ``src{doc_id % 20}`` and ``n_chars``
  the length of the text.

The same seed always gives the same documents and the same request sequence.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.412, 0.148, 0.149, 0.151, 0.140]

#: The 20 fixture queries of the repository's golden set: term, OR, must,
#: must_not, stop words, zero-hit and a k=50 query.
FIXTURE_QUERIES = {
    "q01_single_common": {"q": "spark", "k": 10},
    "q02_single_rare": {"q": "vector", "k": 10},
    "q03_or2": {"q": "query window", "k": 10},
    "q04_or3": {"q": "scan merge sort", "k": 10},
    "q05_or4": {"q": "data table row column", "k": 10},
    "q06_must2": {"q": "+join +filter", "k": 10},
    "q07_must3": {"q": "+group +order +key", "k": 10},
    "q08_must_should": {"q": "+hash batch", "k": 10},
    "q09_not": {"q": "stream -slow", "k": 10},
    "q10_must_not2": {"q": "+customer -dup -small", "k": 10},
    "q11_stopword": {"q": "the", "k": 10},
    "q12_stop_or": {"q": "the a", "k": 10},
    "q13_zero_hits": {"q": "+spark +nonexistentterm", "k": 10},
    "q14_missing": {"q": "zzzmissing", "k": 10},
    "q15_all_vocab": {"q": "big value line agg", "k": 10},
    "q16_deep_k": {"q": "fast key", "k": 50},
    "q17_mixed": {"q": "+part query -batch", "k": 10},
    "q18_or_rare_common": {"q": "vector the", "k": 10},
    "q19_single_mid": {"q": "column", "k": 10},
    "q20_all_should": {"q": "spark query window scan merge", "k": 10},
}

#: The aggregation requests of the interactive workload: terms on ``lang``,
#: stats on ``n_chars`` and a histogram, each with a query string.
AGG_QUERIES = ["spark", "query window", "+join -slow", "data table row", "+hash batch"]
HIST_INTERVAL = 100.0
TERMS_SIZE = 5


def documents(rng: np.random.Generator, first_id: int, n: int) -> pd.DataFrame:
    """``n`` canonical corpus rows with doc ids ``first_id .. first_id+n-1``."""
    dup = rng.random(n) < 0.05
    lens = rng.integers(10, 101, n) - dup
    words = rng.choice(VOCAB, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [
        " ".join(ws) + (" dup" if d else "")
        for ws, d in zip(np.split(words, cuts), dup)
    ]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pd.DataFrame({
        "repo": [f"src{i % 20}" for i in ids],
        "path": [f"doc/{i}" for i in ids],
        "commit": [f"c{i:08x}" for i in ids],
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "content": texts,
        "doc_id": ids,
        "n_chars": np.fromiter(map(len, texts), dtype=np.int64, count=n),
    })
