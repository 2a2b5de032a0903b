"""Spark-free throughput of the tokenizer and the posting-block codec,
measured on the workload's own corpus."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from sparktext.codec import decode_blocks_pdf, encode_blocks
from sparktext.fieldnorm import fieldnorm_to_id
from sparktext.tokenizer import tokenize_flat

PAYLOAD = ("doc_bytes", "tf_bytes", "norm_bytes")


def _median_rate(fn, work: float, min_s: float = 1.0, min_reps: int = 5) -> float:
    """Median of ``work / seconds`` over repeated calls of ``fn``."""
    rates, t_end = [], time.perf_counter() + min_s
    while len(rates) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        rates.append(work / (time.perf_counter() - t0))
    return statistics.median(rates)


def _postings(texts: pd.Series):
    """term -> (doc ids, tfs, norm ids), one posting list per term."""
    rows, toks = tokenize_flat(texts)
    norms = fieldnorm_to_id(np.bincount(rows, minlength=len(texts)))
    frame = pd.DataFrame({"doc": rows, "term": toks})
    counts = frame.groupby(["term", "doc"]).size()
    for term, tf in counts.groupby(level=0):
        docs = tf.index.get_level_values(1).to_numpy()
        yield term, docs, tf.to_numpy(), norms[docs]


def measure(texts: pd.Series) -> dict[str, float]:
    lists = list(_postings(texts))

    def encode():
        return [dict(r, segment_id=0, term=t)
                for t, d, tf, nm in lists for r in encode_blocks(d, tf, nm)]

    blocks = pd.DataFrame(encode())
    mb = sum(blocks[c].map(len).sum() for c in PAYLOAD) / 1e6
    return {
        "tokenizer.docs_per_s": _median_rate(lambda: tokenize_flat(texts), len(texts)),
        "codec.encode_mb_per_s": _median_rate(encode, mb),
        "codec.decode_mb_per_s": _median_rate(lambda: decode_blocks_pdf(blocks), mb),
    }
