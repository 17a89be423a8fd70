"""Benchmark inputs derived from the workload seed.

The corpus is synthesized by the engine's own generator
(``corpus.write_corpus_parquet_fast``: Heaps-sized vocabulary, hapax
tail, burst terms, html + expected text) and cached on disk keyed by
seed, size and generator arguments: it is benchmark input, never
program output. The query stream is drawn here from document
frequencies counted by this module over the corpus text, so no query
depends on anything the engine computed.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import numpy as np

from tlhop_library_spark.corpus import ZIPF_S

#: generator arguments; part of the cache key
CORPUS_ARGS = {"hapax_frac": 0.3, "bursts_per_doc": 3, "include_html": True}

#: Zipf exponent over df rank for query terms: the generator's own
#: term-frequency exponent (``corpus.ZIPF_S``, FIXTURES.md: s≈1.1).
#: That query terms follow the corpus's Zipf is an assumption; the
#: repository holds no query log to check it against.
QUERY_ZIPF_S = ZIPF_S

#: df-rank class limits for per-class serve latency (head < 50 ≤ torso
#: < 1000 ≤ tail)
HEAD_RANKS = 50
TORSO_RANKS = 1000

_NON_WORD = re.compile(r"[^\w]+", re.UNICODE)
_MIN_TOKEN_LEN = 3


def tokens(text: str) -> list[str]:
    """Tokenizer of the engine's frozen v1 analyzer spec (lower-case,
    split on non-word characters, drop tokens shorter than 3)."""
    return [
        t
        for t in _NON_WORD.split(text.lower().replace("_", " "))
        if len(t) >= _MIN_TOKEN_LEN
    ]


class Corpus:
    """One seeded corpus: parquet path, df-ranked terms, text bytes."""

    def __init__(self, cache_dir: str, seed: int, n_docs: int):
        from tlhop_library_spark.corpus import write_corpus_parquet_fast

        key = f"s{seed}_n{n_docs}_" + "_".join(
            f"{k}{int(v) if isinstance(v, bool) else v}"
            for k, v in sorted(CORPUS_ARGS.items())
        )
        self.path = os.path.join(cache_dir, key + ".parquet")
        meta_path = os.path.join(cache_dir, key + ".json")
        self.n_docs = n_docs
        if not (os.path.exists(self.path) and os.path.exists(meta_path)):
            os.makedirs(cache_dir, exist_ok=True)
            tmp = f"{self.path}.{os.getpid()}.tmp"
            write_corpus_parquet_fast(tmp, n_docs, seed=seed, **CORPUS_ARGS)
            meta = _corpus_meta(tmp)
            with open(meta_path + ".tmp", "w") as f:
                json.dump(meta, f)
            os.replace(tmp, self.path)
            os.replace(meta_path + ".tmp", meta_path)
        with open(meta_path) as f:
            meta = json.load(f)
        #: terms sorted by (df desc, term asc)
        self.terms: list[str] = meta["terms"]
        #: UTF-8 bytes of the non-null ``text`` of docs [0, i) at
        #: prefix_bytes[i]
        self.prefix_text_bytes: list[int] = meta["prefix_text_bytes"]
        #: html bytes of docs [0, i)
        self.prefix_html_bytes: list[int] = meta["prefix_html_bytes"]
        self.rank = {t: i for i, t in enumerate(self.terms)}


def _corpus_meta(path: str) -> dict:
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=["doc_id", "text", "html"])
    df: Counter = Counter()
    text_b, html_b = [0], [0]
    for text, html in zip(
        tbl.column("text").to_pylist(), tbl.column("html").to_pylist()
    ):
        tb = 0 if text is None else len(text.encode("utf-8"))
        text_b.append(text_b[-1] + tb)
        html_b.append(html_b[-1] + (0 if html is None else len(html)))
        if text is not None:
            df.update(set(tokens(text)))
    terms = [t for t, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))]
    return {
        "terms": terms,
        "prefix_text_bytes": text_b,
        "prefix_html_bytes": html_b,
    }


def query_stream(corpus: Corpus, seed: int, n: int) -> list[str]:
    """``n`` 1-3-term queries; each term drawn by a Zipf over df rank."""
    rng = np.random.default_rng([seed, 0x51])
    ranks = np.arange(1, len(corpus.terms) + 1, dtype=np.float64)
    p = ranks**-QUERY_ZIPF_S
    cdf = np.cumsum(p / p.sum())
    cdf[-1] = 1.0
    out = []
    for n_terms in rng.integers(1, 4, size=n):
        idx = np.searchsorted(cdf, rng.random(int(n_terms)), side="right")
        out.append(" ".join(corpus.terms[i] for i in idx))
    return out


def df_class(corpus: Corpus, query: str) -> str:
    """head / torso / tail by the df rank of the query's most frequent
    term."""
    r = min(corpus.rank.get(t, len(corpus.terms)) for t in tokens(query))
    if r < HEAD_RANKS:
        return "head"
    return "torso" if r < TORSO_RANKS else "tail"


def check_queries(corpus: Corpus, seed: int) -> list[str]:
    """The fixed correctness sample: five queries spanning the df
    classes, head terms included (df rank < 5 are the heaviest posting
    lists): head, head+head, torso, tail, head+torso+tail."""
    rng = np.random.default_rng([seed, 0xC4])
    t = corpus.terms

    def head():
        return t[int(rng.integers(0, 5))]

    def torso():
        return t[int(rng.integers(HEAD_RANKS, TORSO_RANKS))]

    def tail():
        return t[int(rng.integers(TORSO_RANKS, len(t)))]

    return [
        head(),
        f"{head()} {head()}",
        torso(),
        tail(),
        f"{head()} {torso()} {tail()}",
    ]
