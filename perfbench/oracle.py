"""Exact BM25 top-k on the driver, sharing nothing with the pruning path.

The oracle scores every posting of every query term by brute force over
``tokens_with_tf(corpus)`` rows collected once per seed, with the engine's
BM25 arithmetic (``bm25_score_np`` / ``idf_np``, f64, partial scores summed
in sorted-term order). It never reads the index: no blocks, no block-max
bounds, no buckets, no theta.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from neural_search_spark.analysis.tokenizer import doc_lengths, tokens_with_tf
from neural_search_spark.query.bm25 import BM25_B, BM25_K1, bm25_score_np, idf_np

REL_TOL = 1e-9


def collect_oracle_input(corpus: DataFrame, terms: set[str]) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``(docID, i, term, tf)`` rows of the query terms and ``(docID, i,
    doclen)`` of every doc; ``i`` is the generator row number, which lets
    one collect serve every prefix of an ingest corpus."""
    tf = tokens_with_tf(corpus.select("docID", "content")).where(F.col("term").isin(sorted(terms)))
    ids = corpus.select("docID", "i")
    tf_pdf = tf.join(ids, "docID").toPandas()
    dl_pdf = doc_lengths(corpus.select("docID", "content")).select("docID", "doclen") \
        .join(ids, "docID").toPandas()
    return tf_pdf, dl_pdf


class ExactBM25:
    """Brute-force scorer over one corpus state (a set of live docs)."""

    def __init__(self, tf_pdf: pd.DataFrame, dl_pdf: pd.DataFrame,
                 k1: float = BM25_K1, b: float = BM25_B):
        dl_pdf = dl_pdf.sort_values("docID")
        self.doc_ids = dl_pdf["docID"].to_numpy(np.int64)
        self.doclen = dl_pdf["doclen"].to_numpy(np.int64)
        self.n = len(self.doc_ids)
        # Spark's avg over int doclens: an exact integer sum, one division
        self.avgdl = int(self.doclen.sum()) / self.n
        self.k1, self.b = k1, b
        self.postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for term, grp in tf_pdf.groupby("term", sort=False):
            pos = np.searchsorted(self.doc_ids, grp["docID"].to_numpy(np.int64))
            self.postings[term] = (pos, grp["tf"].to_numpy(np.int64))

    @classmethod
    def upto(cls, tf_pdf: pd.DataFrame, dl_pdf: pd.DataFrame, n_rows: int, **kw) -> "ExactBM25":
        """Scorer over the corpus prefix of generator rows ``i < n_rows``."""
        return cls(tf_pdf[tf_pdf["i"] < n_rows], dl_pdf[dl_pdf["i"] < n_rows], **kw)

    def topk(self, terms, k: int = 10) -> list[tuple[int, float]]:
        sums = np.zeros(self.n, np.float64)
        hit = np.zeros(self.n, bool)
        for term in sorted(set(terms)):
            if term not in self.postings:
                continue
            pos, tf = self.postings[term]
            idf = float(idf_np(len(pos), self.n))
            sums[pos] += bm25_score_np(tf, self.doclen[pos], idf, self.avgdl, self.k1, self.b)
            hit[pos] = True
        cand = np.nonzero(hit)[0]
        docs, scores = self.doc_ids[cand], sums[cand]
        order = np.lexsort((docs, -scores))[:k]
        return [(int(docs[j]), float(scores[j])) for j in order]


def matches(expected: list[tuple[int, float]], got: list[tuple[int, float]],
            rel_tol: float = REL_TOL) -> bool:
    """Same docIDs in the same order, scores within ``rel_tol`` relative."""
    if len(expected) != len(got):
        return False
    for (ed, es), (gd, gs) in zip(expected, got):
        if ed != gd or abs(es - gs) > rel_tol * max(abs(es), abs(gs), 1e-300):
            return False
    return True
