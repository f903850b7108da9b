"""Correctness checks for the benchmark's operations, run after the timed loop.

Every check compares an engine result with ground truth computed from the
generated inputs: the numpy BM25 oracle for term queries (same ids, scores
within 1e-5), a token scan of the corpus for phrases, and the written and
deleted keys for the live-document count.
"""

from __future__ import annotations

import numpy as np

from cuvs_lucene_spark.analysis import analyze_py
from cuvs_lucene_spark.oracle import OracleIndex, oracle_search

SCORE_TOL = 1e-5


def topk_matches(got: list[tuple[int, float]], exp: list[tuple[int, float]]) -> str | None:
    """None when ``got`` equals ``exp``; otherwise a one-line reason."""
    if [d for d, _ in got] != [d for d, _ in exp]:
        return f"doc ids {[d for d, _ in got][:10]} != oracle {[d for d, _ in exp][:10]}"
    for (d, gs), (_, es) in zip(got, exp):
        if abs(gs - es) >= SCORE_TOL:
            return f"doc {d}: score {gs} vs oracle {es}"
    return None


def check_term_query(
    oracle: OracleIndex, q: dict, accept: np.ndarray, got: list[tuple[int, float]]
) -> str | None:
    exp = oracle_search(oracle, q["text"], k=q["k"], mode=q["mode"], accept=accept)
    return topk_matches(got, exp)


def check_batch(
    oracle: OracleIndex, qs: list[dict], accept: np.ndarray, rows: list[tuple[int, int, float]]
) -> str | None:
    """``rows`` are (qid, doc_id, score). Each query's hits must equal the
    oracle's, which the single-query path is held to as well, so a batch
    query that passes returns what ``search`` returns for it alone."""
    by_q: dict[int, list[tuple[int, float]]] = {i: [] for i in range(len(qs))}
    for qid, d, s in rows:
        by_q[qid].append((d, s))
    for i, q in enumerate(qs):
        got = sorted(by_q[i], key=lambda r: (-r[1], r[0]))
        why = check_term_query(oracle, q, accept, got)
        if why:
            return f"batch query {i} ({q['qid']}): {why}"
    return None


class PhraseIndex:
    """Analyzed corpus text, one space-joined token string per doc id."""

    def __init__(self, oracle: OracleIndex, texts: list[str | None]):
        self.docs = [" " + " ".join(analyze_py(t, oracle.analyzer)) + " " for t in texts]
        self.analyzer = oracle.analyzer

    def containing(self, phrase: str, accept: np.ndarray) -> set[int]:
        needle = " " + " ".join(analyze_py(phrase, self.analyzer)) + " "
        return {i for i, d in enumerate(self.docs) if accept[i] and needle in d}


def check_phrase(
    pidx: PhraseIndex, phrase: str, k: int, accept: np.ndarray, got: list[int]
) -> str | None:
    """Every hit holds the phrase's terms in order and adjacent, and the hit
    count is min(k, live docs holding the phrase)."""
    hits = pidx.containing(phrase, accept)
    bad = [d for d in got if d not in hits]
    if bad:
        return f"phrase {phrase!r}: docs {bad[:5]} do not contain it"
    if len(got) != min(k, len(hits)) or len(set(got)) != len(got):
        return f"phrase {phrase!r}: {len(got)} hits, expected {min(k, len(hits))}"
    return None
