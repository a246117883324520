"""Expected answers for every timed op, computed in set-up (untimed) by code
that shares nothing with the engine's query path:

* term, boolean, min-match and phrase queries: the scalar doc-at-a-time BM25
  oracle ``tests/oracle.py`` (``ScalarIndex`` / ``eval_tree``);
* prefix, wildcard and fuzzy queries: the DuckDB BM25 SQL of
  ``__spark_entry__.py`` (``_bm25_sql``);
* text pipeline ops: the DuckDB SQL of ``__spark_entry__.py`` for exact
  duplicates, MinHash-LSH pairs and SimHash, and a NumPy cosine for top-k.

Queries are plain tuples (see :func:`to_filter` in ``workloads.py`` for the
engine side), so neither side reads the other's objects.
"""

from __future__ import annotations

import copy

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry
from tests.oracle import ScalarIndex

# The scalar oracle scores in float64 like the engine; the SQL oracle rounds
# scores to 4 decimals.
TOL_SCALAR = 1e-9
TOL_SQL = 1.5e-4
ALL_ROWS = 1 << 40


def check_topk(got: list[tuple[object, float]], expected: dict, k: int, tol: float) -> str | None:
    """``None`` when ``got`` (rows in the order returned) is a correct top-k
    of ``expected`` (key → score over every matching doc), else the reason.

    Tie-robust: the returned scores must equal the k best expected scores
    rank by rank, and each returned key must match with its own expected
    score, so any of several docs tied at the k-th score is accepted.
    """
    want = sorted(expected.values(), reverse=True)[:k]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    keys = [key for key, _ in got]
    if len(set(keys)) != len(keys):
        return "duplicate keys in the result"
    for i, ((key, s), w) in enumerate(zip(got, want)):
        if abs(s - w) > tol * max(1.0, abs(w)):
            return f"rank {i}: {key} scored {s:.6f}, expected {w:.6f}"
        if key not in expected:
            return f"rank {i}: {key} does not match the query"
        if abs(expected[key] - s) > tol * max(1.0, abs(s)):
            return f"rank {i}: {key} scored {s:.6f}, its expected score is {expected[key]:.6f}"
    return None


class TextOracle:
    """BM25 answers over one corpus (``docs``: key → text)."""

    def __init__(self, docs: dict[str, str]):
        self.idx = ScalarIndex(docs)
        self.n = self.idx.n
        self.df = self.idx.df
        self._docs_with: dict[str, list[str]] = {}
        for key in self.idx.keys:
            for t in self.idx.tf[key]:
                self._docs_with.setdefault(t, []).append(key)
        self.db = duckdb.connect()
        self.db.register("documents", pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())}))
        # the oracle CTE's tables, materialised once and re-exposed under the
        # same names so each query only runs the scoring part
        for t in ("tf", "dl", "st", "dfreq"):
            self.db.execute(f"CREATE TABLE {t}_m AS {entry._BM25_CTE} SELECT * FROM {t}")
        self._cte = "WITH " + ", ".join(f"{t} AS (SELECT * FROM {t}_m)" for t in ("tf", "dl", "st", "dfreq"))

    def close(self) -> None:
        self.db.close()

    def _scalar_over(self, words, every: bool = False) -> ScalarIndex:
        """The scalar index restricted to docs holding any (``every``: all)
        of ``words``. No other doc can match a query without negation over
        those words, so answers are unchanged, and phrase evaluation stays
        off the rest of the corpus. Corpus statistics (n, avgdl, df) are
        those of the full index."""
        sub = copy.copy(self.idx)
        sets = [set(self._docs_with.get(w, ())) for w in words]
        keys = set.intersection(*sets) if every else set.union(*sets)
        sub.keys = sorted(keys)
        return sub

    def _sql(self, term_pred: str, leg_boost: str = "1.0") -> dict[str, float]:
        sql = entry._bm25_sql(term_pred, k=ALL_ROWS, cte=self._cte, leg_boost=leg_boost)
        return {key: float(s) for key, s in self.db.execute(sql).fetchall()}

    def answer(self, q: tuple) -> tuple[dict, float]:
        """(key → score for every matching doc, comparison tolerance)."""
        kind = q[0]
        if kind == "term":
            idx = self._scalar_over([q[1]])
            return idx.eval_tree(("term", q[1], 1.0)), TOL_SCALAR
        if kind == "and":
            idx = self._scalar_over(q[1], every=True)
            return idx.eval_tree(("and", [("term", w, 1.0) for w in q[1]], [], "sum", 1.0)), TOL_SCALAR
        if kind == "or":
            idx = self._scalar_over(q[1])
            node = ("or", [("term", w, 1.0) for w in q[1]], [], q[2], "sum", 1.0)
            return idx.eval_tree(node), TOL_SCALAR
        if kind == "phrase":
            idx = self._scalar_over(q[1], every=True)
            return dict(idx.phrase_query(list(q[1]), k=ALL_ROWS)), TOL_SCALAR
        if kind == "and_phrase":
            idx = self._scalar_over(q[1] + (q[2],), every=True)
            node = ("and", [("phrase", tuple(q[1]), None, 1.0), ("term", q[2], 1.0)], [], "sum", 1.0)
            return idx.eval_tree(node), TOL_SCALAR
        if kind == "prefix":
            _, p, limit = q
            scored = f"SELECT term FROM dfreq WHERE starts_with(term, '{p}') ORDER BY df DESC, term LIMIT {limit}"
            return self._sql(f"term IN ({scored})"), TOL_SQL
        if kind == "wildcard":
            return self._sql(f"term LIKE '{q[1]}'"), TOL_SQL
        if kind == "fuzzy":
            # top max_terms candidates by similarity, ties to the larger term
            _, t, d, max_terms = q
            sim = f"(1.0 - levenshtein(term, '{t}') / least(length(term), {len(t)}))"
            scored = (
                f"SELECT term FROM dfreq WHERE levenshtein(term, '{t}') <= {d} "
                f"ORDER BY {sim} DESC, term DESC LIMIT {max_terms}"
            )
            return self._sql(f"term IN ({scored})", leg_boost=sim.replace("term", "tf.term")), TOL_SQL
        raise ValueError(f"unknown query kind {kind!r}")


class PipelineOracle:
    """Answers for the text/vector pipeline ops over one generated input."""

    def __init__(self, docs: pd.DataFrame, vecs: np.ndarray, query_id: int, k: int):
        with duckdb.connect() as db:
            db.register("documents", docs)
            self.exact_dups = set(db.execute(entry.oracle_sql()["q_exact_dups"]).fetchall())
            self.lsh_pairs = set(
                db.execute(entry._minhash_lsh_sql_full(8, 4, max_bucket=64)).fetchall()
            )
            self.simhash = dict(db.execute(entry._simhash_sql()).fetchall())
        q = vecs[query_id]
        sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
        self.cosine = {i: float(s) for i, s in enumerate(np.round(sims, 4))}
        self.k = k

    def check(self, op: str, got) -> str | None:
        if op == "exact_duplicates":
            got = set(got)
            if got != self.exact_dups:
                return f"{len(got ^ self.exact_dups)} duplicate groups differ"
            return None
        if op == "minhash_lsh_pairs":
            got_set = set(got)
            if len(got_set) != len(got) or got_set != self.lsh_pairs:
                return f"{len(got_set ^ self.lsh_pairs)} candidate pairs differ"
            return None
        if op == "simhash64":
            got = dict(got)
            bad = sum(1 for d, h in self.simhash.items() if got.get(d) != h)
            if bad or len(got) != len(self.simhash):
                return f"{bad} simhashes differ"
            return None
        if op == "cosine_topk":
            return check_topk(got, self.cosine, self.k, TOL_SQL)
        raise ValueError(op)
