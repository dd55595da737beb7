"""Seeded inputs for the benchmark: corpus, query stream, upsert batches.

Everything here is a pure function of the seed (``numpy.random.
default_rng``), so the same ``--seed`` gives byte-identical inputs. The
engine only ever sees the generated parquet files and query strings.

The corpus is code-like text over a Zipf vocabulary of tens of thousands
of terms: a handful of code keywords take the hot ranks, the long tail is
identifier-like words, and tokens are joined with code punctuation (which
the ``simple`` analyzer splits on). Doc lengths are log-normal, and a few
very long docs and a few hot docs (one hot term repeated) sit beside
them. The schema is ``(doc_id, text)``, the table ``oracle.py`` reads.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

KEYWORDS = [
    "return", "self", "the", "import", "def", "if", "in", "for", "value",
    "data", "none", "is", "not", "index", "result", "from", "class", "to",
    "get", "set", "name", "len", "list", "str", "int", "key", "args",
    "true", "false", "raise", "error", "else", "with", "as", "count",
]
SEPS = np.array([" ", " ", " ", ".", "(", ") ", ", ", "_", " = ", "\n    "],
                dtype=object)
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
ZIPF_S = 1.05      # exponent of the term-rank distribution
MEAN_LEN = 60.0    # mean doc length, in tokens
NEW_FRAC = 0.15    # share of an upsert batch that is new docs
DELETE_FRAC = 0.1  # share of an upsert batch that is deletes


def vocabulary(rng: np.random.Generator, n_terms: int) -> np.ndarray:
    """Distinct lowercase [a-z0-9] words, code keywords first (they take
    the hot Zipf ranks)."""
    words = list(KEYWORDS)
    seen = set(words)
    while len(words) < n_terms:
        need = n_terms - len(words)
        lens = rng.integers(3, 11, size=need * 2)
        letters = rng.choice(_LETTERS, size=(need * 2, 10))
        digits = rng.integers(0, 100, size=need * 2)
        with_digit = rng.random(need * 2) < 0.15
        for i in range(need * 2):
            w = "".join(letters[i, :lens[i]])
            if with_digit[i]:
                w += str(digits[i])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n_terms:
                    break
    return np.array(words, dtype=object)


class Generator:
    """One seeded input stream. ``corpus()`` must be called first; the
    query and upsert generators draw from the same RNG afterwards."""

    def __init__(self, seed: int, n_docs: int, n_terms: int):
        self.rng = np.random.default_rng(seed)
        self.n_docs = n_docs
        self.vocab = vocabulary(self.rng, n_terms)
        self.caps = np.array([w.capitalize() for w in self.vocab],
                             dtype=object)
        ranks = np.arange(1, n_terms + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.docs: dict[int, str] = {}   # the current document set
        self.tokens: dict[int, np.ndarray] = {}  # term ids per doc
        self.next_id = 0

    # -- corpus --------------------------------------------------------
    def _term_ids(self, n: int) -> np.ndarray:
        ids = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return np.minimum(ids, len(self.vocab) - 1)

    def _lengths(self, n: int) -> np.ndarray:
        ln = self.rng.lognormal(np.log(MEAN_LEN) - 0.32, 0.8, size=n)
        return np.clip(ln.astype(np.int64), 3, 4000)

    def _render(self, ids: np.ndarray) -> str:
        n = len(ids)
        words = np.where(self.rng.random(n) < 0.1, self.caps[ids],
                         self.vocab[ids])
        seps = SEPS[self.rng.integers(0, len(SEPS), size=n)]
        out = np.empty(2 * n, dtype=object)
        out[0::2] = words
        out[1::2] = seps
        return "".join(out[:-1])

    def _new_docs(self, n: int, skew: bool) -> list[tuple[int, str]]:
        lens = self._lengths(n)
        hot: set[int] = set()
        if skew:  # a few very long docs and a few hot docs
            n_long = max(1, n // 4000)
            # evenly spread lengths: the long docs' total stays the same
            # from seed to seed
            lens[self.rng.choice(n, size=n_long, replace=False)] = \
                np.linspace(5_000, 20_000, n_long).astype(np.int64)
            hot = set(self.rng.choice(n, size=max(1, n // 5000),
                                      replace=False).tolist())
        ids = self._term_ids(int(lens.sum()))
        out = []
        off = 0
        for i, ln in enumerate(lens.tolist()):
            t = ids[off:off + ln]
            off += ln
            if i in hot:
                t = t.copy()
                t[self.rng.random(ln) < 0.8] = self.rng.integers(0, 8)
            doc_id = self.next_id
            self.next_id += 1
            self.tokens[doc_id] = t
            out.append((doc_id, self._render(t)))
        return out

    def corpus(self) -> pd.DataFrame:
        rows = self._new_docs(self.n_docs, skew=True)
        self.docs = dict(rows)
        return pd.DataFrame(rows, columns=["doc_id", "text"]).astype(
            {"doc_id": "int64"})

    def documents(self) -> pd.DataFrame:
        """The current document set, for the oracle."""
        return pd.DataFrame(list(self.docs.items()),
                            columns=["doc_id", "text"])

    # -- queries -------------------------------------------------------
    def phrase(self, n_terms: int) -> str:
        """Consecutive tokens of a live doc's own text."""
        live = list(self.tokens)
        while True:
            d = live[int(self.rng.integers(0, len(live)))]
            t = self.tokens[d]
            if len(t) > n_terms:
                i = int(self.rng.integers(0, len(t) - n_terms))
                return " ".join(self.vocab[t[i:i + n_terms]])

    def queries(self, stats: pd.DataFrame, classes: list[str],
                n: int) -> list[dict]:
        """``n`` queries cycling through ``classes``; terms are drawn by
        df band from the built index's ``stats.parquet`` (term, df).
        Bands are shares of the corpus: rare df <= 0.05%, mid 0.5-5%,
        hot = the 12 highest-df terms. k (10 or 50) and the phrase length
        (2 or 3) alternate between rounds of the class cycle."""
        s = stats.sort_values(["df", "term"], ascending=[False, True])
        n_docs = max(len(self.docs), 1)
        bands = {
            "hot": s["term"].head(12).tolist(),
            "mid": s[(s.df >= 0.005 * n_docs)
                     & (s.df <= 0.05 * n_docs)]["term"].tolist(),
            "rare": s[(s.df >= 2) & (s.df <= max(3, 0.0005 * n_docs))]
            ["term"].tolist(),
        }
        for b, terms in bands.items():
            if not terms:
                raise ValueError(f"df band {b!r} is empty")

        def pick(band: str, m: int = 1) -> list[str]:
            terms = bands[band]
            idx = self.rng.choice(len(terms), size=m,
                                  replace=len(terms) < m)
            return [terms[int(i)] for i in idx]

        out = []
        for i in range(n):
            c = classes[i % len(classes)]
            k = (10, 50)[i // len(classes) % 2]
            q = {"cls": c, "k": k, "mode": "AND"}
            if c == "term_rare":
                q["query"] = pick("rare")[0]
            elif c == "term_mid":
                q["query"] = pick("mid")[0]
            elif c == "term_hot":
                q["query"] = pick("hot")[0]
            elif c == "and_skewed":
                q["query"] = " ".join(pick("hot") + pick("mid"))
            elif c == "and_hot":
                q["query"] = " ".join(pick("hot", 2))
            elif c == "or":
                q.update(mode="OR", query=" ".join(pick("mid", 2)
                                                   + pick("rare")))
            elif c == "or_msm":
                q.update(mode="OR", msm=2,
                         query=" ".join(pick("hot") + pick("mid", 2)))
            elif c == "page2":
                q.update(mode="OR", query=" ".join(pick("mid", 2)))
            elif c == "count":
                q["query"] = " ".join(pick("hot") + pick("mid"))
            elif c == "phrase":
                q.update(query=self.phrase(2 + i // len(classes) % 2),
                         slop=0)
            else:
                raise ValueError(f"unknown query class {c!r}")
            out.append(q)
        return out

    # -- upserts -------------------------------------------------------
    def upsert_batch(self, n: int) -> pd.DataFrame:
        """One batch, one row per doc: rewrites of live docs, new docs and
        deletes (``deleted`` = True, text NULL). Applies it to the
        current document set."""
        n_new = int(n * NEW_FRAC)
        n_del = int(n * DELETE_FRAC)
        live = np.fromiter(self.docs.keys(), dtype=np.int64)
        picked = self.rng.choice(live, size=n - n_new, replace=False)
        dels, rewrites = picked[:n_del], picked[n_del:]
        rows = []
        lens = self._lengths(len(rewrites))
        ids = self._term_ids(int(lens.sum()))
        off = 0
        for d, ln in zip(rewrites.tolist(), lens.tolist()):
            t = ids[off:off + ln]
            off += ln
            self.tokens[d] = t
            text = self._render(t)
            self.docs[d] = text
            rows.append((d, text, False))
        for d, text in self._new_docs(n_new, skew=False):
            self.docs[d] = text
            rows.append((d, text, False))
        for d in dels.tolist():
            del self.docs[d]
            del self.tokens[d]
            rows.append((d, None, True))
        return pd.DataFrame(rows, columns=["doc_id", "text", "deleted"])
