"""Output check against the DuckDB oracle (``oracle.py``), run outside
the timed region.

The oracle SQL is used unchanged. Every BM25 and phrase statement starts
with the same ``TOKENS_CTE`` (tokenize the whole ``documents`` table),
so ``Oracle`` materializes those CTEs once per document set as tables of
the same names and runs the rest of each statement against them. That
is the same SQL, evaluated once instead of once per query.

The oracle runs in a child process (``expected_in_child``), so its
tables never add to the benchmark process's memory. The child is this
file run as a script: groups in on stdin, answers out on stdout, both
pickled.
"""

from __future__ import annotations

import pickle
import subprocess
import sys

import duckdb
import pandas as pd

from content_rw_elasticsearch_spark import oracle

_SHARED = f"WITH {oracle.TOKENS_CTE},"
TOL = 2e-4  # both sides round to 4 decimals; allow one ulp of rounding


class Oracle:
    def __init__(self, documents: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.register("documents", documents)
        for t in ("docs", "dl", "corpus", "post"):
            self.con.execute(
                f"CREATE TEMP TABLE {t} AS WITH {oracle.TOKENS_CTE} "
                f"SELECT * FROM {t}")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple]:
        sql = sql.strip()
        if sql.startswith(_SHARED):
            sql = "WITH" + sql[len(_SHARED):]
        return self.con.execute(sql).fetchall()

    def expected(self, q: dict):
        """The oracle's answer to one benchmark query (see gen.queries)."""
        c = q["cls"]
        if c == "phrase":
            return self.rows(oracle.phrase_match_sql(q["query"], q["slop"]))
        if c == "count":
            return len(self.rows(
                oracle.bm25_topk_sql(q["query"], 1 << 40, q["mode"])))
        if c == "page2":
            s, d = q["after"]
            k = q["k"]
            top = self.rows(oracle.bm25_topk_sql(q["query"], 3 * k + 1,
                                                 q["mode"]))
            return [r for r in top
                    if r[1] < s - TOL or (abs(r[1] - s) <= TOL and r[0] > d)
                    ][:k]
        return self.rows(oracle.bm25_topk_sql(
            q["query"], q["k"], q["mode"], min_should_match=q.get("msm")))


def expected(groups: list[tuple[pd.DataFrame, list[dict]]]) -> list[list]:
    """The oracle's answers, one list per (document set, queries) group."""
    out = []
    for documents, queries in groups:
        orc = Oracle(documents)
        try:
            out.append([orc.expected(q) for q in queries])
        finally:
            orc.close()
    return out


def expected_in_child(groups: list[tuple[pd.DataFrame, list[dict]]]
                      ) -> list[list]:
    """``expected`` in a child process, which has exited on return."""
    done = subprocess.run([sys.executable, __file__],
                          input=pickle.dumps(groups), stdout=subprocess.PIPE,
                          check=True)
    return pickle.loads(done.stdout)


def same(q: dict, got, want) -> bool:
    """Engine result vs oracle result. Ranked lists may differ only by
    which of several docs tied (within rounding) at the cut-off score."""
    c = q["cls"]
    if c == "count":
        return got == want
    if c == "phrase":  # (doc_id, phrase_tf) in any order
        return sorted(got) == sorted(want)
    if len(got) != len(want):
        return False
    if any(abs(a[1] - b[1]) > TOL for a, b in zip(got, want)):
        return False
    if not got:
        return True
    cut = want[-1][1]
    return ({d for d, s in got if s > cut + TOL}
            == {d for d, s in want if s > cut + TOL})


if __name__ == "__main__":
    answers = expected(pickle.load(sys.stdin.buffer))
    sys.stdout.buffer.write(pickle.dumps(answers))
