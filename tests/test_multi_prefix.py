"""Multi-field weighted BM25 (ES multi_match most_fields with boosts)
and prefix queries (ES prefix query as a term-range scan) over both the
in-memory fielded index and the persisted segment store.

Reference parity anchor: the ES mapping the reference ships analyzes
many fields separately (configs/referenceSchema.json:50-59) and ES
queries routinely span them with boosts (multi_match) or expand term
ranges (prefix). Correctness chain: SegmentIndex.search_multi is pinned
to FieldedIndex.search_multi here; both are pinned to the independent
DuckDB replay (fielded_bm25_multi_sql) via the driver's
`segment_fielded` gate. prefix_postings is pinned to a brute-force
re-tokenize and to `prefix_postings_sql` via `index_term_postings`.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from content_rw_elasticsearch_spark.operators.fields import FieldedIndex
from content_rw_elasticsearch_spark.operators.segments import build_segments
from content_rw_elasticsearch_spark.operators.wand import SegmentIndex

SF = "/root/testdata/sf0.001"
OUT = "/tmp/spark_graft_test_multiprefix_seg"
OUT_PLAIN = "/tmp/spark_graft_test_multiprefix_plain"
WEIGHTS = {"title": 2.0, "body": 1.0}


def _fields():
    return {
        "title": F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 5)),
        "body": F.col("text"),
    }


@pytest.fixture(scope="module")
def seg_idx(spark):
    shutil.rmtree(OUT, ignore_errors=True)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    build_segments(
        docs, OUT, doc_col="doc_id", analyzer="simple", n_buckets=4,
        target_block=64, nb_max=16, fields=_fields(),
    )
    yield SegmentIndex.load(spark, OUT)
    shutil.rmtree(OUT, ignore_errors=True)


@pytest.fixture(scope="module")
def plain_idx(spark):
    shutil.rmtree(OUT_PLAIN, ignore_errors=True)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    build_segments(
        docs, OUT_PLAIN, text_col="text", doc_col="doc_id",
        analyzer="simple", n_buckets=4, target_block=64, nb_max=16,
    )
    yield SegmentIndex.load(spark, OUT_PLAIN)
    shutil.rmtree(OUT_PLAIN, ignore_errors=True)


@pytest.fixture(scope="module")
def mem_idx(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = FieldedIndex.build(docs, _fields(), doc_col="doc_id")
    yield idx
    idx.unpersist()


# --- multi-field weighted BM25 ---------------------------------------------

@pytest.mark.parametrize("mode", ["AND", "OR"])
def test_at_rest_multi_matches_in_memory(seg_idx, mem_idx, mode):
    got = [(r["doc_id"], r["score"]) for r in
           seg_idx.search_multi("hash join", WEIGHTS, k=10, mode=mode).collect()]
    want = [(r["doc_id"], r["score"]) for r in
            mem_idx.search_multi("hash join", WEIGHTS, k=10, mode=mode).collect()]
    assert got == want and got


def test_multi_boost_changes_ranking(mem_idx):
    """Title-heavy vs body-heavy boosts must produce different rankings
    (per-field norms differ: 5-token titles vs full bodies)."""
    a = [r["doc_id"] for r in
         mem_idx.search_multi("hash join", {"title": 10.0, "body": 0.1},
                              k=10).collect()]
    b = [r["doc_id"] for r in
         mem_idx.search_multi("hash join", {"title": 0.1, "body": 10.0},
                              k=10).collect()]
    assert a and b and a != b


def test_multi_single_field_reduces_to_fielded_search(seg_idx):
    """With one field at weight 1.0, search_multi == search(field=...)."""
    got = [(r["doc_id"], r["score"]) for r in
           seg_idx.search_multi("hash join", {"body": 1.0}, k=10).collect()]
    want = [(r["doc_id"], r["score"]) for r in
            seg_idx.search("hash join", field="body", k=10).collect()]
    assert got == want and got


def test_multi_and_term_in_any_field_qualifies(mem_idx, spark):
    """AND requires each term in >=1 queried field, not in every field:
    a term that only ever appears in body must not empty the result."""
    # every title is the first 5 tokens of text, so any term occurring
    # only late in text is body-only; find one
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    title_terms = {
        r["t"] for r in docs.select(
            F.explode(F.split(F.lower(F.concat_ws(" ", F.slice(
                F.split(F.col("text"), " "), 1, 5))), "[^a-z0-9]+")).alias("t")
        ).distinct().collect()
    }
    body_terms = {
        r["t"] for r in docs.select(
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("t")
        ).distinct().collect()
    }
    body_only = sorted(t for t in body_terms - title_terms if t)
    if not body_only:
        pytest.skip("corpus has no body-only term")
    res = mem_idx.search_multi(body_only[0], WEIGHTS, k=10, mode="AND")
    assert res.count() > 0


def test_multi_unknown_field_raises(seg_idx, mem_idx):
    with pytest.raises(KeyError):
        seg_idx.search_multi("x", {"nope": 1.0})
    with pytest.raises(KeyError):
        mem_idx.search_multi("x", {"nope": 1.0})


def test_multi_on_unfielded_index_raises(plain_idx):
    with pytest.raises(ValueError, match="unfielded"):
        plain_idx.search_multi("x", WEIGHTS)


def test_multi_absent_term_and_empty(seg_idx):
    assert seg_idx.search_multi(
        "hash zzzzmissing", WEIGHTS, k=10, mode="AND").count() == 0


# --- prefix queries ----------------------------------------------------------

def _brute_prefix(spark, prefix):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return (
        docs.select("doc_id", F.explode(
            F.split(F.lower("text"), "[^a-z0-9]+")).alias("term"))
        .filter((F.col("term") != "") & F.col("term").startswith(prefix))
        .groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
        .orderBy("term", "doc_id")
    )


def test_prefix_postings_match_brute_force(plain_idx, spark):
    got = [(r["term"], r["doc_id"], r["tf"]) for r in
           plain_idx.prefix_postings("s").collect()]
    want = [(r["term"], r["doc_id"], r["tf"]) for r in
            _brute_prefix(spark, "s").collect()]
    assert got == want and got
    assert len({t for t, _, _ in got}) > 1  # a real range, not one term


def test_prefix_no_match_is_empty(plain_idx):
    assert plain_idx.prefix_postings("zzzz").count() == 0


def test_prefix_fielded_scoped(seg_idx, mem_idx):
    """On a fielded index the range is scoped to one field's composite
    keys; title postings == the in-memory fielded postings for the same
    prefix, with the field prefix stripped from the output terms."""
    got = [(r["term"], r["doc_id"], r["tf"]) for r in
           seg_idx.prefix_postings("s", field="title").collect()]
    want = [(r["term"], r["doc_id"], r["tf"]) for r in
            mem_idx.postings.filter(
                (F.col("field") == "title") & F.col("term").startswith("s"))
            .select("term", "doc_id", "tf").orderBy("term", "doc_id").collect()]
    assert got == want and got
    assert all(not t.startswith("title") for t, _, _ in got)


def test_prefix_search_ranking(plain_idx, spark):
    """prefix_search ranks by distinct matching terms then doc_id, and
    agrees with an aggregation of the brute-force postings."""
    got = [(r["doc_id"], r["n_terms"]) for r in
           plain_idx.prefix_search("s", k=10).collect()]
    brute = _brute_prefix(spark, "s")
    want = [(r["doc_id"], r["n_terms"]) for r in
            brute.groupBy("doc_id")
            .agg(F.countDistinct("term").alias("n_terms"))
            .orderBy(F.desc("n_terms"), F.asc("doc_id")).limit(10).collect()]
    assert got == want and got


# --- fuzzy queries -----------------------------------------------------------

def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_postings_match_brute_force(plain_idx, spark):
    """ES fuzzy expansion: postings of every vocab term within 1 edit of
    the probe, pinned against a pure-Python levenshtein re-derivation."""
    got = [(r["term"], r["doc_id"], r["tf"]) for r in
           plain_idx.fuzzy_postings("sow", max_edits=1).collect()]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vocab_posts = (
        docs.select("doc_id", F.explode(
            F.split(F.lower("text"), "[^a-z0-9]+")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    )
    want = sorted(
        (r["term"], r["doc_id"], r["tf"]) for r in vocab_posts
        if _lev("sow", r["term"]) <= 1
    )
    assert got == want and got
    assert len({t for t, _, _ in got}) >= 2  # a real expansion set


def test_fuzzy_search_equals_or_query_over_expansions(plain_idx):
    """fuzzy_search is rank-identical to an OR BM25 over the expansion
    set (each variant scored with its own df)."""
    _, exp = plain_idx._fuzzy_expansions("sow", 1, None, 50)
    assert set(exp) == {"row", "slow"}
    got = [(r["doc_id"], r["score"]) for r in
           plain_idx.fuzzy_search("sow", k=10, max_edits=1).collect()]
    want = [(r["doc_id"], r["score"]) for r in
            plain_idx.search(" ".join(exp), k=10, mode="OR",
                             prune=False).collect()]
    assert got == want and got


def test_fuzzy_max_expansions_caps_closest_first(plain_idx):
    """With max_expansions=1 only the closest (distance, then term)
    variant survives — 'row' and 'slow' are both distance 1, so the
    term tiebreak keeps 'row'."""
    _, exp = plain_idx._fuzzy_expansions("sow", 1, None, 1)
    assert exp == ["row"]


def test_fuzzy_no_match_is_empty(plain_idx):
    assert plain_idx.fuzzy_postings("qqqqqq", max_edits=1).count() == 0
    assert plain_idx.fuzzy_search("qqqqqq", max_edits=1).count() == 0


def test_fuzzy_fielded_scoped(seg_idx, mem_idx):
    """On a fielded index the expansion runs over ONE field's term
    dictionary and postings come back field-scoped."""
    got = [(r["term"], r["doc_id"], r["tf"]) for r in
           seg_idx.fuzzy_postings("sow", max_edits=1, field="title").collect()]
    vocab = mem_idx.postings.filter(F.col("field") == "title") \
        .select("term", "doc_id", "tf").collect()
    want = sorted(
        (r["term"], r["doc_id"], r["tf"]) for r in vocab
        if _lev("sow", r["term"]) <= 1
    )
    assert got == want and got


# --- last-writer-wins over every live-postings reader -----------------------
#
# One delta generation over a six-doc corpus: doc 1 is deleted and doc 2
# is upserted from "alpha beta delta" to "omega alpha zeta". Every reader
# below must serve the live state only — no posting of doc 1, and no
# posting of doc 2's superseded version (the only one with beta/delta).

_TOMB_DOCS = [
    (1, "alpha beta gamma"),
    (2, "alpha beta delta"),
    (3, "alpha beta epsilon"),
    (4, "beta alpha theta"),
    (5, "alpha kappa beta"),
    (6, "lambda mu nu"),
]
_TOMB_BATCH = [(1, "", True), (2, "omega alpha zeta", False)]


@pytest.fixture(scope="module")
def tomb_idx(spark, tmp_path_factory):
    """(positional index, fielded index, live docs), each index holding
    the one delta generation described above."""
    from content_rw_elasticsearch_spark.streaming.ingest import apply_upserts

    root = tmp_path_factory.mktemp("tomb")
    docs = spark.createDataFrame(_TOMB_DOCS, "doc_id long, text string")
    batch = spark.createDataFrame(
        _TOMB_BATCH, "doc_id long, text string, deleted boolean")
    pos_dir, fld_dir = str(root / "pos"), str(root / "fld")
    build_segments(docs, pos_dir, text_col="text", doc_col="doc_id",
                   n_buckets=2, target_block=64, nb_max=4,
                   with_positions=True)
    apply_upserts(spark, pos_dir, batch, "text", "doc_id", "deleted")
    fields = {"title": F.col("text"), "body": F.col("text")}
    build_segments(docs, fld_dir, doc_col="doc_id", n_buckets=2,
                   target_block=64, nb_max=4, fields=fields)
    apply_upserts(spark, fld_dir, batch, doc_col="doc_id",
                  deleted_col="deleted", fields=fields)
    live = spark.createDataFrame(
        [(3, "alpha beta epsilon"), (4, "beta alpha theta"),
         (5, "alpha kappa beta"), (6, "lambda mu nu"),
         (2, "omega alpha zeta")], "doc_id long, text string")
    pos, fld = SegmentIndex.load(spark, pos_dir), SegmentIndex.load(spark, fld_dir)
    assert pos.generations and fld.generations
    return pos, fld, live


def _doc_ids(df):
    return {r["doc_id"] for r in df.collect()}


def _rescored_docs(idx):
    """Docs whose score the phrase rescore changed (phrase matches)."""
    base = {r["doc_id"]: r["score"] for r in
            idx.search("alpha", k=10).collect()}
    return {r["doc_id"] for r in
            idx.rescore("alpha", "alpha beta", k=10).collect()
            if r["score"] != base[r["doc_id"]]}


def _bool(idx):
    from content_rw_elasticsearch_spark.operators.boolquery import (
        segment_bool_topk,
    )
    return _doc_ids(segment_bool_topk(idx, must="beta",
                                      should="gamma delta",
                                      min_should_match=0))


def _sharded(idx):
    from content_rw_elasticsearch_spark.operators.wand import search_sharded
    return _doc_ids(search_sharded([idx], "alpha beta", k=10))


_LIVE_BETA = {3, 4, 5}  # live docs containing beta
_READERS = {
    "term_lookup": lambda ix, live: _doc_ids(ix.term_lookup("beta")),
    "prefix_postings": lambda ix, live: _doc_ids(ix.prefix_postings("bet")),
    "fuzzy_postings": lambda ix, live: _doc_ids(ix.fuzzy_postings("betta")),
    "regexp_postings": lambda ix, live: _doc_ids(ix.regexp_postings("bet.")),
    "explain": lambda ix, live: {
        d for d in (1, 2, 3) if ix.explain("beta", d).count()},
    "count": lambda ix, live: ix.count("alpha beta").collect()[0][0],
    "search": lambda ix, live: _doc_ids(ix.search("alpha beta", k=10)),
    "search_synonyms": lambda ix, live: _doc_ids(
        ix.search_synonyms("beta", {"beta": ["delta"]}, k=10)),
    "search_sharded": lambda ix, live: _sharded(ix),
    "bool_query": lambda ix, live: _bool(ix),
    "phrase_slop0": lambda ix, live: _doc_ids(ix.phrase_search("alpha beta")),
    "phrase_slop1": lambda ix, live: _doc_ids(
        ix.phrase_search("alpha beta", slop=1)),
    "phrase_prefix_search": lambda ix, live: _doc_ids(
        ix.phrase_prefix_search("alpha bet")),
    "highlight": lambda ix, live: {
        (r["doc_id"], r["n_window_terms"]) for r in ix.highlight(
            "alpha beta", live, text_col="text", k=10, mode="OR").collect()},
    "rescore": lambda ix, live: _rescored_docs(ix),
    "search_multi": lambda ix, live: _doc_ids(ix.search_multi(
        "alpha beta", {"title": 1.0, "body": 1.0}, k=10)),
}
_EXPECTED = {
    "explain": {3},
    "count": 3,
    "phrase_slop0": {3},
    "phrase_slop1": {3, 5},
    "phrase_prefix_search": {3},
    # doc 2's live version holds alpha alone: one window term, not two
    "highlight": {(2, 1), (3, 2), (4, 2), (5, 2)},
    "rescore": {3},
}


@pytest.mark.parametrize("reader", list(_READERS))
def test_prefix_respects_tombstones(tomb_idx, reader):
    """Deleted docs and superseded versions are gone from every reader
    of the segment store (live postings only)."""
    pos, fld, live = tomb_idx
    got = _READERS[reader](fld if reader == "search_multi" else pos, live)
    assert got == _EXPECTED.get(reader, _LIVE_BETA)
