"""Physical-plan shape assertions — pins the SCALE.md / COVERAGE.md
claims about what Catalyst actually does, so a refactor that silently
loses a pushdown or broadcast fails a test instead of a 100 TB run.

Checks (each cited where the claim is made):
  * prefix query: StartsWith reaches the parquet scan as a pushed
    filter (COVERAGE §2.J prefix row, SCALE.md prefix entry);
  * non-positional search: the scan's ReadSchema excludes pos_vb and
    the metadata phase reads no binary posting columns (wand.py phase 0);
  * dim-join ETL: broadcast hash joins, never sort-merge, for the
    concordance-style lookups (COVERAGE §2.A A6 row);
  * segment scan partition pruning: a queried bucket subset scans
    fewer partitions than the full store.
"""

from __future__ import annotations

import pytest

from content_rw_elasticsearch_spark.operators.segments import build_segments
from content_rw_elasticsearch_spark.operators.wand import SegmentIndex

SF = "/root/testdata/sf0.001"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plans") / "idx")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    build_segments(docs, out, text_col="text", doc_col="doc_id",
                   n_buckets=4, target_block=64, nb_max=8)
    return SegmentIndex.load(spark, out)


def test_prefix_scan_pushes_startswith(seg):
    plan = _executed(seg.prefix_postings("s"))
    # the filter must be in PushedFilters (reaches the reader), not only
    # a post-scan Filter node
    scan_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("StartsWith" in ln for ln in scan_lines), plan


def test_search_scan_prunes_binary_columns(seg):
    """Non-positional search never reads pos_vb; the decode scan reads
    exactly the posting columns it decodes (column pruning is what makes
    the metadata phase cheap at 10^12 files). Pins the DISTRIBUTED plan —
    the one that runs at scale — so the driver fast path is disabled."""
    seg.driver_max_postings = 0
    try:
        df = seg.search("hash join", k=10, mode="AND", prune=False)
    finally:
        seg.driver_max_postings = 2_000_000
    plan = _executed(df)
    assert "pos_vb" not in plan
    # ReadSchema carries the vb columns only for the decode scan
    read_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_lines and all("pos_vb" not in ln for ln in read_lines)


def test_dim_joins_are_broadcast(spark):
    from content_rw_elasticsearch_spark.plans.relational import region_revenue
    df = region_revenue(spark, SF)
    plan = _executed(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_highlight_topk_joins_are_broadcast(spark, seg):
    """highlight's top-k and best-window joins broadcast the k-row side
    — the corpus is never shuffled for snippet rendering."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    # positional index needed for highlight
    import tempfile
    out = tempfile.mkdtemp(prefix="plans_hl_") + "/idx"
    build_segments(docs, out, text_col="text", doc_col="doc_id",
                   n_buckets=2, target_block=64, nb_max=4,
                   with_positions=True)
    idx = SegmentIndex.load(spark, out)
    plan = _executed(idx.highlight("hash join", docs, text_col="text",
                                   doc_col="doc_id", k=5))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_metadata_phase_reads_no_binary_columns(seg):
    """Phase 0 of the pruned plan (wand.py _meta) is a metadata-only
    columnar scan: term/salt/count/max_tf/min_dl etc., never the vb
    binaries — pinned via the reader schema of the segment scan it runs."""
    segs = seg._segments(["hash", "join"]).select(
        "term", "gen", "nb", "salt", "count", "max_tf", "min_dl")
    plan = _executed(segs)
    read_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_lines
    for ln in read_lines:
        assert "docs_vb" not in ln and "tfs_vb" not in ln \
            and "dlens_vb" not in ln and "pos_vb" not in ln, ln


def test_suggest_is_metadata_only(seg):
    """The suggester never decodes postings: no python stage in the plan
    (the decode path is mapInPandas) and no binary posting column in any
    ReadSchema — the scan reads (term, count) only (COVERAGE §2.K
    suggester row)."""
    plan = _executed(seg.suggest("s", k=5))
    assert "pythonUDF" not in plan and "MapInPandas" not in plan, plan
    read_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_lines
    for ln in read_lines:
        assert "docs_vb" not in ln and "tfs_vb" not in ln, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_collapse_has_no_window(spark, seg):
    """Collapse is a hash aggregation, never a Window over the hit set
    (a window would shuffle every hit row by group and serialize hot
    groups on single tasks — COVERAGE §2.K collapse row)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    df = seg.collapse("hash join", docs, "lang", k=5)
    plan = _executed(df)
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan, plan


def test_mlt_stats_join_is_broadcast(spark):
    """more_like_this joins the |q|-row stats into the postings scan as
    a broadcast, never a shuffle join (COVERAGE §2.K MLT row)."""
    from content_rw_elasticsearch_spark.engine import InMemoryIndex
    from content_rw_elasticsearch_spark.operators.search_ext import (
        more_like_this,
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    ix = InMemoryIndex.build(docs, text_col="text", doc_col="doc_id",
                             cache=False)
    df = more_like_this(ix.postings, ix.stats, ix.n_docs, ix.avgdl,
                        doc_id=7, k=5)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_filter_context_pushes_predicate(spark, seg):
    """bool.filter context: the metadata predicate behind filter_ids
    reaches the documents parquet scan as a pushed filter, and that scan
    is column-pruned to the predicate + id columns — the corpus text is
    never read to build a filter set (COVERAGE §2.K filter-context row)."""
    # another test may have cached this scan (InMemoryTableScan hides
    # PushedFilters/ReadSchema); pin the UNCACHED plan
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ids = docs.filter(docs.lang == "en").select("doc_id")
    plan = _executed(seg.search("hash join", k=5, mode="AND",
                                prune=False, filter_ids=ids))
    doc_scans = [ln for ln in plan.splitlines()
                 if "PushedFilters" in ln and "lang" in ln]
    assert any("EqualTo(lang,en)" in ln for ln in doc_scans), plan
    read_lines = [ln for ln in plan.splitlines()
                  if "ReadSchema" in ln and "lang" in ln]
    assert read_lines and all("text" not in ln for ln in read_lines), plan
    # and the filter applies as a semi-join (docs only removed, never
    # duplicated into the scorer)
    assert "LeftSemi" in plan, plan


def test_rescore_window_sides_are_broadcast(spark):
    """rescore: every window-derived side (phrase semi-cut, doc_len
    semi-cut, final combine) joins as a broadcast of the <=window_size
    rows — the corpus-sized phrase side never builds a shuffle hash
    table (SCALE.md rescore entry)."""
    import tempfile
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    out = tempfile.mkdtemp(prefix="plans_rs_") + "/idx"
    build_segments(docs, out, text_col="text", doc_col="doc_id",
                   n_buckets=2, target_block=64, nb_max=4,
                   with_positions=True)
    idx = SegmentIndex.load(spark, out)
    plan = _executed(idx.rescore("join", "hash join", k=5, window_size=10))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_function_score_boost_scan_is_pruned(spark, seg):
    """function_score: the boost-column scan reads (doc_id, factor_col)
    only — never the text — and the top-k is TakeOrderedAndProject
    (per-partition heaps), not a global sort (COVERAGE §2.K
    function_score row)."""
    spark.catalog.clearCache()  # see test_filter_context_pushes_predicate
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed(seg.function_score("hash join", docs, "n_chars",
                                        k=5, mode="AND"))
    read_lines = [ln for ln in plan.splitlines()
                  if "ReadSchema" in ln and "n_chars" in ln]
    assert read_lines and all("text" not in ln for ln in read_lines), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_highlight_hit_ids_push_to_docs_scan(spark, seg):
    """highlight_topk with hit_ids: the docs scan carries a pushed
    doc_id IN filter, and tokenization sits ABOVE the broadcast join to
    the k best windows (VERDICT r5 #2 — the old shape split every corpus
    row's text below the join)."""
    from content_rw_elasticsearch_spark.operators.highlight import (
        highlight_topk,
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    topk = spark.createDataFrame([(1, 1.0), (2, 0.5)],
                                 "doc_id long, score double")
    pos = spark.createDataFrame([("hash", 1, 0), ("join", 2, 3)],
                                "term string, doc_id long, pos long")
    spark.catalog.clearCache()
    df = highlight_topk(topk, pos, docs, ["hash", "join"], "text",
                        "doc_id", hit_ids=[1, 2])
    plan = _executed(df)
    pushed = [ln for ln in plan.splitlines()
              if "PushedFilters" in ln and "doc_id" in ln]
    assert any("In(doc_id" in ln for ln in pushed), plan


def test_delta_search_decodes_and_filters_once(spark, tmp_path):
    """With a live delta generation and the driver fast path off, search
    runs ONE decode (MapInPandas) and ONE last-writer-wins filter (the
    tombstone join — the plan's only LeftOuter join): the filter is
    neither dropped nor applied twice."""
    from content_rw_elasticsearch_spark.streaming.ingest import apply_upserts

    out = str(tmp_path / "idx")
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .orderBy("doc_id").limit(200)
    build_segments(docs, out, text_col="text", doc_col="doc_id",
                   n_buckets=4, target_block=64, nb_max=8)
    first = docs.select("doc_id").first()["doc_id"]
    apply_upserts(spark, out, spark.createDataFrame(
        [(first, "hash join again", False)],
        "doc_id long, content string, deleted boolean"),
        "content", "doc_id", "deleted")
    idx = SegmentIndex.load(spark, out)
    assert len(idx.generations) == 1
    idx.driver_max_postings = 0
    df = idx.search("hash join", k=10)
    assert df.collect()
    final = _executed(df).split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
    assert final.count("LeftOuter") == 1, final
    assert final.count("isnull(tgen") == 1, final
