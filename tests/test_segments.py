"""Segment store + block-max pruned query path.

Gates (SURVEY.md §7 Milestone 2/3): WAND results ≡ exhaustive segment
results ≡ naive in-memory results; codec round-trip identity; resumable
restart correctness; merge preserves results; validation invariants."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest

from content_rw_elasticsearch_spark.engine import InMemoryIndex
from content_rw_elasticsearch_spark.operators import codec, segments
from content_rw_elasticsearch_spark.operators.wand import SegmentIndex
from content_rw_elasticsearch_spark.sources.corpus import (
    synthesize_corpus,
    with_doc_id,
)

OUT = "/tmp/spark_graft_test_index"


def _collect(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture(scope="module")
def built(spark):
    corpus = with_doc_id(synthesize_corpus(spark, 300, seed=7)).persist()
    shutil.rmtree(OUT, ignore_errors=True)
    # small block target so multi-block terms + salting actually happen
    manifest = segments.build_segments(
        corpus, OUT, "content", "doc_id", n_buckets=4,
        target_block=32, nb_max=16, snapshot_id="test-snap",
    )
    naive = InMemoryIndex.build(corpus, "content", "doc_id")
    seg = SegmentIndex.load(spark, OUT)
    seg.prune_min_postings = 0  # force the block-max pruning branch in tests
    yield corpus, naive, seg, manifest
    naive.unpersist()
    corpus.unpersist()


def test_codec_roundtrip_property():
    rng = np.random.RandomState(42)
    for _ in range(100):
        n = rng.randint(0, 500)
        a = rng.randint(0, 2**62, size=n).astype(np.uint64)
        assert np.array_equal(codec.varbyte_decode(codec.varbyte_encode(a)), a)
        s = np.unique(a)
        assert np.array_equal(codec.delta_decode(codec.delta_encode(s)), s)


def test_block_decoder_matches_per_block_codec():
    """wand._decode_rows decodes a whole frame of blocks in one pass
    (concatenated streams, per-block doc-id re-basing); the reference is
    the per-block codec loop, over blocks of every size including empty
    ones and with doc ids up to 2^62."""
    import pandas as pd

    from content_rw_elasticsearch_spark.operators.wand import _decode_rows

    rng = np.random.RandomState(7)
    rows, ref, ref_pos = [], [], []
    for i in range(60):
        n = rng.randint(0, 40)
        ids = np.unique(rng.randint(0, 2**62, size=n).astype(np.uint64))
        tfs = rng.randint(1, 6, size=ids.size).astype(np.uint64)
        dls = rng.randint(1, 10_000, size=ids.size).astype(np.uint64)
        pos = np.concatenate(
            [np.sort(rng.choice(500, int(t), replace=False)) for t in tfs]
            + [np.empty(0, np.int64)]).astype(np.uint64)
        rows.append({"docs_vb": codec.delta_encode(ids),
                     "tfs_vb": codec.varbyte_encode(tfs),
                     "dlens_vb": codec.varbyte_encode(dls),
                     "pos_vb": codec.positions_encode(pos, tfs)})
        r = rows[-1]
        d = codec.delta_decode(r["docs_vb"]).astype(np.int64)
        t = codec.varbyte_decode(r["tfs_vb"])
        ref.append((np.full(d.size, i), d, t.astype(np.int64),
                    codec.varbyte_decode(r["dlens_vb"]).astype(np.int64)))
        ref_pos.append((np.repeat(np.full(d.size, i), t.astype(np.int64)),
                        np.repeat(d, t.astype(np.int64)),
                        codec.positions_decode(r["pos_vb"], t)
                        .astype(np.int64)))
    blocks = pd.DataFrame(rows)
    for got, want in [(_decode_rows(blocks), ref),
                      (_decode_rows(blocks, positions=True), ref_pos)]:
        for g, w in zip(got, zip(*want)):
            assert np.array_equal(g, np.concatenate(w))
    total_tf = sum(int(codec.varbyte_decode(r["tfs_vb"]).sum()) for r in rows)
    assert _decode_rows(blocks, True, max_positions=total_tf) is not None
    assert _decode_rows(blocks, True, max_positions=total_tf - 1) is None
    assert all(a.size == 0 for a in _decode_rows(blocks.iloc[:0]))


QUERIES = [
    ("return import", "AND", 10),
    ("return", "AND", 10),           # hottest term, max salting
    ("varbyte lucene", "OR", 10),
    ("quartz", "AND", 5),
    ("return import self the", "AND", 15),   # all hot (WAND worst case)
    ("absent return", "AND", 10),    # empty
    ("posting checkpoint", "OR", 25),
]


@pytest.mark.parametrize("query,mode,k", QUERIES)
def test_segment_matches_naive_and_wand(built, query, mode, k):
    _, naive, seg, _ = built
    expected = _collect(naive.search(query, k=k, mode=mode))
    exhaustive = _collect(seg.search(query, k=k, mode=mode, prune=False))
    pruned = _collect(seg.search(query, k=k, mode=mode, prune=True))
    assert exhaustive == expected, "segment decode path diverged from naive"
    assert pruned == expected, "block-max pruning changed results"


def test_manifest_lineage(built):
    _, _, _, manifest = built
    assert manifest["snapshot_id"] == "test-snap"
    assert manifest["committed"] is True
    assert manifest["posting_count"] > 0
    with open(os.path.join(OUT, "manifest_bucket_0.json")) as f:
        b0 = json.load(f)
    assert b0["committed"] and b0["segment_files"]
    assert "secs" in b0["build_metrics"]


def test_hot_terms_are_salted(spark, built):
    segs = spark.read.parquet(os.path.join(OUT, "segments"))
    from pyspark.sql import functions as F
    per_term = {r["term"]: (r["blocks"], r["nb"]) for r in
                segs.groupBy("term").agg(F.count("*").alias("blocks"),
                                         F.max("nb").alias("nb")).collect()}
    assert per_term["return"][1] > 1, "hot term must fan out over salts"
    # 'hotterm' occurs in exactly one doc (edge row id 6) → df=1 → one block
    assert per_term["hotterm"][1] == 1, "rare term must stay in one block"


def test_validate_index(spark, built):
    m = segments.validate_index(spark, OUT)
    assert m["committed"]


def test_resumable_restart(spark, built):
    """Kill-and-restart: drop one bucket's manifest + segments; a rebuild
    must reconstruct ONLY that bucket and produce identical results."""
    corpus, naive, _, _ = built
    dst = "/tmp/spark_graft_test_resume"
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(OUT, dst)
    os.remove(os.path.join(dst, "index.json"))
    os.remove(os.path.join(dst, "manifest_bucket_2.json"))
    shutil.rmtree(os.path.join(dst, "segments", "bucket=2"))
    kept_before = os.listdir(os.path.join(dst, "segments", "bucket=1"))
    segments.build_segments(
        corpus, dst, "content", "doc_id", n_buckets=4,
        target_block=32, nb_max=16, snapshot_id="test-snap",
    )
    # untouched bucket was not rebuilt
    assert os.listdir(os.path.join(dst, "segments", "bucket=1")) == kept_before
    seg = SegmentIndex.load(spark, dst)
    seg.prune_min_postings = 0
    for query, mode, k in QUERIES[:3]:
        assert _collect(seg.search(query, k=k, mode=mode)) == _collect(
            naive.search(query, k=k, mode=mode)
        )
    segments.validate_index(spark, dst)
    shutil.rmtree(dst)


def test_merge_preserves_results(spark, built):
    corpus, naive, _, _ = built
    dst = "/tmp/spark_graft_test_merge"
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(OUT, dst)
    before_blocks = spark.read.parquet(os.path.join(dst, "segments")).count()
    segments.merge_segments(spark, dst, target_block=10_000)
    # the merged base lives in a NEW versioned dir committed via index.json
    with open(os.path.join(dst, "index.json")) as f:
        m = json.load(f)
    assert m["seg_dir"] == "segments_v1" and not os.path.exists(
        os.path.join(dst, "segments")
    )
    after_blocks = spark.read.parquet(os.path.join(dst, m["seg_dir"])).count()
    assert after_blocks < before_blocks, "merge must compact blocks"
    seg = SegmentIndex.load(spark, dst)
    seg.prune_min_postings = 0
    for query, mode, k in QUERIES[:5]:
        assert _collect(seg.search(query, k=k, mode=mode)) == _collect(
            naive.search(query, k=k, mode=mode)
        ), query
    shutil.rmtree(dst)
