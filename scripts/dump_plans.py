"""Dump the executed physical plans of the distributed segment-store
reads, for before/after comparison of a refactor.

Builds a small positional index from the first 200 documents of a
generated data directory (``<data_dir>/documents.parquet``; the sf0.001
scale is enough), commits one delta generation (an upsert, a delete and
an insert), disables the driver fast path (``driver_max_postings = 0``)
and writes, per query, the formatted executed plan to
``<out>/<name>_<tag>.txt``:

  * ``search`` in AND, OR, min_should_match, ``after`` and
    ``filter_ids`` modes, plus a forced block-max-pruned OR;
  * ``count``;
  * ``phrase_search`` with slop 0 and 1, ``phrase_prefix_search`` and
    ``highlight``;
  * the decode that ``merge_delta_tier`` and ``fold_deltas`` feed to
    the encoder (captured at the ``encode_segments`` call).

Expression IDs (``#123``), plan ids and the data and work directories
are normalized so two runs diff cleanly. ``compare`` checks, per query,
that two tags show the same operator trees (runtime statistics aside).
Usage:

    PYTHONPATH=. python scripts/dump_plans.py <out_dir> <tag> <data_dir> [work_dir]
    python scripts/dump_plans.py compare <out_dir> <tag_a> <tag_b>
"""

from __future__ import annotations

import os
import re
import shutil
import sys


def _formatted(df) -> str:
    qe = df._jdf.queryExecution()
    return df.sparkSession._jvm.PythonSQLUtils.explainString(qe, "formatted")


def _normalize(text: str, data: str, work: str) -> str:
    text = text.replace(data, "<data>").replace(work, "<work>")
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    return re.sub(r"#\d+L?", "#N", text)


def _trees(path: str) -> tuple[list[str], list[str]]:
    """(final, initial) operator-tree lines of a formatted plan dump,
    runtime statistics stripped."""
    lines = [re.sub(r", Statistics\(.*\)$", "", ln) for ln in
             open(path).read().split("\n\n\n")[0].splitlines()]
    cut = next((i for i, ln in enumerate(lines)
                if "== Initial Plan ==" in ln), len(lines))
    return lines[:cut], lines[cut:]


def compare(out: str, tag_a: str, tag_b: str) -> int:
    """SAME: identical trees. SAME-INITIAL: identical planned trees, but
    adaptive execution picked a different final plan at run time (e.g.
    the build side of a join between two equal-size stages, which
    depends on which stage finished first). DIFFERENT: the planned
    trees differ."""
    names = sorted(f[: -len(f"_{tag_a}.txt")] for f in os.listdir(out)
                   if f.endswith(f"_{tag_a}.txt"))
    bad = 0
    for name in names:
        (fa, ia), (fb, ib) = (
            _trees(os.path.join(out, f"{name}_{tag}.txt"))
            for tag in (tag_a, tag_b))
        verdict = ("SAME" if (fa, ia) == (fb, ib)
                   else "SAME-INITIAL" if ia == ib else "DIFFERENT")
        bad += verdict == "DIFFERENT"
        print(f"{verdict} {name}")
    return 1 if bad else 0


def main() -> None:
    if sys.argv[1] == "compare":
        sys.exit(compare(*sys.argv[2:5]))
    out, tag, data = sys.argv[1], sys.argv[2], sys.argv[3].rstrip("/")
    work = sys.argv[4] if len(sys.argv) > 4 else "/tmp/dump_plans_work"
    from pyspark.sql import functions as F

    from content_rw_elasticsearch_spark.operators.segments import build_segments
    from content_rw_elasticsearch_spark.operators.wand import SegmentIndex
    from content_rw_elasticsearch_spark.session import get_spark
    from content_rw_elasticsearch_spark.streaming import ingest

    os.makedirs(out, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    idx_dir = os.path.join(work, "idx")
    spark = get_spark(app_name="dump-plans", master="local[4]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{data}/documents.parquet") \
        .orderBy("doc_id").limit(200).cache()
    build_segments(docs, idx_dir, text_col="text", doc_col="doc_id",
                   n_buckets=4, target_block=64, nb_max=8,
                   with_positions=True)
    ids = [r["doc_id"] for r in docs.select("doc_id").limit(4).collect()]

    def batch(rows):
        return spark.createDataFrame(
            rows, "doc_id long, content string, deleted boolean")

    ingest.apply_upserts(spark, idx_dir, batch([
        (ids[0], "hash join hash join probe", False),
        (ids[1], "", True),
        (10 ** 9, "merge join hash table", False),
    ]), "content", "doc_id", "deleted")

    def dump(name: str, df) -> None:
        df.collect()
        with open(os.path.join(out, f"{name}_{tag}.txt"), "w") as f:
            f.write(f"==== {name} as executed ====\n")
            f.write(_normalize(_formatted(df), data, work))

    def capture_as(name: str):
        # the encoder's input is executed and dumped while the source
        # generations still exist (merge and fold delete them after)
        def capture(salted, *args, **kwargs):
            dump(name, salted)
            return real_encode(salted, *args, **kwargs)
        return capture

    idx = SegmentIndex.load(spark, idx_dir)
    idx.driver_max_postings = 0
    if not idx.generations:
        raise SystemExit("expected a live delta generation")
    dump("search_and", idx.search("hash join", k=10, mode="AND"))
    dump("search_or", idx.search("hash join merge", k=10, mode="OR"))
    dump("search_msm", idx.search("hash join merge", k=10, mode="OR",
                                  min_should_match=2))
    dump("search_after", idx.search("hash join merge", k=5, mode="OR",
                                    after=(0.5, 0)))
    dump("search_filter_ids", idx.search(
        "hash join", k=10, mode="AND",
        filter_ids=docs.filter(F.col("doc_id") % 2 == 0).select("doc_id")))
    idx.prune_min_postings = 0
    dump("search_pruned_or", idx.search("hash join merge", k=3, mode="OR"))
    idx.prune_min_postings = 500_000
    dump("count", idx.count("hash join"))
    dump("phrase_slop0", idx.phrase_search("hash join"))
    dump("phrase_slop1", idx.phrase_search("hash join", slop=1))
    dump("phrase_prefix", idx.phrase_prefix_search("hash jo"))
    dump("highlight", idx.highlight("hash join", docs, text_col="text",
                                    doc_col="doc_id", k=5))

    real_encode = ingest.encode_segments
    ingest.apply_upserts(spark, idx_dir, batch([
        (ids[2], "hash join merge", False),
    ]), "content", "doc_id", "deleted")
    try:
        ingest.encode_segments = capture_as("merge_delta_tier_decode")
        ingest.merge_delta_tier(spark, idx_dir)
        ingest.encode_segments = real_encode
        ingest.apply_upserts(spark, idx_dir, batch([
            (ids[3], "", True),
        ]), "content", "doc_id", "deleted")
        ingest.encode_segments = capture_as("fold_deltas_decode")
        ingest.fold_deltas(spark, idx_dir)
    finally:
        ingest.encode_segments = real_encode
    spark.stop()


if __name__ == "__main__":
    main()
