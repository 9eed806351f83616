"""Round-5 candidate-stage guards (VERDICT r4 #1/#2/#5): oversized LSH
buckets emit star edges instead of O(B²) all-pairs, the shingle-table
materialization is a real seam (disk / staged parquet), and SimHash
banding auto-selects by corpus size.

The planted scenario is the one the verdict names: a genuine near-dup
cluster (many trivially-varied copies of one template page that survive
exact dedup) lands in ONE (band, sig) bucket by design — capping can't
drop it, so the fix must bound the expansion while preserving
dedup-group connectivity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from validatelite_spark.operators import dedup


@pytest.fixture(scope="module")
def cluster_docs(spark):
    """60 exact copies of one page (one giant bucket in every band)
    plus a handful of unrelated docs."""
    rows = [(i, "the same viral template page body repeated "
                "across mirror sites with zero variation at all")
            for i in range(60)]
    rows += [(100 + i, f"distinct document number {i} about topic {i} "
                       f"with entirely different words {i * 7}")
             for i in range(5)]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestSimhashStarBuckets:
    def test_giant_bucket_candidates_bounded(self, spark):
        # 50 identical signatures → one 50-member bucket per band.
        sh = spark.createDataFrame([(i, 0x1234567890ABCDEF)
                                    for i in range(50)], "k long, sh long")
        uncapped = dedup.simhash_candidates(sh, max_distance=3,
                                            bucket_cap=None,
                                            verify=False).count()
        star = dedup.simhash_candidates(sh, max_distance=3, bucket_cap=10,
                                        verify=False).count()
        assert uncapped == 50 * 49 // 2  # the blow-up
        assert star == 49                # B-1 star edges, hub = min id
        # verified output: every star edge is a true distance-0 pair
        got = dedup.simhash_candidates(sh, max_distance=3,
                                       bucket_cap=10).collect()
        assert sorted((r.id1, r.id2, r.distance) for r in got) == \
            [(0, i, 0) for i in range(1, 50)]

    def test_under_cap_unchanged(self, spark):
        sh = spark.createDataFrame([(i, 0x1234567890ABCDEF)
                                    for i in range(8)], "k long, sh long")
        a = sorted(map(tuple, dedup.simhash_candidates(
            sh, max_distance=3).collect()))
        b = sorted(map(tuple, dedup.simhash_candidates(
            sh, max_distance=3, bucket_cap=None).collect()))
        assert a == b and len(a) == 8 * 7 // 2


class TestMinhashStarBuckets:
    def test_star_pairs_and_groups(self, cluster_docs):
        star = dedup.minhash_lsh_pairs(cluster_docs, bucket_cap=5)
        rows = star.collect()
        # 59 star edges from the min-id hub, all exact duplicates
        assert sorted((r.id1, r.id2) for r in rows) == \
            [(0, i) for i in range(1, 60)]
        assert all(r.jaccard == 1.0 for r in rows)
        # connected components + keep-one are IDENTICAL to uncapped
        full = dedup.minhash_lsh_pairs(cluster_docs, bucket_cap=None)
        g_star = {(r.doc_id, r.group_id)
                  for r in dedup.dedup_groups(star).collect()}
        g_full = {(r.doc_id, r.group_id)
                  for r in dedup.dedup_groups(full).collect()}
        assert g_star == g_full
        kept = sorted(r.doc_id for r in dedup.keep_representatives(
            cluster_docs, dedup.dedup_groups(star)).collect())
        assert kept == [0, 100, 101, 102, 103, 104]

    def test_kept_corpus_unchanged_on_testdata(self, spark, sf_dir):
        """On the driver corpus, a tiny cap (star mode almost
        everywhere) must still produce the exact uncapped kept set —
        the semantics-preservation claim, end to end."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        kept = {}
        for cap in (2, None):
            pairs = dedup.minhash_lsh_pairs(docs, threshold=0.7,
                                            bucket_cap=cap)
            groups = dedup.dedup_groups(pairs)
            kept[cap] = sorted(
                r.doc_id for r in dedup.keep_representatives(
                    docs, groups).collect())
        assert kept[2] == kept[None]


class TestShingleSeam:
    def test_staged_parquet_path(self, spark, sf_dir, tmp_path):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        stage = str(tmp_path / "shingle_stage")
        a = sorted(map(tuple, dedup.ngram_jaccard_pairs(
            docs, threshold=0.7).collect()))
        b = sorted(map(tuple, dedup.ngram_jaccard_pairs(
            docs, threshold=0.7, staging_dir=stage).collect()))
        assert a == b and a
        # the stage really was written and re-read
        assert spark.read.parquet(stage).columns == ["k", "sh", "sz"]


class TestAutoBlocks:
    def test_selection_rule(self):
        T = dedup.SIMHASH_AUTO_BLOCKS_THRESHOLD
        assert dedup._auto_blocks(T) is None
        assert dedup._auto_blocks(0) is None
        assert dedup._auto_blocks(T + 1) == 6
        assert dedup._auto_blocks(T + 1, max_distance=6) == 8
        assert dedup._auto_blocks(T + 1, max_distance=15) == 16

    def test_auto_is_default_and_small_corpus_narrow(self, cluster_docs):
        # small corpus → auto == narrow banding == explicit None
        auto = sorted(map(tuple, dedup.simhash_pairs(
            cluster_docs, max_distance=3).collect()))
        narrow = sorted(map(tuple, dedup.simhash_pairs(
            cluster_docs, max_distance=3, blocks=None).collect()))
        assert auto == narrow
