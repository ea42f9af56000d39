from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_arrow_spark.operators import dedup

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
    (3, "completely different content about database engines and query optimizers"),
    (4, "short doc"),  # < 3 tokens after shingling guard? 2 tokens -> no shingles
    (5, "another unrelated text mentioning distributed columnar execution runtime"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r.doc_id: (r.canonical_id, r.is_duplicate) for r in
           dedup.exact_dedup(docs, ["text"], "doc_id").collect()}
    assert out[0] == (0, False)
    assert out[1] == (0, True)
    assert out[2] == (2, False)


def test_exact_dedup_keep(docs):
    kept = sorted(r.doc_id for r in dedup.exact_dedup_keep(docs, ["text"], "doc_id").collect())
    assert kept == [0, 2, 3, 4, 5]


def test_shingle_table_short_doc_vanishes(docs):
    sh = dedup.shingle_table(docs, "doc_id", "text", 3)
    assert sh.filter(F.col("doc") == 4).count() == 0


def test_minhash_finds_planted_pairs(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0
    assert (1, 2) in pairs
    assert all(a < b for a, b in pairs)


def test_minhash_signatures_shingles_precedence_and_schema(docs):
    """A passed shingle table takes precedence over df/text_col/shingle_n
    (the signature equals the one derived from that table), and a frame
    without the (doc, shingle) columns is refused, not silently hashed."""
    sh = dedup.shingle_table(docs, "doc_id", "text", 3)
    own = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=4)
    # text_col/shingle_n name nothing usable: ignored when shingles= is set
    passed = dedup.minhash_signatures(
        docs, "doc_id", "no_such_col", num_hashes=4, shingle_n=7, shingles=sh
    )
    assert sorted(map(tuple, passed.collect())) == sorted(map(tuple, own.collect()))
    wrong = docs.select(F.col("doc_id").alias("doc"), F.col("text"))
    with pytest.raises(ValueError, match=r"\(doc, shingle\).*'shingle'"):
        dedup.minhash_signatures(docs, "doc_id", "text", shingles=wrong)


def test_ngram_jaccard_exact(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()}
    # 12 shingles each, 11 shared (one-token suffix diff): 11/13
    assert pairs[(0, 2)] == pytest.approx(11 / 13, abs=1e-6)
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) not in pairs


def test_simhash_identical_docs_same_fp(docs):
    fps = {r.doc: r.simhash for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert fps[0] == fps[1]
    assert 0 <= fps[0] < (1 << 16)


def test_simhash_pairs_hamming(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 3) not in pairs or pairs[(0, 3)] > 0  # unrelated docs shouldn't collide at 0


def test_embedding_neardup(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.01, 0.0]),   # near dup of 0
            (2, [0.0, 1.0, 0.0]),    # orthogonal
            (3, [-1.0, 0.0, 0.0]),   # opposite
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r.id_a, r.id_b): r.cos for r in
             dedup.embedding_neardup_pairs(emb, "vec_id", "embedding", 0.99).collect()}
    assert list(pairs) == [(0, 1)]
    assert pairs[(0, 1)] > 0.999


def test_incremental_pairs_equal_filtered_all_pairs(spark):
    from pyspark.sql import functions as F

    from neo4j_arrow_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        unpersist_intermediates,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, base) for i in range(8)]
        + [(100 + i, f"totally different text number {i} with unique words") for i in range(4)],
        "doc_id long, text string",
    )
    allp = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3)
    new = F.col("doc_id") >= 6  # docs 6,7 (dups of 0-5) + 100.. are "new"
    inc = minhash_lsh_pairs_incremental(docs, "doc_id", "text", is_new=new, threshold=0.3)

    all_rows = {(r.id_a, r.id_b) for r in allp.collect()}
    inc_rows = {(r.id_a, r.id_b) for r in inc.collect()}
    expected = {(a, b) for a, b in all_rows if a >= 6 or b >= 6}
    assert inc_rows == expected
    # old-old pairs exist in the full result but not the incremental one
    assert any(a < 6 and b < 6 for a, b in all_rows)
    assert not any(a < 6 and b < 6 for a, b in inc_rows)
    unpersist_intermediates(allp)
    unpersist_intermediates(inc)
