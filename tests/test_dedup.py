"""Dedup operators: simhash rewrite equivalence, banded-hamming near
pairs, and the distributed block-matmul embedding near-dup tier."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _old_simhash(docs, bits=32):
    """Round-1 formulation (32 interpreted filter passes) as the oracle
    for the explode+groupBy rewrite: same hashes, same majority rule."""
    from cbor_ld_spark.operators.text import _norm

    toks = F.split(_norm(F.col("text")), " ")
    base = docs.select(
        "doc_id",
        F.transform(toks, lambda t: F.xxhash64(t)).alias("hashes"),
        F.size(toks).alias("n"),
    )

    def _bit_pred(b):
        return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

    sim = F.lit(0).cast("long")
    for b in range(bits):
        ones = F.size(F.filter("hashes", _bit_pred(b)))
        sim = sim.bitwiseOR(
            F.when(ones * 2 > F.col("n"), F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long")))
    return base.select("doc_id", sim.alias("simhash"))


BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest before nightfall arrives while "
        "the watchful owl keeps silent count of every passing shadow and "
        "the river below carries cold clear water past mossy stones "
        "toward the quiet valley where farmers gather the late harvest "
        "under a wide amber sky as evening bells ring across the fields")


def test_simhash_matches_filter_formulation(spark):
    from cbor_ld_spark.operators.dedup import simhash

    docs = _docs(spark, [(i, BASE + f" variant {i % 3}") for i in range(30)]
                 + [(100, "single"), (101, "")])
    new = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    old = {r["doc_id"]: r["simhash"] for r in _old_simhash(docs).collect()}
    assert new == old


def test_simhash_near_pairs_finds_mutations(spark):
    from cbor_ld_spark.operators.dedup import simhash, simhash_near_pairs

    # doc 1 = doc 0 with one word changed; doc 2 unrelated
    rows = [
        (0, BASE),
        (1, BASE.replace("lazy", "sleepy")),
        (2, "completely different content about spark catalyst optimizer "
            "plans and shuffle partitioning strategies at scale"),
    ]
    docs = _docs(spark, rows)
    sims = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    d01 = bin(sims[0] ^ sims[1]).count("1")
    d02 = bin(sims[0] ^ sims[2]).count("1")
    # one-word mutations land within a few bits; unrelated docs far away
    assert d01 <= 3 < d02
    pairs = {(r["doc_a"], r["doc_b"]): r["distance"]
             for r in simhash_near_pairs(docs, max_distance=3).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == d01
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_simhash_near_pairs_pigeonhole_complete(spark):
    """Every pair within max_distance is found (bucketing loses nothing)."""
    from cbor_ld_spark.operators.dedup import simhash, simhash_near_pairs

    words = BASE.split()
    rows = [(0, BASE)] + [
        (i, " ".join(w + ("x" if k == i % len(words) else "")
                     for k, w in enumerate(words)))
        for i in range(1, 12)
    ]
    docs = _docs(spark, rows)
    sims = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    expected = {(a, b) for a in sims for b in sims if a < b
                and bin(sims[a] ^ sims[b]).count("1") <= 3}
    got = {(r["doc_a"], r["doc_b"])
           for r in simhash_near_pairs(docs, max_distance=3).collect()}
    assert got == expected


def test_simhash_near_pairs_rejects_bad_params(spark):
    from cbor_ld_spark.operators.dedup import simhash_near_pairs

    with pytest.raises(ValueError):
        simhash_near_pairs(_docs(spark, [(0, "x")]), bands=4, max_distance=4)


def test_blocked_equals_exact(spark):
    from cbor_ld_spark.operators.dedup import (
        embedding_near_duplicates,
        embedding_near_duplicates_blocked,
    )

    exact = {(r["vec_a"], r["vec_b"]): r["cosine"]
             for r in embedding_near_duplicates(
                 spark, SF, threshold=0.35, max_vectors=600).collect()}
    # small block_size forces a multi-block grid (the distributed path)
    blocked = {(r["vec_a"], r["vec_b"]): r["cosine"]
               for r in embedding_near_duplicates_blocked(
                   spark, SF, threshold=0.35, block_size=64).collect()}
    blocked = {k: v for k, v in blocked.items() if k[0] < 600 and k[1] < 600}
    assert set(blocked) == set(exact)
    for k in exact:
        assert abs(blocked[k] - exact[k]) < 1e-6


def test_minhash_pairs_catch_near_duplicates(spark):
    from cbor_ld_spark.operators.dedup import minhash_lsh_pairs

    words = BASE.split()
    mutated = " ".join(words[:-1] + ["night"])
    docs = _docs(spark, [(0, BASE), (1, mutated),
                         (2, "unrelated text about benchmark throughput "
                             "and executor scaling efficiency targets")])
    pairs = {(r["doc_a"], r["doc_b"])
             for r in minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_simhash_null_text_yields_row(spark):
    from cbor_ld_spark.operators.dedup import simhash

    docs = spark.createDataFrame([(0, BASE), (1, None)],
                                 "doc_id long, text string")
    rows = {r["doc_id"] for r in simhash(docs).collect()}
    assert rows == {0, 1}


def test_blocked_sparse_ids_no_duplicate_pairs(spark, tmp_path):
    """Review r2: sparse vec_ids leave some blocks empty; a cross-block
    group with an empty right side must not re-emit self-pairs."""
    import numpy as np

    from cbor_ld_spark.operators.dedup import (
        embedding_near_duplicates_blocked,
    )

    rng = np.random.default_rng(3)
    base = rng.normal(size=8)
    rows = [(int(i * 7), (base + rng.normal(scale=0.05, size=8)).tolist())
            for i in range(12)]  # ids all ≡ 0 (mod 7): blocks 1..6 empty
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.parquet(f"{tmp_path}/embeddings.parquet")
    out = embedding_near_duplicates_blocked(
        spark, str(tmp_path), threshold=0.9, block_size=2).collect()
    pairs = [(r["vec_a"], r["vec_b"]) for r in out]
    assert len(pairs) == len(set(pairs)), "duplicate pairs emitted"
    assert len(pairs) > 0


def test_blocked_zero_vector_scores_zero(spark, tmp_path):
    """A zero vector normalises to zero, not NaN: at a threshold below 0
    it pairs with every other vector at cosine 0.0.  Blocks of 2 put the
    vectors in several block pairs."""
    from cbor_ld_spark.operators.dedup import (
        embedding_near_duplicates_blocked,
    )

    rows = [(0, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]),
            (2, [2.0, 0.0, 0.0]), (3, [0.0, 3.0, 0.0])]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.parquet(f"{tmp_path}/embeddings.parquet")
    got = {(r["vec_a"], r["vec_b"]): r["cosine"]
           for r in embedding_near_duplicates_blocked(
               spark, str(tmp_path), threshold=-1.0, block_size=2)
           .collect()}
    assert got == {(0, 1): 0.0, (0, 2): 0.0, (0, 3): 0.0,
                   (1, 2): 1.0, (1, 3): 0.0, (2, 3): 0.0}
    near = embedding_near_duplicates_blocked(
        spark, str(tmp_path), threshold=0.9, block_size=2).collect()
    assert [(r["vec_a"], r["vec_b"], r["cosine"]) for r in near] == [
        (1, 2, 1.0)]


def test_lang_id_multi_predictions(spark):
    from cbor_ld_spark.operators.text import lang_id_multi

    docs = spark.createDataFrame([
        (0, "the cat sat on the mat and it was happy that the sun is out"),
        (1, "el perro corre en la casa y los gatos del barrio se van a las calles"),
        (2, "le chat est dans la maison et les chiens des voisins sont un peu du genre calme"),
        (3, "der hund und die katze sind mit den kindern auf das feld von dem haus gegangen"),
        (4, "zzz qqq xxx yyy www"),
    ], "doc_id long, text string")
    pred = {r["doc_id"]: r["lang_pred"]
            for r in lang_id_multi(docs).collect()}
    assert pred == {0: "en", 1: "es", 2: "fr", 3: "de", 4: "unknown"}


def test_stopword_hits_count_adjacent_repeats(spark):
    """Advice r2: ' el el ' must count 2 stopword hits, not 1 — the
    shared separator space was consumed by the first split match."""
    from cbor_ld_spark.operators.text import lang_id_multi, quality_scores

    docs = spark.createDataFrame(
        [(0, "the the the", "en")], "doc_id long, text string, lang string")
    row = quality_scores(docs).collect()[0]
    assert row["stopword_hits"] == 3
    # density 3/3 = 1.0 -> confidently 'en'
    m = lang_id_multi(docs.select("doc_id", "text")).collect()[0]
    assert (m["lang_pred"], m["best_score"]) == ("en", 1.0)
