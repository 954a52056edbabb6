"""Round-11 late operators: C4 line-level rule battery, reciprocal-rank
fusion, leakage-safe group split."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.extended import dedup, linkage, semdedup, similarity
from engine.extended.sampling import group_safe_split, hash_split
from engine.extended.search import rrf_fuse_topk
from engine.extended.text import c4_rule_exprs


def _c4_rows(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cols = c4_rule_exprs("text")
    out = df.select("doc_id", *[c.alias(n) for n, c in cols.items()])
    return [r.asDict() for r in out.orderBy("doc_id").collect()]


def test_c4_line_keep_semantics(spark):
    text = "\n".join(
        [
            "one two three four five.",  # kept: terminal + 5 words
            "one two three four.",  # dropped: only 4 words
            "one two three four five six",  # dropped: no terminal punct
            "enable javascript to view five items.",  # dropped: javascript
            'he said "hello there my good friend"',  # kept: quote-terminal
            "a sixth line that ends with a question?",  # kept
        ]
    )
    row = _c4_rows(spark, [text])[0]
    assert row["n_lines"] == 6
    assert row["n_kept_lines"] == 3
    assert "javascript" not in row["clean_text"]
    assert row["clean_text"].count("\n") == 2
    # kept text has 2 sentence terminators ('.' and '?'; the quote line
    # ends in '"' which keeps the LINE but is not a sentence terminator)
    assert row["n_sentences"] == 2
    assert row["flag_sentences"] == 0 and row["keep"] == 0


def test_c4_document_level_rules(spark):
    good = "\n".join(["alpha beta gamma delta epsilon."] * 3)
    lorem = good + "\nlorem ipsum dolor sit amet consectetur."
    brace = good + "\nvar x = { a: 1 };"
    short = "alpha beta gamma delta epsilon."  # only 1 sentence
    rows = _c4_rows(spark, [good, lorem, brace, short])
    assert rows[0]["keep"] == 1 and rows[0]["n_sentences"] == 3
    assert rows[1]["keep"] == 0 and rows[1]["flag_lorem"] == 0
    # the lorem line itself is terminal with >=5 words, so it IS kept at
    # line level — the rule kills the DOCUMENT, not the line
    assert rows[1]["n_kept_lines"] == 4
    assert rows[2]["keep"] == 0 and rows[2]["flag_brace"] == 0
    # the brace line has no terminal punctuation -> dropped at line level
    assert rows[2]["n_kept_lines"] == 3
    assert rows[3]["keep"] == 0 and rows[3]["flag_sentences"] == 0


def test_c4_case_insensitive_doc_rules(spark):
    text = "alpha beta gamma delta epsilon.\nLOREM IPSUM dolor sit amet."
    row = _c4_rows(spark, [text])[0]
    assert row["flag_lorem"] == 0 and row["keep"] == 0


def _retrieval_fixture(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark query engine runs fast"),
            (2, "spark query planner"),
            (3, "unrelated words about cooking pasta"),
            (4, "spark spark appears twice here"),
        ],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [
            (1, [0.0, 1.0]),  # orthogonal to query
            (2, [1.0, 0.0]),  # identical direction -> rank 1
            (3, [1.0, 1.0]),  # cos = 0.7071 -> rank 2
            (4, [-1.0, 0.0]),  # cos = -1 -> rank 3 among candidates
        ],
        "vec_id long, embedding array<float>",
    )
    return docs, vecs


def test_rrf_fuses_both_rank_lists(spark):
    docs, vecs = _retrieval_fixture(spark)
    out = {
        r["doc_id"]: r.asDict()
        for r in rrf_fuse_topk(
            docs, vecs, ["spark"], [1.0, 0.0], k=4, n_candidates=4
        ).collect()
    }
    # lexical ranks: doc1 (3x spark in 7 words) > doc4 > doc2 > doc3(0, ties
    # by id). vector ranks: 2, 3, 1, 4.
    assert out[1]["lex_rank"] == 1 and out[2]["vec_rank"] == 1
    for r in out.values():
        contrib = 0.0
        if r["lex_rank"] is not None:
            contrib += 1.0 / (60 + r["lex_rank"])
        if r["vec_rank"] is not None:
            contrib += 1.0 / (60 + r["vec_rank"])
        assert abs(r["rrf_score"] - round(contrib, 6)) < 1e-12


def test_rrf_candidate_truncation_leaves_one_sided_rows(spark):
    docs, vecs = _retrieval_fixture(spark)
    out = {
        r["doc_id"]: r.asDict()
        for r in rrf_fuse_topk(
            docs, vecs, ["spark"], [1.0, 0.0], k=10, n_candidates=2
        ).collect()
    }
    # lex list: docs {1, 4}; vec list: docs {2, 3} -> every row one-sided
    assert out[1]["vec_rank"] is None and out[1]["lex_rank"] == 1
    assert out[2]["lex_rank"] is None and out[2]["vec_rank"] == 1
    assert out[1]["rrf_score"] == round(1.0 / 61, 6)
    # full outer keeps all 4 candidates
    assert set(out) == {1, 2, 3, 4}


def test_group_safe_split_never_straddles_duplicates(spark):
    rows = [
        (i, f"document number {i // 3} with shared content!") for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = group_safe_split(df)
    # every fingerprint group maps to exactly one split
    bad = (
        out.groupBy("group_rep")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert bad == 0
    # groups are the i//3 triples; the rep is the smallest member
    first = {r["doc_id"]: r for r in out.collect()}
    assert first[4]["group_rep"] == 3 and first[5]["group_rep"] == 3
    # and the split equals hash_split of the representative id
    rep_split = (
        df.select(F.lit(3).alias("k"))
        .limit(1)
        .select(hash_split(F.col("k")).alias("s"))
        .first()["s"]
    )
    assert first[3]["split"] == rep_split


def test_group_safe_split_normalization_joins_variants(spark):
    df = spark.createDataFrame(
        [
            (10, "Hello, World!"),
            (20, "hello world"),
            (30, "HELLO WORLD?!"),
            (40, "entirely different text"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in group_safe_split(df).collect()}
    assert out[10]["group_rep"] == 10
    assert out[20]["group_rep"] == 10 and out[30]["group_rep"] == 10
    assert out[40]["group_rep"] == 40
    assert len({out[i]["split"] for i in (10, 20, 30)}) == 1


def test_trigram_lm_interpolated_probability(spark):
    import math

    from engine.extended.curation import trigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b d"), (4, "x y")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in trigram_lm_scores(df).collect()}
    # doc 4 has no trigram -> absent
    assert set(out) == {1, 2, 3}
    # corpus model: c3(a b c)=2, c3(a b d)=1, history (a b)=3;
    # bigrams: (a b)x3 (b c)x2 (b d)x1, histories a=3 b=3; unigram N
    # counts EVERY token including trigram-less doc 4's -> N=11.
    p1 = 0.6 * (2 / 3) + 0.3 * (2 / 3) + 0.1 * (2 / 11)
    assert out[1]["n_trigrams"] == 1
    assert out[1]["avg_logp"] == round(math.log2(p1), 4)
    assert out[1]["avg_logp"] == out[2]["avg_logp"]
    p3 = 0.6 * (1 / 3) + 0.3 * (1 / 3) + 0.1 * (1 / 11)
    assert out[3]["avg_logp"] == round(math.log2(p3), 4)
    # the duplicated trigram scores HIGHER than the rare one
    assert out[1]["avg_logp"] > out[3]["avg_logp"]


def test_shrunk_group_rate_pulls_small_groups_to_the_mean(spark):
    from engine.extended.curation import shrunk_group_rate

    rows = [("A", 1)] * 3 + [("B", 1)] * 40 + [("B", 0)] * 10
    df = spark.createDataFrame(rows, "src string, keep int")
    out = {
        r["src"]: r.asDict()
        for r in shrunk_group_rate(df, "src", "keep", m=10).collect()
    }
    # A: 3/3 raw; N=53, K=43 -> shrunk = (3*53 + 10*43) / ((3+10)*53)
    assert out["A"]["rate"] == 1.0
    assert out["A"]["shrunk_rate"] == round((3 * 53 + 10 * 43) / (13 * 53), 4)
    assert out["A"]["shrunk_rate"] < 1.0
    # B is large: shrinkage barely moves it
    assert abs(out["B"]["shrunk_rate"] - out["B"]["rate"]) < 0.02
    # despite a perfect raw rate, tiny A must not outrank big B
    assert out["A"]["shrunk_rate"] < out["B"]["shrunk_rate"] + 0.06


def test_shrunk_group_rate_m_zero_is_identity(spark):
    from engine.extended.curation import shrunk_group_rate

    df = spark.createDataFrame(
        [("A", 1), ("A", 0), ("B", 1)], "src string, keep int"
    )
    out = {
        r["src"]: r.asDict()
        for r in shrunk_group_rate(df, "src", "keep", m=0).collect()
    }
    assert out["A"]["shrunk_rate"] == out["A"]["rate"] == 0.5
    assert out["B"]["shrunk_rate"] == out["B"]["rate"] == 1.0


def test_ngram_containment_asymmetry(spark):
    from engine.extended.dedup import ngram_containment_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (3, "xx yy"),  # < 3 tokens -> empty shingle set
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 2)], "id_a long, id_b long"
    )
    out = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in ngram_containment_pairs(docs, pairs).collect()
    }
    # doc1's 4 shingles all appear in doc2 (8 shingles): fully contained
    assert out[(1, 2)]["contain_a"] == 1.0
    assert out[(1, 2)]["contain_b"] == 0.5
    # symmetric Jaccard of the same pair would be 4/8 — containment is
    # the side that says "doc1 is a quote of doc2"
    # empty shingle set scores NULL, not a division error
    assert out[(3, 2)]["contain_a"] is None
    assert out[(3, 2)]["contain_b"] == 0.0


def test_prefix_block_cap_bounds_hot_blocks(spark):
    from engine.extended.dedup import prefix_block_pairs

    # 600 docs sharing one 5-token prefix: uncapped would be C(600,2)
    rows = [(i, f"alpha beta gamma delta epsilon tail{i}") for i in range(600)]
    rows += [(1000, "zeta eta theta iota kappa solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n = prefix_block_pairs(df, block_cap=500).count()
    assert n == 500 * 499 // 2
    # cap keeps the LOWEST ids: doc 599 (rank 600) never pairs
    assert (
        prefix_block_pairs(df, block_cap=500)
        .filter((F.col("id_a") == 599) | (F.col("id_b") == 599))
        .count()
        == 0
    )
    # small blocks pair fully; the singleton block yields nothing
    tiny = prefix_block_pairs(
        spark.createDataFrame(rows[:3] + rows[-1:], "doc_id long, text string")
    )
    assert tiny.count() == 3


def _cap_docs(spark):
    return spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon eta")],
        "doc_id long, text string",
    )


def _cap_vecs(spark):
    return spark.createDataFrame(
        [(1, 0, [1.0] * 16), (2, 0, [1.0] * 15 + [0.9])],
        "vec_id long, label int, embedding array<float>",
    )


def _cap_names(spark):
    left = spark.createDataFrame([(1, "smith")], "left_id long, left_text string")
    right = spark.createDataFrame([(7, "smyth")], "right_id long, right_text string")
    return left, right


#: every capped candidate generator, called with its cap set to ``cap``
_CAPPED = {
    "minhash_candidates": lambda s, cap: dedup.minhash_candidates(_cap_docs(s), bucket_cap=cap),
    "minhash_band_sweep": lambda s, cap: dedup.minhash_band_sweep(
        dedup.minhash_sigs(_cap_docs(s)), bucket_cap=cap
    ),
    "minhash_band_index": lambda s, cap: dedup.minhash_band_index(_cap_docs(s), bucket_cap=cap),
    "hamming_band_pairs": lambda s, cap: dedup.hamming_band_pairs(
        dedup.simhash_sigs(_cap_docs(s)), bucket_cap=cap
    ),
    "simhash_candidates": lambda s, cap: dedup.simhash_candidates(_cap_docs(s), bucket_cap=cap),
    "embedding_near_dup": lambda s, cap: dedup.embedding_near_dup(_cap_vecs(s), bucket_cap=cap),
    "lsh_knn_join": lambda s, cap: similarity.lsh_knn_join(
        _cap_vecs(s), _cap_vecs(s), k=1, bucket_cap=cap
    ),
    "semdedup": lambda s, cap: semdedup.semdedup(_cap_vecs(s), threshold=0.9, cluster_cap=cap),
    "prefix_block_pairs": lambda s, cap: dedup.prefix_block_pairs(_cap_docs(s), block_cap=cap),
    "blocked_levenshtein_match": lambda s, cap: linkage.blocked_levenshtein_match(
        *_cap_names(s), block_cap=cap
    ),
}


@pytest.mark.parametrize("cap", [0, -1])
@pytest.mark.parametrize("name", sorted(_CAPPED))
def test_bucket_cap_below_one_raises(spark, name, cap):
    """A cap below 1 must raise in every capped generator, not silently
    read as "no cap" (the truthiness trap: 0 would build the unbounded
    quadratic self-join the cap exists to prevent)."""
    with pytest.raises(ValueError):
        _CAPPED[name](spark, cap)


def test_weighted_jaccard_sees_repetition(spark):
    from engine.extended.dedup import weighted_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam ham"),
            (2, "spam ham ham ham"),
            (3, "spam ham"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "id_a long, id_b long"
    )
    out = {
        (r["id_a"], r["id_b"]): r["weighted_jaccard"]
        for r in weighted_jaccard_pairs(docs, pairs).collect()
    }
    # sets are identical ({spam, ham} everywhere) — set Jaccard would say
    # 1.0 for every pair; multisets disagree:
    # (1,2): min(3,1)+min(1,3)=2, max sums 3+3=6 -> 1/3
    assert out[(1, 2)] == round(2 / 6, 4)
    # (1,3): min(3,1)+min(1,1)=2 over max(3,1)+max(1,1)=4 -> 0.5
    assert out[(1, 3)] == 0.5
    assert out[(2, 3)] == 0.5


def test_weighted_jaccard_disjoint_and_empty_docs(spark):
    from engine.extended.dedup import weighted_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd"), (3, "")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    out = {
        (r["id_a"], r["id_b"]): r["weighted_jaccard"]
        for r in weighted_jaccard_pairs(docs, pairs).collect()
    }
    assert out[(1, 2)] == 0.0  # no shared tokens
    # empty-vs-nonempty is mathematically 0 (Σmin=0 over Σmax=|A|);
    # only 0/0 (both empty) would be NULL
    assert out[(1, 3)] == 0.0


def test_late_interaction_facet_matching(spark):
    from engine.extended.similarity import late_interaction_topk

    # 4-dim vectors, 2 slices of 2: query facets point +x and +y
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 1.0]),  # facets match q exactly -> 2.0
            (2, [0.0, 1.0, 1.0, 0.0]),  # facets SWAPPED -> MaxSim still 2.0
            (3, [1.0, 0.0, 0.0, -1.0]),  # second facet anti-aligned -> 1+max(-1,0..)
            (4, [0.0, 0.0, 0.0, 0.0]),  # zero vector -> sentinel sinks it
            (5, [1.0, 1.0]),  # wrong dim -> filtered out
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: r["maxsim"]
        for r in late_interaction_topk(
            vecs, [1.0, 0.0, 0.0, 1.0], n_slices=2, k=10
        ).collect()
    }
    assert out[1] == 2.0
    # the swapped doc still scores 2.0 — the late-interaction property a
    # plain full-vector cosine (which scores doc2 at 0.0) cannot express
    assert out[2] == 2.0
    assert out[3] == 1.0
    assert out[4] == -4.0  # two facets, both at the -2.0 sentinel
    assert 5 not in out


def test_late_interaction_rejects_bad_slicing(spark):
    import pytest

    from engine.extended.similarity import late_interaction_topk

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        late_interaction_topk(vecs, [1.0, 0.0, 0.0], n_slices=2)


def test_weighted_jaccard_matches_counter_reference(spark):
    """Randomized (seeded) parity against an independent pure-Python
    multiset reference: Σmin/Σmax over collections.Counter — a different
    algorithm (per-pair dict walk) than the engine's single-inner-join
    identity, so an algebra mistake in either cannot hide."""
    import random
    from collections import Counter

    from engine.extended.dedup import weighted_jaccard_pairs

    rng = random.Random(411)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(40)
    ]
    pairs = [
        (a, b)
        for a in range(40)
        for b in range(a + 1, 40)
        if rng.random() < 0.08
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        (r["id_a"], r["id_b"]): r["weighted_jaccard"]
        for r in weighted_jaccard_pairs(df, pf).collect()
    }
    texts = dict(docs)
    assert set(got) == set(pairs)
    for a, b in pairs:
        ca, cb = Counter(texts[a].split()), Counter(texts[b].split())
        keys = set(ca) | set(cb)
        mn = sum(min(ca[k], cb[k]) for k in keys)
        mx = sum(max(ca[k], cb[k]) for k in keys)
        want = round(mn / mx, 4) if mx else None
        assert got[(a, b)] == want, (a, b, got[(a, b)], want)
        if want is not None:
            assert 0.0 <= got[(a, b)] <= 1.0


def test_containment_matches_set_reference(spark):
    """Same randomized-parity discipline for containment: |A∩B|/|A| over
    python-set 3-gram shingles."""
    import random

    from engine.extended.dedup import ngram_containment_pairs

    rng = random.Random(412)
    vocab = [f"t{i}" for i in range(8)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15))))
        for i in range(30)
    ]
    pairs = [(a, a + 1) for a in range(0, 29, 2)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        (r["id_a"], r["id_b"]): (r["contain_a"], r["contain_b"])
        for r in ngram_containment_pairs(df, pf).collect()
    }
    texts = dict(docs)

    def shingles(s):
        toks = s.split()
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    for a, b in pairs:
        sa, sb = shingles(texts[a]), shingles(texts[b])
        inter = len(sa & sb)
        want_a = round(inter / len(sa), 4) if sa else None
        want_b = round(inter / len(sb), 4) if sb else None
        assert got[(a, b)] == (want_a, want_b), (a, b)


def test_r11_opt_ivfpq_shared_quantized_view(spark):
    """r11 OPTIMIZATION round: ivf_build_seeded / pq_train_seeded accept a
    caller-owned persisted quantized view (``pts``) so a composed probe
    (ann_ivfpq_topk) materializes ONE cache instead of two.  Contract:
    results are identical to the standalone builds, and the builders must
    NOT unpersist the caller's frame (the caller owns release)."""
    from pyspark.sql import functions as F

    from engine.extended.similarity import (
        ivf_build_seeded,
        pq_train_seeded,
        quantized_vec,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a1, cents1 = ivf_build_seeded(emb, n_lists=8, iters=2, dim=64)
    cb1 = pq_train_seeded(emb, m=4, ksub=8, iters=2, dim=64)

    pts = (
        emb.filter(F.col("embedding").isNotNull())
        .select(*emb.columns, quantized_vec("embedding").alias("__q"))
        .persist()
    )
    a2, cents2 = ivf_build_seeded(emb, n_lists=8, iters=2, dim=64, pts=pts)
    cb2 = pq_train_seeded(emb, m=4, ksub=8, iters=2, dim=64, pts=pts)

    assert cents1 == cents2
    assert cb1 == cb2
    # builders must not release the caller's cache
    assert pts.storageLevel.useMemory
    r1 = sorted((r["vec_id"], r["ivf_list"])
                for r in a1.select("vec_id", "ivf_list").collect())
    r2 = sorted((r["vec_id"], r["ivf_list"])
                for r in a2.select("vec_id", "ivf_list").collect())
    assert r1 == r2
    pts.unpersist()
