"""Golden tests for dedup / similarity / text operators on fixtures with
REAL duplicates and known-similar vectors (the synthetic documents table
is all-unique, so semantics are proven here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from twitch_chat_analyser_spark import ingest
from twitch_chat_analyser_spark.operators import dedup, llmops, similarity, textops

DOCS = [
    # (doc_id, text, lang, source, n_chars)
    (1, "the quick brown fox jumps over the lazy dog", "en", "s1", 44),
    (2, "THE  Quick   Brown fox jumps over the lazy dog", "en", "s1", 47),  # exact dup after norm
    (3, "the quick brown fox jumps over the lazy cat", "en", "s1", 44),  # near dup
    (4, "completely different words here about spark engines", "en", "s1", 52),
    (5, "der schnelle braune fuchs und der faule hund", "de", "s2", 44),
]

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, DOC_SCHEMA)


def test_exact_dedup_normalizes(docs):
    out = dedup.exact_dedup(docs).collect()
    by_id = {r["doc_id"]: r["dup_count"] for r in out}
    assert by_id[1] == 2  # doc 2 collapses into doc 1 (case/whitespace)
    assert 2 not in by_id  # survivor is min doc_id
    assert by_id[3] == 1 and by_id[4] == 1


def test_minhash_finds_near_dups(docs):
    pairs = dedup.minhash_dedup_pairs(docs, num_hashes=8, threshold=0.5).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 3) in got  # near dup: 8/10 distinct-token jaccard
    assert (1, 4) not in got and (3, 4) not in got


def test_minhash_jaccard_value(docs):
    pairs = dedup.minhash_dedup_pairs(docs, num_hashes=8, threshold=0.5).collect()
    j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}[(1, 3)]
    # tokens(1): {the,quick,brown,fox,jumps,over,lazy,dog} (8 distinct)
    # tokens(3): same minus dog plus cat -> |i|=7, |u|=9
    assert j == pytest.approx(7 / 9)


def test_minhash_jaccard_equals_union_jaccard_on_repeated_tokens(spark):
    # token_jaccard derives |union| as |a| + |b| - |intersect|, exact only
    # for distinct arrays; minhash_dedup_pairs array_distinct's its token
    # sets first, so repeated tokens must not change the set Jaccard
    rep = spark.createDataFrame(
        [
            (1, "a a a b b c d e f g", "en", "s1", 19),
            (2, "a a b b c d e f g h h", "en", "s1", 21),
            (3, "a a a b b c d e f g g", "en", "s1", 21),
        ],
        DOC_SCHEMA,
    )
    pairs = dedup.minhash_dedup_pairs(rep, num_hashes=8, threshold=0.0)
    toks = rep.select("doc_id", dedup.tokens().alias("t"))
    union_j = (
        pairs.join(toks.withColumnsRenamed({"doc_id": "doc_a", "t": "ta"}), "doc_a")
        .join(toks.withColumnsRenamed({"doc_id": "doc_b", "t": "tb"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            (
                F.size(F.array_intersect("ta", "tb")).cast("double")
                / F.size(F.array_union("ta", "tb"))
            ).alias("union_j"),
            dedup.token_jaccard("ta", "tb").alias("raw_j"),
        )
        .collect()
    )
    assert {(r["doc_a"], r["doc_b"]) for r in union_j} == {(1, 2), (1, 3), (2, 3)}
    for r in union_j:
        assert r["jaccard"] == r["union_j"]
        # the precondition matters: on the raw arrays the formula is off
        assert r["raw_j"] != r["union_j"]


def test_simhash_close_for_near_dups(docs):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    ham = lambda a, b: bin(sig[a] ^ sig[b]).count("1")
    assert ham(1, 3) < ham(1, 5)  # near-dup closer than unrelated doc
    assert all(0 <= s < (1 << 16) for s in sig.values())


def test_simhash_banded_pairs_equal_all_pairs_at_width_32(spark, docs):
    """The pigeonhole band join is EXACT at any signature width: the
    32-bit banded pair set equals brute-force Hamming filtering of the
    raw signatures (the scale path widens bits; semantics must not
    drift)."""
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, bits=32).collect()}
    brute = {
        (a, b)
        for a in sig
        for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= 6
    }
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_dedup_pairs(docs, bits=32, max_hamming=6).collect()
    }
    assert banded == brute


def test_simhash_block_cap_bounds_clique_pairs_keeps_connectivity(spark):
    """Occupancy cap on an adversarial mass-duplicate corpus: 12
    identical docs share every block, so the exact pair set is the full
    clique (66 pairs); with block_cap=2 only the 2 lowest-id pivots are
    eligible as doc_a (2*11 - 1 = 21 pairs), yet every doc still pairs
    with a pivot — the duplicate cluster stays connected for the
    downstream connected-components consumer."""
    rows = [(i, "same boilerplate text repeated verbatim", "en", "s1", 39)
            for i in range(1, 13)]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_dedup_pairs(docs, 32, 3).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_dedup_pairs(docs, 32, 3, block_cap=2).collect()
    }
    assert exact == {(a, b) for a in range(1, 13) for b in range(1, 13) if a < b}
    assert capped == {(a, b) for a in (1, 2) for b in range(1, 13) if a < b}
    assert capped < exact
    covered = {d for pair in capped for d in pair}
    assert covered == set(range(1, 13))  # every duplicate reachable


def test_simhash_block_cap_is_exact_under_occupancy(docs):
    """Buckets at or under the cap must produce the uncapped result —
    the cap only engages on over-occupied buckets."""
    exact = sorted(
        map(tuple, dedup.simhash_dedup_pairs(docs, 32, 6).collect())
    )
    capped = sorted(
        map(tuple, dedup.simhash_dedup_pairs(docs, 32, 6, block_cap=64).collect())
    )
    assert capped == exact


def test_simhash_rejects_zero_width_blocks():
    # bits < max_hamming + 1 would make a block mask 0 — every doc
    # agrees on it and the equi-join degenerates to all-pairs
    with pytest.raises(ValueError):
        dedup.simhash_blocks(bits=3, max_hamming=3)


def test_ngram_jaccard_blocks_by_lang_source(docs):
    out = dedup.ngram_jaccard_pairs(docs, top_n=10).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (1, 5) not in pairs  # different (lang, source) block
    top = out[0]
    assert (top["doc_a"], top["doc_b"]) == (1, 3)


VECS = [
    (0, [1.0, 0.0, 0.0], 0),
    (1, [0.9, 0.1, 0.0], 0),
    (2, [0.0, 1.0, 0.0], 1),
    (3, [0.0, 0.95, 0.05], 1),
    (4, [-1.0, 0.0, 0.0], 2),
]
VEC_SCHEMA = "vec_id long, embedding array<float>, label int"


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, VEC_SCHEMA)


def test_brute_force_topk_orders_by_cosine(vecs):
    out = similarity.brute_force_topk(vecs, [0], k=2).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2]
    assert out[0]["cos_sim"] > 0.98


def test_ivf_probes_only_own_cluster(vecs):
    # centroids = vecs 0,1,2 and each assigns to itself; vec 3 -> c2
    # (cos≈0.999) and vec 4 -> c2 (cos 0 beats -1/-0.9), so clusters are
    # {0}, {1}, {2,3,4}
    out = similarity.ivf_topk(vecs, [2], num_centroids=3, k=4).collect()
    ids = [r["neighbor_id"] for r in out]
    assert ids == [3, 4]  # pruned: 0 and 1 never scored despite cos >= 0


def test_blas_matches_declarative(vecs):
    a = similarity.brute_force_topk(vecs, [0, 2], k=3).collect()
    b = similarity.ann_topk_blas(vecs, [0, 2], k=3).collect()
    ka = [(r["query_id"], r["rank"], r["neighbor_id"]) for r in a]
    kb = [(r["query_id"], r["rank"], r["neighbor_id"]) for r in b]
    assert ka == kb
    for ra, rb in zip(a, b):
        assert rb["cos_sim_e6"] == round(ra["cos_sim"] * 1_000_000)


def test_semdedup_pairs_within_cluster_only(spark):
    # two tight clusters on orthogonal axes: near-dup pairs exist inside
    # each cluster; cross-cluster cosines are ~0, so even with a low
    # threshold no cross-cluster pair can appear (cluster blocking)
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.01, 0.0], 0),
        (2, [0.98, 0.02, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.99, 0.01], 1),
        (5, [0.0, 0.98, 0.02], 1),
    ]
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    out = similarity.semdedup_pairs(
        df, k=2, iterations=2, threshold=0.9, top_n=100
    ).collect()
    pairs = {(r["vec_a"], r["vec_b"]) for r in out}
    # all within-cluster pairs found ...
    assert pairs == {(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5)}
    for r in out:
        assert r["cos_sim"] >= 0.9
    # ... and both members of each pair share the centroid the operator
    # reports (the contract the oracle re-derives)
    assert len({r["centroid_id"] for r in out}) == 2


def test_duplicated_ngram_stats_goldens(spark):
    rows = [
        (1, "x y z", "en", "s1", 5),
        (2, "x y q", "en", "s1", 5),
        (3, "unique words only", "en", "s1", 17),
        (4, "ab", "en", "s1", 2),  # shorter than k -> whole-doc shingle
        (5, "ab", "en", "s1", 2),  # dup of 4 at the whole-doc level
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    out = {
        r["doc_id"]: r
        for r in dedup.duplicated_ngram_stats(df, shingle_k=2).collect()
    }
    # doc1 2-grams {x y, y z}: "x y" also in doc2 -> 1 of 2 duplicated
    assert (out[1]["n_shingles"], out[1]["dup_shingles"]) == (2, 1)
    assert out[1]["dup_frac"] == pytest.approx(0.5)
    assert (out[2]["n_shingles"], out[2]["dup_shingles"]) == (2, 1)
    assert (out[3]["n_shingles"], out[3]["dup_shingles"]) == (2, 0)
    # short docs fall back to the whole text as one shingle
    assert (out[4]["n_shingles"], out[4]["dup_shingles"]) == (1, 1)
    assert out[5]["dup_frac"] == 1.0


def test_remove_duplicate_spans_goldens(spark):
    rows = [
        (1, "a b c d e", "en", "s1", 9),
        # repeats doc1's "b c" span plus fresh tokens: the 2-gram
        # occurrences ("b c") after the global first cover both tokens
        (2, "b c q r", "en", "s1", 7),
        # exact whole-doc duplicate of a short doc
        (3, "zz", "en", "s1", 2),
        (4, "zz", "en", "s1", 2),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    out = {
        r["doc_id"]: r
        for r in dedup.remove_duplicate_spans(df, shingle_k=2).collect()
    }
    # doc1 is the first occurrence of all its grams -> untouched
    assert out[1]["text_dedup"] == "a b c d e"
    assert (out[1]["n_tokens"], out[1]["n_removed"]) == (5, 0)
    # doc2 loses positions 0-1 ("b c", dup of doc1's span); "c q" starts
    # at the covered token c, q survives via the "q r" first occurrence
    assert out[2]["text_dedup"] == "q r"
    assert (out[2]["n_kept"], out[2]["n_removed"]) == (2, 2)
    # short-doc whole-text gram: first copy kept, second removed entirely
    assert out[3]["text_dedup"] == "zz"
    assert out[4]["text_dedup"] == ""
    assert (out[4]["n_tokens"], out[4]["n_kept"]) == (1, 0)


def test_remove_duplicate_spans_within_doc_repeat(spark):
    # the SAME doc repeating a span also dedups: second "p q" occurrence
    # (pos 2-3) is removed, trailing distinct token survives
    df = spark.createDataFrame(
        [(1, "p q p q t", "en", "s1", 9)], DOC_SCHEMA
    )
    row = dedup.remove_duplicate_spans(df, shingle_k=2).collect()[0]
    # grams: "p q"(0) "q p"(1) "p q"(2) "q t"(3); dup "p q"@2 covers
    # pos 2-3 -> kept tokens p q t... pos3 q covered, pos4 t kept via
    # first-occurrence grams? pos4 is covered only if a dup gram spans
    # it: "q t"@3 is a first occurrence -> pos 4 kept
    assert row["text_dedup"] == "p q t"
    assert row["n_removed"] == 2


def test_language_id_prefers_matching_stopwords(docs):
    out = {r["doc_id"]: r["predicted_lang"] for r in textops.language_id(docs).collect()}
    assert out[1] == "en"
    assert out[5] == "de"  # 'der' x2 + 'und' beat zero en hits


def test_quality_score_features(spark):
    d = spark.createDataFrame(
        [(1, "the the the", "en", "s", 11), (2, "!!! ??? ...", "xx", "s", 11)],
        DOC_SCHEMA,
    )
    out = {r["doc_id"]: r for r in textops.quality_score(d).collect()}
    assert out[1]["stopword_ratio"] == 1.0
    assert out[1]["punct_ratio"] == 0.0
    assert out[2]["stopword_ratio"] == 0.0
    assert out[2]["punct_ratio"] == pytest.approx(9 / 11)
    assert out[1]["quality_score"] > out[2]["quality_score"]


def test_bpe_merge_candidates_counts_vocab_weighted_pairs(spark):
    # vocab: "abab" x3, "ab" x2, "cd" x1 (single-char words dropped)
    d = spark.createDataFrame(
        [
            (1, "abab abab ab", "en", "s", 12),
            (2, "abab ab cd x", "en", "s", 12),
        ],
        DOC_SCHEMA,
    )
    out = {r["pair"]: r for r in textops.bpe_merge_candidates(d, 10).collect()}
    # "a b": abab contributes 2 per occurrence (freq 3 -> 6) + ab (freq
    # 2 -> 2) = 8; "b a": abab interior (freq 3) = 3; "c d": 1
    assert out["a b"]["pair_count"] == 8
    assert out["b a"]["pair_count"] == 3
    assert out["c d"]["pair_count"] == 1
    assert out["a b"]["rank"] == 1


def test_corpus_datacard_summarizes_per_source(spark):
    d = spark.createDataFrame(
        [
            (1, "the cat and the dog", "en", "web", 19),
            (2, "the cat and the dog", "en", "web", 19),  # exact dup
            (3, "und der hund", "de", "web", 12),
            (4, "a b", "en", "books", 3),
        ],
        DOC_SCHEMA,
    )
    from twitch_chat_analyser_spark.operators.llmops import corpus_datacard

    out = {r["source"]: r for r in corpus_datacard(d).collect()}
    web = out["web"]
    assert (web["n_docs"], web["distinct_contents"]) == (3, 2)
    # 1/3 duplicated, exact round-half-up ppm
    assert web["dup_ppm"] == 333333
    assert web["total_ws_tokens"] == 13
    assert web["top_lang"] == "en"  # 2 en vs 1 de
    assert out["books"]["dup_ppm"] == 0
    assert out["books"]["n_docs"] == 1


def test_quality_rule_flags_goldens(spark):
    d = spark.createDataFrame(
        [
            # passes everything: 5 words, 2 distinct stopwords, alpha
            (1, "the cat sat on the mat and", "en", "s", 27),
            # too short (2 words) and only 1 distinct stopword
            (2, "the x", "en", "s", 5),
            # symbol soup: symbol ratio 3/5 > 0.1, alpha 2/5 < 0.8
            (3, "!! ?? ** ab cd", "xx", "s", 14),
        ],
        DOC_SCHEMA,
    )
    out = {r["doc_id"]: r for r in textops.quality_rule_flags(d).collect()}
    assert out[1]["quality_pass"] is True
    assert out[1]["stop_hits"] == 2  # distinct {the, and}
    assert out[2]["ok_word_count"] is False
    assert out[2]["ok_stopwords"] is False
    assert out[2]["quality_pass"] is False
    assert out[3]["ok_symbol"] is False
    assert out[3]["ok_alpha"] is False
    assert out[3]["symbol_ratio"] == pytest.approx(0.6)


def test_token_counts(spark):
    d = spark.createDataFrame([(1, "ab3cd ef-gh", "en", "s", 11)], DOC_SCHEMA)
    r = textops.token_counts(d).collect()[0]
    assert r["ws_tokens"] == 2
    # ab|3|cd|ef|-|gh
    assert r["bpe_ish_tokens"] == 6


def test_fingerprints_bag_vs_content(spark):
    d = spark.createDataFrame(
        [(1, "a b c", "en", "s", 5), (2, "c b a a", "en", "s", 7), (3, "a b d", "en", "s", 5)],
        DOC_SCHEMA,
    )
    out = {r["doc_id"]: r for r in textops.fingerprints(d).collect()}
    assert out[1]["bag_fp"] == out[2]["bag_fp"]  # same token set
    assert out[1]["content_fp"] != out[2]["content_fp"]
    assert out[1]["bag_fp"] != out[3]["bag_fp"]


def test_sessionize_gap_splits(spark):
    rows = [
        (1, 0, "2024-01-01 00:00:00"),
        (2, 0, "2024-01-01 00:10:00"),  # same session (10 min gap)
        (3, 0, "2024-01-01 01:00:00"),  # new session (50 min gap)
        (4, 1, "2024-01-01 00:00:00"),  # other user
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts_s string").select(
        "event_id", "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    out = textops.sessionize(ev).collect()
    got = {(r["user_id"], r["session_id"]): r["n_events"] for r in out}
    assert got == {(0, 1): 2, (0, 2): 1, (1, 1): 1}
    durs = {(r["user_id"], r["session_id"]): r["duration_ms"] for r in out}
    assert durs[(0, 1)] == 600_000


def test_kmeans_centroids_iterative(vecs):
    from pyspark.sql import functions as F

    cents = similarity.kmeans_centroids(vecs, k=2, iterations=2).collect()
    assert {r["centroid_id"] for r in cents} <= {0, 1}
    dim = len(vecs.select("embedding").first()[0])
    for r in cents:
        assert len(r["c"]) == dim
    # centroids are means of assigned vectors -> norm > 0, finite
    import math

    for r in cents:
        n = math.sqrt(sum(x * x for x in r["c"]))
        assert n > 0 and math.isfinite(n)
    # iterating must not change the number of centroids and stays
    # deterministic across runs
    again = similarity.kmeans_centroids(vecs, k=2, iterations=2).collect()
    assert sorted((r["centroid_id"], tuple(r["c"])) for r in again) == sorted(
        (r["centroid_id"], tuple(r["c"])) for r in cents
    )


def test_assign_to_centroids_map_side_argmax_and_ties(spark):
    """r13: nearest-centroid assignment is a map-side fold over the
    broadcast codebook array (no aggregate). Semantics pinned against
    the old max_by(struct(cos_c, -centroid_id)) contract: max cosine
    wins, an EQUAL cosine goes to the smallest centroid_id (exercised
    with a duplicated centroid vector), and ``cos_col=`` emits the
    winner's cosine from the same expression tree."""
    vecs = similarity.as_double_vec(spark.createDataFrame(VECS, VEC_SCHEMA))
    # centroids 0 and 2 are IDENTICAL vectors -> every vector's cosine
    # ties between them and the argmax must pick id 0, never 2
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [1.0, 0.0, 0.0])],
        "centroid_id long, c array<double>",
    ).withColumn(
        "c_nrm",
        F.sqrt(F.expr(similarity.DOT_EXPR.format(a="c", b="c"))),
    )
    got = similarity._assign_to_centroids(vecs, cents, cos_col="pc").collect()
    assert len(got) == len(VECS)
    assert got[0].__fields__ == ["vec_id", "v", "v_nrm", "centroid_id", "pc"]
    by_id = {r["vec_id"]: r for r in got}
    # vec 4 = (-1,0,0): cos is -1 / 0 / -1 -> centroid 1 wins outright
    assert {i: by_id[i]["centroid_id"] for i in range(5)} == {
        0: 0, 1: 0, 2: 1, 3: 1, 4: 1,
    }
    # the emitted cosine is the winner's score
    assert by_id[0]["pc"] == pytest.approx(1.0)
    assert by_id[2]["pc"] == pytest.approx(1.0)
    assert by_id[4]["pc"] == pytest.approx(0.0)


def test_redact_pii_goldens(spark):
    docs = spark.createDataFrame(
        [
            (0, "write to bob.smith+x@corp.example.org today"),
            (1, "server 192.168.0.1 and 10.0.0.255 rebooted"),
            (2, "call +1 (415) 555-0100 now"),
            (3, "no pii here at all"),
            (4, "a@b.io from 8.8.8.8 dial +44 20 7946 0958"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.redact_pii(docs).collect()}
    assert out[0]["redacted"] == "write to <EMAIL> today"
    assert out[0]["n_email"] == 1 and out[0]["n_ip"] == 0
    assert out[1]["redacted"] == "server <IP> and <IP> rebooted"
    assert out[1]["n_ip"] == 2
    assert out[2]["redacted"] == "call <PHONE> now"
    assert out[2]["n_phone"] == 1
    assert out[3]["redacted"] == "no pii here at all"
    assert (out[3]["n_email"], out[3]["n_ip"], out[3]["n_phone"]) == (0, 0, 0)
    assert out[4]["redacted"] == "<EMAIL> from <IP> dial <PHONE>"


def test_pack_sequences_chunk_math(spark):
    # token counts: 3, 4, 2 in one source; budget 5 =>
    # doc 0 spans tokens [0,3) -> chunk 0
    # doc 1 spans [3,7)  -> chunks 0..1 (crosses the boundary)
    # doc 2 spans [7,9)  -> chunk 1
    docs = spark.createDataFrame(
        [
            (0, "a b c", "s1"),
            (1, "a b c d", "s1"),
            (2, "a b", "s1"),
            (10, "x y z w v u", "s2"),  # independent source packs alone
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["doc_id"]: (r["start_offset"], r["chunk_first"], r["chunk_last"])
        for r in llmops.pack_sequences(docs, budget=5).collect()
    }
    assert out[0] == (0, 0, 0)
    assert out[1] == (3, 0, 1)
    assert out[2] == (7, 1, 1)
    assert out[10] == (0, 0, 1)


def test_repetition_signals_goldens(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b a b a b"),     # bigrams: ab ba ab ba ab -> 5, distinct 2
            (1, "w x y z"),         # all bigrams unique
            (2, "solo"),            # shorter than k: single degenerate shingle
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.repetition_signals(docs).collect()}
    assert out[0]["n_2grams"] == 5
    assert out[0]["dup_2gram_ratio"] == pytest.approx(3 / 5)
    assert out[1]["dup_2gram_ratio"] == 0.0
    assert out[2]["n_2grams"] == 1 and out[2]["dup_2gram_ratio"] == 0.0
    assert out[0]["n_3grams"] == 4
    assert out[0]["dup_3gram_ratio"] == pytest.approx(2 / 4)


def test_pack_sequences_invariants_property(spark):
    """Property check over random corpora: per source, start offsets
    tile the token stream exactly (no gaps/overlaps), and chunk spans
    are consistent with the budget."""
    import random

    rng = random.Random(7)
    rows = []
    did = 0
    for source in ("sa", "sb", "sc"):
        for _ in range(rng.randint(1, 40)):
            n_tok = rng.randint(1, 23)
            rows.append((did, " ".join(["w"] * n_tok), source))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    budget = 10
    out = llmops.pack_sequences(docs, budget=budget).collect()
    by_source = {}
    for r in out:
        by_source.setdefault(r["source"], []).append(r)
    for source, recs in by_source.items():
        recs.sort(key=lambda r: r["doc_id"])
        expect_offset = 0
        for r in recs:
            assert r["start_offset"] == expect_offset, (source, r)
            assert r["chunk_first"] == r["start_offset"] // budget
            assert (
                r["chunk_last"]
                == (r["start_offset"] + r["n_tokens"] - 1) // budget
            )
            assert r["chunk_first"] <= r["chunk_last"]
            expect_offset += r["n_tokens"]


def test_chunk_documents_tiling(spark):
    docs = spark.createDataFrame(
        [(1, "a" * 450, "en", "s1", 450), (2, "", "en", "s1", 0),
         (3, "xy", "en", "s1", 2)],
        DOC_SCHEMA,
    )
    out = llmops.chunk_documents(docs, chunk_size=200, overlap=40)
    rows = {r["doc_id"]: sorted(
        (x["chunk_id"], x["chunk_start"], x["chunk_len"]) for x in out.collect()
        if x["doc_id"] == r["doc_id"]) for r in out.collect()}
    # 450 chars, stride 160: starts 0,160,320 — last chunk truncated to 130
    assert rows[1] == [(0, 0, 200), (1, 160, 200), (2, 320, 130)]
    # empty doc still yields exactly one (empty) chunk
    assert rows[2] == [(0, 0, 0)]
    assert rows[3] == [(0, 0, 2)]
    # consecutive chunks overlap by exactly `overlap` characters
    chunks = {r["chunk_id"]: r["chunk_text"]
              for r in out.filter(F.col("doc_id") == 1).collect()}
    assert chunks[0][-40:] == chunks[1][:40]
    assert chunks[1][-40:] == chunks[2][:40]


def test_chunk_documents_rejects_bad_overlap(spark):
    docs = spark.createDataFrame([(1, "abc", "en", "s1", 3)], DOC_SCHEMA)
    with pytest.raises(ValueError):
        llmops.chunk_documents(docs, chunk_size=10, overlap=10)


def test_bm25_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark", "en", "s1", 17),       # high tf, short
            (2, "spark " + "filler " * 50, "en", "s1", 306),  # tf 1, long
            (3, "merge window", "en", "s1", 12),            # two rarer terms
            (4, "nothing relevant at all", "en", "s1", 23),
        ],
        DOC_SCHEMA,
    )
    out = {r["doc_id"]: r for r in llmops.bm25_retrieval(docs).collect()}
    assert 4 not in out                      # no query term -> absent
    assert out[3]["n_matched"] == 2
    assert out[1]["n_matched"] == out[2]["n_matched"] == 1
    # tf saturation + length normalization: doc 1 (tf=3, short) beats
    # doc 2 (tf=1, long) for the same term
    assert out[1]["bm25_micro"] > out[2]["bm25_micro"] > 0


def test_sq8_full_expand_equals_brute_force(vecs):
    # expand covering the whole corpus -> candidate set = everything ->
    # the exact re-rank must reproduce brute force verbatim
    a = similarity.brute_force_topk(vecs, [0, 2], k=3).collect()
    b = similarity.sq8_topk(vecs, [0, 2], k=3, expand=10).collect()
    ka = [(r["query_id"], r["rank"], r["neighbor_id"]) for r in a]
    kb = [(r["query_id"], r["rank"], r["neighbor_id"]) for r in b]
    assert ka == kb
    for ra, rb in zip(a, b):
        # re-rank runs on full-precision vectors: scores are EXACT
        assert ra["cos_sim"] == rb["cos_sim"]


def test_sq8_codes_are_bytes_and_recon_bounded(vecs):
    v = similarity.as_double_vec(vecs)
    enc = similarity.sq8_encode(v, similarity.sq8_codebook(v)).collect()
    for r in enc:
        assert all(0 <= c <= 255 for c in r["codes"])
        # midpoint dequantization stays within half a quantization step
        # of the original in every dimension
        for x, y in zip(r["v"], r["recon"]):
            assert abs(x - y) <= 0.51 * max(
                1e-12, (max(max(rr["v"]) for rr in enc)
                        - min(min(rr["v"]) for rr in enc)) / 255
            ) + 1e-9


def test_ivf_sq8_full_expand_equals_ivf(vecs):
    # same centroid pruning; with expand covering the whole cell the SQ
    # candidate window is a no-op and the exact re-rank must reproduce
    # the full-precision IVF probe verbatim
    a = similarity.ivf_topk(vecs, [2], num_centroids=3, k=4).collect()
    b = similarity.ivf_sq8_topk(
        vecs, [2], num_centroids=3, k=4, expand=10
    ).collect()
    ka = [(r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in a]
    kb = [(r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in b]
    assert ka == kb


def test_emb_dim_matches_testdata(spark, sf_dir):
    # the sq8 oracles hardcode the vector width into generate_series;
    # this pins it to the actual driver testdata so a width change
    # fails loudly instead of silently breaking oracle parity
    from twitch_chat_analyser_spark import ingest

    width = ingest.load(spark, sf_dir, "embeddings").select(
        F.size("embedding").alias("w")
    ).distinct().collect()
    assert [r["w"] for r in width] == [llmops.EMB_DIM]


def test_sq8_constant_dimension_reconstructs_exactly(spark):
    # a constant dim must quantize to code 0 and reconstruct to exactly
    # its value (true scale 0), not value + 0.5 (the quantize divisor's
    # 1.0 fallback must never leak into reconstruction)
    rows = [(i, [float(i), 7.25, float(-i)], 0) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    v = similarity.as_double_vec(df)
    enc = similarity.sq8_encode(v, similarity.sq8_codebook(v)).collect()
    for r in enc:
        assert r["codes"][1] == 0
        assert r["recon"][1] == 7.25


def test_phrase_search_exact_sequence_matching(spark):
    from twitch_chat_analyser_spark.operators.llmops import phrase_search

    rows = [
        (1, "alpha the red fox runs beta", "en", "s", 27),  # 1 hit
        (2, "the red fox runs and the red fox runs", "en", "s", 37),  # 2
        (3, "red fox runs the", "en", "s", 16),  # wrong order -> no hit
        # substring but not token-sequence: must NOT match
        (4, "xthe red fox runsy", "en", "s", 18),
        # has "the red" and "fox runs" but not the full 4-gram sequence
        (5, "the red dog fox runs", "en", "s", 20),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    out = {
        r["doc_id"]: r["occurrences"]
        for r in phrase_search(df, "the red fox runs").collect()
    }
    assert out == {1: 1, 2: 2}
    # short phrase (< 3 words) falls back to the whole-phrase gram...
    # which only matches docs whose SHINGLE set contains it; a 2-word
    # phrase still verifies by exact sequence
    out2 = {
        r["doc_id"]: r["occurrences"]
        for r in phrase_search(df, "fox runs").collect()
    }
    assert out2[1] == 1 and out2[2] == 2 and out2[3] == 1
    assert out2[5] == 1  # 2-gram postings reach the short phrase
    assert 4 not in out2  # token boundary respected


def test_phrase_search_whitespace_and_quotes(spark):
    """The prune runs on whitespace-NORMALIZED text: a phrase whose
    words are split by newline/tab/multi-space passes the exact
    token-sequence verify, so the prune must not drop it. Also: a
    phrase containing a quote must not break expression parsing."""
    from twitch_chat_analyser_spark.operators.llmops import phrase_search

    rows = [
        (1, "start big\norder scan end", "en", "s", 24),  # newline split
        (2, "pre big\torder  scan post", "en", "s", 24),  # tab + 2 spaces
        (3, "plain big order scan here", "en", "s", 25),  # single spaces
        (4, "no match at all", "en", "s", 15),
        (5, "it's a quote don't break", "en", "s", 24),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    out = {
        r["doc_id"]: r["occurrences"]
        for r in phrase_search(df, "big order scan").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1}
    # quote in the phrase: parameterized comparison, no injection
    outq = {
        r["doc_id"]: r["occurrences"]
        for r in phrase_search(df, "a quote don't break").collect()
    }
    assert outq == {5: 1}


def test_lsh_recall_eval_counts_and_bounds(spark):
    base = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base + " extra", "en", "s", len(base) + 6),  # true near-dup
        (3, "totally different words entirely", "en", "s", 32),
        (4, "another unrelated document here", "en", "s", 31),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    r = dedup.lsh_recall_eval(
        df, sample_fraction=1.0, threshold=0.5
    ).collect()[0]
    assert r["n_sample"] == 4
    assert r["n_truth"] == 1  # only (1,2) clears jaccard 0.5
    assert r["n_hit"] <= r["n_truth"]
    assert 0.0 <= r["recall"] <= 1.0
    # near-identical docs share nearly all shingles -> the band join
    # must propose the pair: recall 1.0 on this corpus
    assert r["recall"] == 1.0
    # empty-truth edge: threshold no pair reaches -> recall defined as 1
    r2 = dedup.lsh_recall_eval(
        df.filter("doc_id >= 3"), sample_fraction=1.0, threshold=0.99
    ).collect()[0]
    assert (r2["n_truth"], r2["recall"]) == (0, 1.0)


def test_embedding_recall_eval_bounds_and_tight_cluster(spark):
    # near-identical vectors (cos ~1) must be caught by the full-corpus
    # banding -> recall 1.0; orthogonal vectors contribute no truth
    rows = [(i, [1.0, 0.0005 * i, 0.0], 0) for i in range(8)] + [
        (20 + i, [0.0, 0.0, 1.0 + 0.01 * i], 1) for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    r = similarity.embedding_recall_eval(
        df, sample_fraction=1.0, num_planes=4, band_bits=2, threshold=0.99
    ).collect()[0]
    assert r["n_sample"] == 12
    assert r["n_truth"] > 0
    assert r["n_hit"] <= r["n_truth"]
    assert 0.0 <= r["recall"] <= 1.0 and 0.0 <= r["precision"] <= 1.0
    assert r["recall"] == 1.0  # near-parallel pairs agree on every band


def test_kmeans_label_purity_perfect_on_separated_clusters(spark):
    # labels perfectly aligned with two well-separated directions ->
    # every emitted cluster is pure
    # vec_ids 0 and 1 seed the k=2 init — place one in each cluster
    rows = [(0, [1.0, 0.0, 0.0], 0), (1, [0.0, 0.0, 1.0], 1)]
    rows += [(2 + i, [1.0, 0.01 * i, 0.0], 0) for i in range(5)]
    rows += [(10 + i, [0.0, 0.01 * i, 1.0], 1) for i in range(5)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.kmeans_label_purity(df, k=2, iterations=2).collect()
    assert sum(r["n_vecs"] for r in out) == 12
    for r in out:
        assert r["purity"] == 1.0
        assert r["majority_n"] == r["n_vecs"]
    assert {r["majority_label"] for r in out} == {0, 1}


def test_knn_graph_finds_cluster_neighbors(spark):
    # two tight clusters on opposite axes: every node's neighbors must
    # come from its own cluster, edges are directed (both endpoints
    # rank each other), rank is 1..k
    rows = [
        (i, [1.0, 0.001 * i, 0.0, 0.0], 0) for i in range(4)
    ] + [
        (10 + i, [0.0, 0.0, 1.0, 0.001 * i], 1) for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.knn_graph(df, k=2, num_planes=8, band_bits=4).collect()
    assert out, "clustered vectors must produce edges"
    for r in out:
        same = (r["src"] < 10) == (r["dst"] < 10)
        assert same, f"cross-cluster edge {r['src']}->{r['dst']}"
        assert 1 <= r["rank"] <= 2
        assert r["cos_sim"] > 0.99
    # directed: reverse of the best edge exists from the other side
    srcs = {r["src"] for r in out}
    assert len(srcs) > 1


def test_block_cap_bounds_mass_duplicate_block(spark):
    """The adversarial blocking worst case: a mass-duplicated vector.
    Every copy lands in the same cluster/bucket no matter how many
    clusters or planes exist, so without the occupancy cap candidate
    pairs grow R^2. With the cap: (a) pair count is <= cap * R, and
    (b) dedup CONNECTIVITY survives — every duplicate still pairs with
    a pivot member, so no duplicate escapes detection."""
    R = 100  # mass-duplicated block, > block_cap
    rows = [(i, [1.0, 0.0 + 1e-4 * (i % 3), 0.0], 0) for i in range(R)] + [
        (200 + i, [0.0, 1.0, 0.001 * i], 1) for i in range(4)
    ]
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    cap = 8
    out = similarity.semdedup_pairs(
        df, k=2, iterations=2, threshold=0.9, top_n=100000, block_cap=cap
    ).collect()
    big = [r for r in out if r["vec_a"] < 200]
    # bound: a-side restricted to the cap pivots -> <= cap * R pairs
    assert len(big) <= cap * R
    assert len(big) < R * (R - 1) // 2  # strictly below the clique
    # connectivity: every duplicate appears in at least one pair
    seen = {r["vec_a"] for r in big} | {r["vec_b"] for r in big}
    assert seen == set(range(R))
    # a-side (smaller id) only ever comes from the pivot set
    assert {r["vec_a"] for r in big} <= set(range(cap))

    # knn_graph: same block, dst capped to pivots, every src present
    edges = similarity.knn_graph(
        df, k=3, num_planes=8, band_bits=4, block_cap=cap
    ).collect()
    big_e = [r for r in edges if r["src"] < 200]
    assert {r["src"] for r in big_e} == set(range(R))
    for r in big_e:
        assert r["dst"] < 200  # no cross-cluster edges
        assert r["dst"] in set(range(cap))  # dst only from pivots
    # uncapped-small-block parity: blocks under the cap are identical
    # to the uncapped result
    small_capped = [r for r in edges if r["src"] >= 200]
    uncapped = [
        r
        for r in similarity.knn_graph(
            df, k=3, num_planes=8, band_bits=4, block_cap=10**6
        ).collect()
        if r["src"] >= 200
    ]
    assert sorted((r["src"], r["dst"], r["rank"]) for r in small_capped) == (
        sorted((r["src"], r["dst"], r["rank"]) for r in uncapped)
    )


def test_vocab_encode_ids_order_and_oov(spark):
    rows = [
        (1, "a b a c", "en", "s1", 7),
        (2, "a a a zz", "en", "s1", 8),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    out = {r["doc_id"]: r for r in textops.vocab_encode(df, vocab_size=3).collect()}
    # freq: a=5, b=1, c=1, zz=1 -> vocab (freq desc, token asc): a=0, b=1, c=2
    assert out[1]["token_ids"] == [0, 1, 0, 2]
    assert out[2]["token_ids"] == [0, 0, 0, -1]  # zz out of vocab -> OOV
    assert out[2]["n_oov"] == 1 and out[2]["n_tokens"] == 4


def test_unigram_surprise_rare_tokens_score_higher(spark):
    rows = [
        (1, "common common common common", "en", "s1", 27),
        (2, "common rareword", "en", "s1", 15),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    out = {r["doc_id"]: r["avg_neg_logp_micro"]
           for r in textops.unigram_surprise(df).collect()}
    assert out[2] > out[1]  # the doc with the rare token is more surprising


def test_pq_rejects_indivisible_block_config(vecs):
    with pytest.raises(ValueError, match="divisible"):
        similarity.pq_topk(vecs, [0], m=2, k=1)  # dim=3 not divisible by 2


def test_pq_full_expand_equals_brute_force(vecs):
    # expand covering the whole corpus -> ADC ordering is irrelevant,
    # the exact re-rank must reproduce brute force verbatim
    a = similarity.brute_force_topk(vecs, [0, 2], k=3).collect()
    b = similarity.pq_topk(vecs, [0, 2], m=3, ksub=3, k=3, expand=10).collect()
    ka = [(r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in a]
    kb = [(r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in b]
    assert ka == kb


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    mat=st.lists(
        st.lists(
            st.floats(
                min_value=-4.0, max_value=4.0,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=4, max_size=4,
        ),
        min_size=2, max_size=24,
    )
)
def test_sq8_reconstruction_error_bounded_per_dim(spark, mat):
    """Property: midpoint dequantization stays within half a TRUE
    quantization step of the original in every dimension (constant dims
    reconstruct exactly)."""
    rows = [(i, v, 0) for i, v in enumerate(mat)]
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    v = similarity.as_double_vec(df)
    enc = similarity.sq8_encode(v, similarity.sq8_codebook(v)).collect()
    lo = [min(r[d] for r in mat) for d in range(4)]
    hi = [max(r[d] for r in mat) for d in range(4)]
    for r in enc:
        for d, (x, y) in enumerate(zip(r["v"], r["recon"])):
            step = (hi[d] - lo[d]) / 255.0
            assert abs(x - y) <= step / 2 + 1e-9
            assert 0 <= r["codes"][d] <= 255


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12
        ),
        min_size=1,
        max_size=8,
    )
)
def test_remove_duplicate_spans_properties(spark, corpus):
    """Properties over random tiny-alphabet corpora (dense dup spans):
    counts reconcile; every rewritten doc's tokens are a SUBSEQUENCE of
    the original (only deletions, order preserved); the very first gram
    of the lowest doc_id is a global first occurrence and survives."""
    rows = [
        (i, " ".join(toks), "en", "s", len(" ".join(toks)))
        for i, toks in enumerate(corpus)
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    out = {
        r["doc_id"]: r
        for r in dedup.remove_duplicate_spans(df, shingle_k=2).collect()
    }
    for i, toks in enumerate(corpus):
        r = out[i]
        assert r["n_tokens"] == len(toks)
        assert r["n_kept"] + r["n_removed"] == r["n_tokens"]
        kept = r["text_dedup"].split(" ") if r["text_dedup"] else []
        assert len(kept) == r["n_kept"]
        it = iter(toks)
        assert all(any(t == k for t in it) for k in kept), (
            f"doc {i}: {kept} not a subsequence of {toks}"
        )
    assert out[0]["text_dedup"].split(" ")[:1] == corpus[0][:1]


def test_ivf_pq_full_expand_equals_ivf(vecs):
    # same coarse pruning; with full expand the PQ candidate window is
    # a no-op and the exact re-rank reproduces the full-precision IVF
    # probe verbatim (3-dim fixture: m=3 -> 1-dim blocks)
    a = similarity.ivf_topk(vecs, [2], num_centroids=3, k=4).collect()
    b = similarity.ivf_pq_topk(
        vecs, [2], num_centroids=3, m=3, ksub=3, k=4, expand=10
    ).collect()
    ka = [(r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in a]
    kb = [(r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in b]
    assert ka == kb


def test_embedding_signbits_packs_msb_first_and_sign_bit(spark):
    """Element 1 lands on bit 63 (the sign bit), element 64 on bit 0;
    zeros and negatives are 0-bits. Python reference = the contract."""
    vecs = [
        # element 1 positive -> sign bit set -> negative long
        (1, [1.0] + [0.0] * 63),
        (2, [0.0] * 63 + [2.5]),          # only bit 0
        (3, [-1.0, 0.5] + [0.0] * 62),    # only bit 62
        (4, [0.25] * 64),                 # all bits -> -1
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["sig"]
           for r in similarity.embedding_signbits(df).collect()}
    assert got[1] == -(1 << 63)
    assert got[2] == 1
    assert got[3] == 1 << 62
    assert got[4] == -1

    def ref(emb):
        acc = 0
        for x in emb:
            acc = ((acc << 1) & ((1 << 64) - 1)) | (1 if x > 0 else 0)
        return acc - (1 << 64) if acc >= (1 << 63) else acc

    for vid, emb in vecs:
        assert got[vid] == ref(emb)


def test_signbit_dedup_pairs_matches_allpairs(spark):
    """Banded join == brute-force Hamming filter on a frame with sign-bit
    structure: near pair (2 flipped components around zero), far rest."""
    base = [1.0 if i % 3 else -1.0 for i in range(64)]
    near = list(base)
    near[5], near[10] = -near[5], -near[10]  # flips 2 sign bits
    far = [-x for x in base]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.signbit_dedup_pairs(df, max_hamming=3).collect()
    assert [(r["vec_a"], r["vec_b"], r["hamming"]) for r in rows] == [(0, 1, 2)]
    with pytest.raises(ValueError):
        similarity.embedding_signbits(df, bits=65)


# --------------------------------------------------------------------------
# Naive-Bayes quality classifier
# --------------------------------------------------------------------------


def test_nb_quality_separates_ruleworthy_text(spark):
    # "good" docs: prose-like, pass the Gopher rules (stopwords present,
    # alpha-heavy); "bad" docs: symbol soup that fails them. NB trained
    # on those weak labels must score fresh docs of each style apart.
    good = "the quick brown fox and the lazy dog are of an old tale"
    bad = "$$$ ### @@@ %%% ^^^ &&& *** !!! ??? ;;;"
    rows = [(i, "en", "web", good + f" v{i}") for i in range(10)]
    rows += [(i + 10, "en", "web", bad + f" v{i}") for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    out = {r["doc_id"]: r for r in textops.nb_quality_score(docs).collect()}
    assert len(out) == 20
    good_scores = [out[i]["nb_score_micro"] for i in range(10)]
    bad_scores = [out[i + 10]["nb_score_micro"] for i in range(10)]
    assert min(good_scores) > max(bad_scores)
    assert all(out[i]["nb_pass"] for i in range(10))
    assert not any(out[i + 10]["nb_pass"] for i in range(10))


def test_nb_quality_covers_every_doc_and_is_integer_exact(spark):
    docs = spark.createDataFrame(
        [(i, "en", "web", "word " * (i + 1)) for i in range(7)],
        "doc_id long, lang string, source string, text string",
    )
    a = textops.nb_quality_score(docs).collect()
    b = textops.nb_quality_score(docs).collect()
    # deterministic: exact integer scores, stable across runs
    assert sorted((r["doc_id"], r["nb_score_micro"]) for r in a) == sorted(
        (r["doc_id"], r["nb_score_micro"]) for r in b
    )
    assert {r["doc_id"] for r in a} == set(range(7))


# --------------------------------------------------------------------------
# RRF hybrid retrieval
# --------------------------------------------------------------------------


def test_rrf_fuses_lexical_and_dense_rankings(spark):
    # doc 1 wins lexically (query terms), doc 2 wins densely (vector
    # near the query vec 0), doc 3 scores on both -> fusion puts the
    # both-ranker doc first
    docs = spark.createDataFrame(
        [
            (1, "en", "web", "spark merge window spark merge window"),
            (2, "en", "web", "nothing relevant here at all"),
            (3, "en", "web", "spark merge appears once"),
            (4, "en", "web", "also irrelevant filler text"),
        ],
        "doc_id long, lang string, source string, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 0),   # the query vector
            (1, [0.0, 1.0, 0.0], 0),   # lexical winner, dense-orthogonal
            (2, [0.9, 0.3, 0.0], 0),   # dense runner-up, lexical miss
            (3, [0.99, 0.1, 0.0], 0),  # dense winner + lexical hit
            (4, [0.0, 0.0, 1.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = llmops.hybrid_retrieval_rrf(docs, emb, k=4).collect()
    rows = {r["doc_id"]: r for r in out}
    # doc 3 appears in both rankers; every single-ranker doc scores
    # strictly lower than a doc with comparable ranks in both lists
    assert rows[3]["lex_rank"] is not None
    assert rows[3]["dense_rank"] is not None
    assert out[0]["doc_id"] == 3
    # a lexical-only doc still fuses (dense_rank null, one RRF term)
    assert rows[1]["dense_rank"] in (None,) or rows[1]["dense_rank"] > 0
    scores = [r["rrf_score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_bpe_train_merges_apply_and_order_deterministically(spark):
    # Sennrich-style corpus: vocab {low:3, lower:2, newest:6}. Round-1
    # pair counts put (w,e) on top with 8 (lower's w-e plus newest's);
    # round 2 must see the APPLIED merge — 'we' participates as a
    # symbol in the next argmax pair.
    text = " ".join(["low"] * 3 + ["lower"] * 2 + ["newest"] * 6)
    docs = spark.createDataFrame(
        [(1, "en", "web", text)],
        "doc_id long, lang string, source string, text string",
    )
    out = textops.bpe_train(docs, n_merges=4).orderBy("step").collect()
    assert len(out) == 4
    assert (out[0]["pair_a"], out[0]["pair_b"], out[0]["pair_count"]) == (
        "w", "e", 8,
    )
    assert out[0]["merged"] == "we"
    # the merged symbol from round 1 is a pair member in round 2
    # (ties at count 6 break on pair_a asc: 'e we' wins)
    assert (out[1]["pair_a"], out[1]["pair_b"]) == ("e", "we")
    # determinism across runs
    again = textops.bpe_train(docs, n_merges=4).orderBy("step").collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


def test_pca_power_projection_finds_dominant_axis(spark):
    # variance concentrated on axis 1 (values spread -10..10), noise on
    # axis 0 — pc1 must align with axis 1: scores ~ centered y values
    rows = [(i, [0.01 * (i % 3), float(i) - 4.5, 0.0], 0) for i in range(10)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["vec_id"]: r["pc1_score"]
           for r in similarity.pca_power_projection(df, dim=3).collect()}
    assert len(out) == 10
    # scores are an affine image of the axis-1 coordinate: strictly
    # monotone in i (either direction), symmetric around 0
    seq = [out[i] for i in range(10)]
    diffs = [b - a for a, b in zip(seq, seq[1:])]
    assert all(d > 0 for d in diffs) or all(d < 0 for d in diffs)
    assert abs(sum(seq)) < 1e-3
    assert max(abs(s) for s in seq) == pytest.approx(4.5, rel=0.01)


def test_bpe_encode_applies_trained_merges_to_documents(spark):
    text = " ".join(["low"] * 3 + ["lower"] * 2 + ["newest"] * 6)
    docs = spark.createDataFrame(
        [(1, "en", "web", text), (2, "en", "web", "low x newest")],
        "doc_id long, lang string, source string, text string",
    )
    out = textops.bpe_encode(docs, n_merges=4).collect()
    enc = {}
    for r in out:
        enc.setdefault(r["doc_id"], {})[r["symbol"]] = r["sym_count"]
    # round-1 merge 'we' must appear inside encoded symbols of doc 1
    all_syms_1 = set(enc[1])
    assert any("we" in s and len(s) > 1 for s in all_syms_1)
    # doc 2: 'low'/'newest' encode via the shared vocab; the unseen
    # 1-char word 'x' stays a single symbol
    assert enc[2].get("x") == 1
    # symbol counts reconstruct the total character mass of each doc
    for d, text_d in ((1, text), (2, "low x newest")):
        chars = sum(len(s) * c for s, c in enc[d].items())
        assert chars == len(text_d.replace(" ", ""))


def test_bpe_exhausted_merges_noop_instead_of_wiping_vocab(spark):
    # Vocabulary {ab, cd}: round 1 merges (a,b), round 2 (c,d), and
    # every word is then a SINGLE symbol — rounds 3..6 find no pair.
    # Regression test for the round-6 "empty-best wipeout" (ADVICE #3):
    # the empty argmax crossJoin used to permanently empty the symbol
    # table, so bpe_train lost rounds 1-2's rows downstream and
    # bpe_encode silently fell back to per-char symbols for every word.
    docs = spark.createDataFrame(
        [(1, "en", "web", "ab ab ab cd cd")],
        "doc_id long, lang string, source string, text string",
    )
    out = textops.bpe_train(docs, n_merges=6).orderBy("step").collect()
    # exactly the two real merges survive; exhausted rounds emit nothing
    assert [(r["step"], r["merged"], r["pair_count"]) for r in out] == [
        (1, "ab", 3),
        (2, "cd", 2),
    ]
    enc = {
        (r["doc_id"], r["symbol"]): r["sym_count"]
        for r in textops.bpe_encode(docs, n_merges=6).collect()
    }
    # earlier merges survive the exhausted rounds: words encode as the
    # merged symbols, not per-char fallbacks
    assert enc == {(1, "ab"): 3, (1, "cd"): 2}


def test_bpe_driver_and_distributed_paths_agree(spark, sf_dir, monkeypatch):
    """r13 driver escape for the BPE merge loop: below the corpus-size
    gate the 8 rounds run on the driver over the collected vocabulary.
    Both paths must produce identical merge tables AND identical
    encodings over real (parquet) documents — the distributed loop stays
    the 100 TB path and must not drift from its driver twin."""
    docs = ingest.load(spark, sf_dir, "documents")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # sf0.001 documents are far under the gate -> driver path
    assert textops._catalyst_size(docs) <= textops.BPE_DRIVER_CORPUS_BYTES
    train_drv = rows(textops.bpe_train(docs))
    enc_drv = rows(textops.bpe_encode(docs))
    assert len(train_drv) == textops.BPE_TRAIN_MERGES
    # force the distributed loop
    monkeypatch.setattr(textops, "BPE_DRIVER_CORPUS_BYTES", -1)
    assert rows(textops.bpe_train(docs)) == train_drv
    assert rows(textops.bpe_encode(docs)) == enc_drv


def test_sharded_topk_equals_unsharded(spark):
    """review r12: the opt-in two-stage top-k pre-cut must be EXACT —
    per-shard top-k under the total (score, neighbor_id) order is a
    superset of the global top-k — across the brute-force family and
    the quantized paths' expand window."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
        for i in range(60)
    ]
    vecs = spark.createDataFrame(rows, VEC_SCHEMA)
    qids = [0, 7, 13]

    def key(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
        )

    assert key(similarity.brute_force_topk(vecs, qids, k=4)) == key(
        similarity.brute_force_topk(vecs, qids, k=4, shards=5)
    )
    assert key(similarity.hamming_topk(vecs, qids, k=4, bits=8)) == key(
        similarity.hamming_topk(vecs, qids, k=4, bits=8, shards=5)
    )
    assert key(similarity.hard_negative_topk(vecs, qids, k=4)) == key(
        similarity.hard_negative_topk(vecs, qids, k=4, shards=5)
    )
    assert key(similarity.sq8_topk(vecs, qids, k=3, expand=2)) == key(
        similarity.sq8_topk(vecs, qids, k=3, expand=2, shards=5)
    )
    assert key(similarity.pq_topk(vecs, qids, m=4, k=3, expand=2)) == key(
        similarity.pq_topk(vecs, qids, m=4, k=3, expand=2, shards=5)
    )


def test_auto_shards_triggers_on_size_and_stays_exact(
    spark, monkeypatch, tmp_path
):
    """VERDICT r12 item 3: the shard pre-cut must be size-derived, not
    opt-in. Below the threshold the default plan is identical to
    shards=None (no pmod pre-cut window); with the threshold forced
    under the corpus estimate, the DEFAULT path plans the sharded
    two-stage rank AND still returns exactly the unsharded result.
    The corpus goes through parquet so the trigger reads a REAL scan
    estimate (session-local Arrow relations report the unknown-size
    sentinel, which _auto_shards must treat as un-triggered — covered
    at the end)."""
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
        for i in range(60)
    ]
    local = spark.createDataFrame(rows, VEC_SCHEMA)
    pq = str(tmp_path / "vecs.parquet")
    local.write.parquet(pq)
    vecs = spark.read.parquet(pq)
    qids = [0, 7, 13]

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def key(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
        )

    # small corpus: auto == None (no pre-cut window in the plan)
    small = similarity.brute_force_topk(vecs, qids, k=4)
    assert "pmod" not in plan(small)
    baseline = key(small)

    # force the trigger under the corpus estimate: the DEFAULT path now
    # plans the two-stage rank and the result is unchanged
    monkeypatch.setattr(similarity, "SHARD_AUTO_THRESHOLD_BYTES", 1)
    monkeypatch.setattr(similarity, "SHARD_AUTO_TARGET_BYTES", 1024)
    sharded = similarity.brute_force_topk(vecs, qids, k=4)
    assert "pmod" in plan(sharded)
    assert key(sharded) == baseline
    # the quantized path's expand window shards the same way
    sq = similarity.sq8_topk(vecs, qids, k=3, expand=2)
    assert "pmod" in plan(sq)
    # unknown-size relations (local Arrow data, sentinel estimate) must
    # NOT trigger even under a tiny threshold
    assert "pmod" not in plan(
        similarity.brute_force_topk(local, qids, k=4)
    )
    monkeypatch.undo()
    assert key(sq) == key(similarity.sq8_topk(vecs, qids, k=3, expand=2))


def test_embedding_dedup_block_cap_bounds_and_keeps_connectivity(spark):
    """review r12: embedding_dedup_pairs was the one banded pair
    generator without the occupancy cap. A mass-duplicated bucket must
    emit at most block_cap * R pairs, every duplicate must still pair
    with a pivot, and under-occupied corpora must be EXACTLY the
    uncapped result."""
    # 12 identical vectors (one giant bucket) + 3 distinct ones
    rows = [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(12)] + [
        (20, [0.0, 1.0, 0.0, 0.0], 1),
        (21, [0.0, 0.9, 0.1, 0.0], 1),
        (22, [0.0, 0.0, 1.0, 0.0], 2),
    ]
    vecs = spark.createDataFrame(rows, VEC_SCHEMA)
    kw = dict(top_n=1000, num_planes=4, band_bits=2)
    uncapped = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_dedup_pairs(vecs, **kw).collect()
    }
    capped = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_dedup_pairs(
            vecs, block_cap=2, **kw
        ).collect()
    }
    assert capped <= uncapped
    # every member of the duplicate clique still pairs with a pivot
    dup_ids = set(range(12))
    flagged = {a for (a, b) in capped if b in dup_ids} | {
        b for (a, b) in capped if a in dup_ids
    }
    assert dup_ids <= flagged | {0}  # 0 is the first pivot itself
    # the cap bit: smaller-id side of every pair is a pivot (first 2 by
    # vec_id in its bucket) — the 12-clique emits far fewer pairs
    clique_pairs = [p for p in capped if p[0] in dup_ids and p[1] in dup_ids]
    assert len(clique_pairs) <= 2 * 12
    assert len(
        [p for p in uncapped if p[0] in dup_ids and p[1] in dup_ids]
    ) == 12 * 11 // 2
    # under-occupancy exactness: with a cap above every bucket size the
    # result is bit-identical
    roomy = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_dedup_pairs(
            vecs, block_cap=100, **kw
        ).collect()
    }
    assert roomy == uncapped


def _span_removal_model(corpus, k):
    """Pure-Python transliteration of dedup.remove_duplicate_spans'
    contract (review r12 — the B15-sweep recipe applied to the span
    rewriter): per doc, grams at 0-based pos (whole-doc gram when
    shorter than k); every occurrence AFTER a gram's global first by
    (doc_id, pos) covers its span; kept tokens rebuild the text."""
    grams = []  # (gram, doc_id, pos, span)
    for doc_id, toks in enumerate(corpus):
        if len(toks) < k:
            grams.append((" ".join(toks), doc_id, 0, len(toks)))
        else:
            for i in range(len(toks) - k + 1):
                grams.append((" ".join(toks[i : i + k]), doc_id, i, k))
    first = {}
    for g, d, p, _ in sorted(grams, key=lambda t: (t[1], t[2])):
        first.setdefault(g, (d, p))
    covered = {i: set() for i in range(len(corpus))}
    for g, d, p, span in grams:
        if first[g] != (d, p):
            covered[d].update(range(p, p + span))
    out = {}
    for doc_id, toks in enumerate(corpus):
        kept = [t for i, t in enumerate(toks) if i not in covered[doc_id]]
        out[doc_id] = (
            len(toks), len(kept), len(toks) - len(kept), " ".join(kept)
        )
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=14
        ),
        min_size=1,
        max_size=10,
    ),
    k=st.sampled_from([2, 3, 5]),
)
def test_remove_duplicate_spans_matches_model_exactly(spark, corpus, k):
    """EXACT equality against the transliterated model over random
    small-alphabet corpora (dense collisions) and k values, including
    the short-doc whole-gram branch (k=5 vs docs down to 1 token)."""
    rows = [
        (i, " ".join(toks), "en", "s", len(" ".join(toks)))
        for i, toks in enumerate(corpus)
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_kept"], r["n_removed"], r["text_dedup"]
        )
        for r in dedup.remove_duplicate_spans(df, shingle_k=k).collect()
    }
    assert got == _span_removal_model(corpus, k)
