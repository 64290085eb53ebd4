"""Round-3 operator kernels: z-order layout, weighted priority
sampling, product quantization, BPE pair scan and training.

Each test pins the kernel's semantics against a hand-computed or
pure-Python reference on crafted rows — the oracle parity tests cover
the registered end-to-end queries; these cover the edge semantics the
testdata doesn't exercise (exact bit interleaves, self-assignment of
PQ training vectors).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from real_time_data_pipeline_for_restaurant_analytics_spark.operators.layout import (
    zorder_bucket_audit,
    zorder_key,
)
from real_time_data_pipeline_for_restaurant_analytics_spark.operators.sampling import (
    weighted_priority_sample,
)
from real_time_data_pipeline_for_restaurant_analytics_spark.operators.similarity import (
    pq_assign_codes,
)
from real_time_data_pipeline_for_restaurant_analytics_spark.operators.text import (
    bpe_pair_counts,
)


def _py_morton(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for k in range(bits):
        z |= ((x >> k) & 1) << (2 * k)
        z |= ((y >> k) & 1) << (2 * k + 1)
    return z


def test_zorder_key_matches_python_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (1, 1), (5, 3), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(rows, "x BIGINT, y BIGINT").withColumn(
        "z", zorder_key("x", "y")
    )
    for x, y, z in df.collect():
        assert z == _py_morton(x, y), (x, y)


def test_zorder_buckets_bound_both_dimensions(spark):
    # A z-bucket of the top 2k bits confines BOTH keys to aligned
    # 2^(16-k) ranges — the file-skipping guarantee. With 6 bucket
    # bits (3 per dim) over 8-bit keys, each span must be < 2^13.
    rows = [(i * 37 % 256, i * 91 % 256) for i in range(1000)]
    df = spark.createDataFrame(rows, "x BIGINT, y BIGINT")
    audit = zorder_bucket_audit(df, "x", "y", n_bucket_bits=6).collect()
    assert sum(r["n_rows"] for r in audit) == 1000
    for r in audit:
        assert r["x_max"] - r["x_min"] < 1 << 13
        assert r["y_max"] - r["y_min"] < 1 << 13


def test_weighted_priority_sample_matches_python(spark):
    rows = [(i, 10 + (i * 7) % 90) for i in range(200)]
    df = spark.createDataFrame(rows, "id BIGINT, w BIGINT")
    got = [
        (r["id"], r["priority"])
        for r in weighted_priority_sample(df, "id", "w", k=15).collect()
    ]

    def prio(i: int, w: int) -> int:
        u = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        return u * 1_000_000 // w

    want = sorted(((prio(i, w), i) for i, w in rows))[:15]
    assert got == [(i, p) for p, i in want]


def test_weighted_sample_prefers_heavy_rows(spark):
    # identical ids hashed uniformly; weight 1000 vs 1 → the heavy
    # half must dominate a k=50 draw from 100+100 rows
    rows = [(i, 1000) for i in range(100)] + [(i, 1) for i in range(100, 200)]
    df = spark.createDataFrame(rows, "id BIGINT, w BIGINT")
    picked = weighted_priority_sample(df, "id", "w", k=50).collect()
    heavy = sum(1 for r in picked if r["id"] < 100)
    assert heavy >= 45


def test_pq_training_vectors_code_themselves(spark, sf=None):
    from real_time_data_pipeline_for_restaurant_analytics_spark.catalog import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    codes = pq_assign_codes(emb)
    train = codes.filter(F.col("vec_id") < 4).collect()
    # every training vector's subvector is its own centroid: sqerr 0,
    # code == vec_id (ties impossible at dist 0 unless duplicates)
    for r in train:
        assert r["sqerr"] == 0
        assert r["code"] == r["vec_id"]
    # codes live in [0, K)
    rng = codes.agg(F.min("code"), F.max("code")).first()
    assert rng[0] >= 0 and rng[1] <= 3


def test_bpe_pair_counts_exact(spark):
    docs = spark.createDataFrame(
        [(1, "aab ab"), (2, "b aab")], "doc_id BIGINT, text STRING"
    )
    # words: aab, ab, b, aab → pairs: aa,ab | ab | — | aa,ab
    got = {r["pair"]: r["n"] for r in bpe_pair_counts(docs, top_k=10).collect()}
    assert got == {"aa": 2, "ab": 3}


def test_partition_fingerprint_is_order_insensitive_and_mergeable(spark):
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.dq import (
        partition_fingerprints,
    )

    rows = [(i, f"v{i % 7}") for i in range(100)]
    df = spark.createDataFrame(rows, "k BIGINT, s STRING")
    fp = partition_fingerprints(df, F.lit("all"), ["k", "s"]).collect()[0]
    # shuffled input → identical fingerprint (commutative aggregates)
    df2 = spark.createDataFrame(list(reversed(rows)), "k BIGINT, s STRING").repartition(7)
    fp2 = partition_fingerprints(df2, F.lit("all"), ["k", "s"]).collect()[0]
    assert (fp["n_rows"], fp["h_sum"], fp["h_min"], fp["h_max"]) == (
        fp2["n_rows"], fp2["h_sum"], fp2["h_min"], fp2["h_max"],
    )
    # single changed row → fingerprint moves
    rows3 = rows[:-1] + [(99, "CHANGED")]
    fp3 = partition_fingerprints(
        spark.createDataFrame(rows3, "k BIGINT, s STRING"), F.lit("all"), ["k", "s"]
    ).collect()[0]
    assert fp3["h_sum"] != fp["h_sum"]


def test_source_minhash_identical_sources_full_match(spark):
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.dedup import (
        source_minhash_similarity,
    )

    txt = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, "sA", txt), (2, "sB", txt), (3, "sC", "completely different words here entirely")],
        "doc_id BIGINT, source STRING, text STRING",
    )
    out = {
        (r["source1"], r["source2"]): r["jaccard_permille"]
        for r in source_minhash_similarity(docs, "source", "text").collect()
    }
    assert out[("sA", "sB")] == 1000  # identical shingle sets: every component matches
    assert out[("sA", "sC")] == 0 and out[("sB", "sC")] == 0


def test_lm_bigram_score_edges(spark):
    """Round-6 q120 edges: conditional probabilities sum to 1000 per
    prefix (exact prefix-count denominator), unseen bigrams floor to 0
    under a foreign train corpus, and <2-token docs emit (0, NULL)."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.text import (
        lm_bigram_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a c"),   # bigrams: (a,b) (b,a) (a,c)
            (2, "a b"),       # bigram (a,b)
            (3, "solo"),      # no bigrams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in lm_bigram_score(docs).collect()}
    # corpus counts: c1(a)=3, c1(b)=1; c2(a,b)=2, c2(b,a)=1, c2(a,c)=1
    # P_milli: (a,b)=666, (b,a)=1000, (a,c)=333
    assert (out[1].n_bigrams, out[1].lm_score_milli) == (3, (666 + 1000 + 333) // 3)
    assert (out[2].n_bigrams, out[2].lm_score_milli) == (1, 666)
    assert out[3].n_bigrams == 0 and out[3].lm_score_milli is None
    # conditionals per prefix sum to 1000 (exact prefix denominator):
    assert 666 + 333 == 999  # floor loss only, never overshoot

    # foreign train corpus: unseen bigrams floor to 0
    train = spark.createDataFrame([(10, "x y")], "doc_id long, text string")
    foreign = {r.doc_id: r for r in lm_bigram_score(docs, train=train).collect()}
    assert foreign[1].lm_score_milli == 0  # every bigram unseen


def test_bpe_train_merges_matches_reference_algorithm(spark):
    """Hand-computed Sennrich-style BPE on a crafted corpus, including
    the overlapping-pair case ('aaa' -> 'aa a', greedy left-to-right)
    and frequency weighting across repeated words."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.text import (
        bpe_train_merges_batched,
    )

    # corpus: 'lot lot lot lotto aaa'
    #   vocab: lot x3, lotto x1, aaa x1
    # iter1 pairs: (l,o)x4 (o,t)x4 (t,t)x1 (t,o)x1 (a,a)x2
    #   -> tie at 4, lexicographic tiebreak picks (l,o)
    #   merge: 'lo t', 'lo t t o', 'a a a'
    # iter2 pairs: (lo,t)x4 (t,t)x1 (t,o)x1 (a,a)x2 -> top (lo,t) 4
    #   merge: 'lot', 'lot t o', 'a a a'
    # iter3 pairs: (lot,t)x1 (t,o)x1 (a,a)x2 -> top (a,a) 2
    docs = spark.createDataFrame(
        [("d1", "lot lot lot"), ("d2", "lotto aaa")], ["doc_id", "text"]
    )
    rows = bpe_train_merges_batched(docs, n_rounds=3, batch_m=1, cand_k=1).collect()
    got = [(r.iteration, r.left_sym, r.right_sym, r.pair_count) for r in rows]
    assert got == [(1, "l", "o", 4), (2, "lo", "t", 4), (3, "a", "a", 2)]


def test_bpe_merge_rewrite_is_greedy_left_to_right(spark):
    """The space-doubling replace trick must merge non-overlapping
    occurrences left-to-right: pair (a,a) on 'a a a a a' -> 'aa aa a',
    exactly the reference algorithm's greedy semantics."""
    df = spark.createDataFrame([(" a a a a a ",)], ["r"])
    out = df.select(
        F.expr(
            "replace(replace(replace(r, ' ', '  '),"
            " ' a  a ', ' aa '), '  ', ' ')"
        ).alias("m")
    ).collect()[0]
    assert out.m == " aa aa a "


def test_bpe_encode_stats_hand_computed(spark):
    """Encode of the 3-merge corpus from the training test: after
    (l,o), (lo,t), (a,a) the vocabulary is lot->'lot' (1 sym),
    lotto->'lot t o' (3), aaa->'aa a' (2)."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.text import bpe_encode_stats

    docs = spark.createDataFrame(
        [("d1", "lot lot lot"), ("d2", "lotto aaa")], ["doc_id", "text"]
    )
    got = {
        r.doc_id: (r.n_words, r.n_sym_before, r.n_sym_after)
        for r in bpe_encode_stats(docs, n_merges=3).collect()
    }
    assert got == {"d1": (3, 9, 3), "d2": (2, 8, 5)}


def test_distribution_drift_odd_tvd_floors(spark):
    """Review-finding pin: when the floored ppm deltas sum ODD, the
    half must FLOOR (Spark truncation == DuckDB FLOOR), not round.
    ref: 3 rows bin0 -> 1000000 ppm. cur: 1 row bin0 + 2 rows bin1 ->
    333333 / 666666 ppm. |delta| sum = 1333333 -> tvd 666666."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.dq import distribution_drift

    rows = (
        [("2024-01-10 00:00:00", 1.0)] * 3
        + [("2024-01-20 00:00:00", 1.0)]
        + [("2024-01-20 00:00:00", 30.0)] * 2
    )
    df = spark.createDataFrame(rows, "ts_s STRING, value DOUBLE").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    out = {r.bin_id: r for r in distribution_drift(df).collect()}
    assert out[0].ref_ppm == 1000000 and out[0].cur_ppm == 333333
    assert out[1].cur_ppm == 666666
    assert out[0].tvd_ppm == 666666


def _ref_bpe(word_freqs: dict, n_merges: int):
    """Pure-Python Sennrich BPE reference: symbol-tuple vocabulary,
    greedy left-to-right merge, (count desc, pair asc) selection."""
    vocab: dict = {}
    for w, f in word_freqs.items():
        t = tuple(w)
        vocab[t] = vocab.get(t, 0) + f
    merges = []
    for _ in range(n_merges):
        counts: dict = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, c))
        new_vocab: dict = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_merges_property_vs_python_reference(spark):
    """Property pin for the space-doubling merge algebra: random small-
    alphabet corpora (maximal overlap pressure: runs of the same char)
    must produce exactly the reference algorithm's merge sequence,
    including early exhaustion when fewer than 3 pairs remain."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.text import (
        bpe_train_merges_batched,
    )

    words = st.lists(
        st.text(alphabet="ab", min_size=1, max_size=5), min_size=1, max_size=8
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ws=words)
    def run(ws):
        freqs: dict = {}
        for w in ws:
            freqs[w] = freqs.get(w, 0) + 1
        docs = spark.createDataFrame([("d", " ".join(ws))], ["doc_id", "text"])
        got = [
            (r.left_sym, r.right_sym, r.pair_count)
            for r in bpe_train_merges_batched(
                docs, n_rounds=3, batch_m=1, cand_k=1
            ).collect()
        ]
        assert got == _ref_bpe(freqs, 3)

    run()


def test_resample_by_weight_empty_weights_defaults_to_one(spark):
    """Review r8: an empty mixture config means 'keep everything at
    weight 1.0', not AttributeError on None.otherwise."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.sampling import (
        resample_by_weight,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "doc_id long, bucket string"
    )
    out = resample_by_weight(df, "doc_id", "bucket", {}).collect()
    assert sorted((r.doc_id, r.epoch) for r in out) == [(1, 0), (2, 0), (3, 0)]


def test_mixture_allocation_no_overflow_at_corpus_scale(spark):
    """Review r8: 1e6*n_tokens and target*total wrapped past 2^63 at
    ~1e13 corpus tokens (the target scale), flipping share/rate
    negative IN PRODUCTION ONLY (DuckDB promotes to HUGEINT, so the
    oracle never saw it). Token counts are just column values, so the
    overflow regime is testable with three rows."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.sampling import (
        mixture_allocation,
    )

    big = 7 * 10**12  # 7T tokens per stratum -> total 21T
    df = spark.createDataFrame(
        [("a", big), ("b", big), ("c", big)], "source string, n_toks long"
    )
    rows = mixture_allocation(
        df, "source", "n_toks", {"a": 100000, "b": 500000}, default_ppm=1000000
    ).collect()
    by = {r.source: r for r in rows}
    for r in rows:
        assert 0 <= r.share_ppm <= 1000000, r
        assert 0 <= r.sample_rate_ppm <= 1000000, r
    # each stratum holds 1/3 of tokens
    assert abs(by["a"].share_ppm - 333333) <= 1
    # target 100k ppm of 21T = 2.1T tokens from a 7T stratum -> 300k ppm
    assert abs(by["a"].sample_rate_ppm - 300000) <= 1
    assert abs(by["b"].sample_rate_ppm - 1000000) <= 1  # capped
    assert by["c"].sample_rate_ppm == 1000000  # default keeps all
