"""Round-6: production-width (64-bit) SimHash and the NULL-band-bucket
guard.

q115 registers the 64-bit/4x16-band SimHash shape — these tests pin
(a) the banding algebra's perfect recall against a pure-Python
exact-hamming replay (including values whose bit 63 is set, i.e.
negative BIGINTs, and INT fingerprints banded as BIGINT), and (b) the
fingerprint fold's engine-exactness against a hashlib replay (the
same independence the DuckDB oracle provides, at unit scale).
"""

from __future__ import annotations

import hashlib

from real_time_data_pipeline_for_restaurant_analytics_spark.operators.dedup import (
    lsh_candidates,
    simhash64,
    simhash_hamming_pairs,
)


def _signed64(u: int) -> int:
    """Two's-complement reinterpretation of an unsigned 64-bit value."""
    return u - (1 << 64) if u >= 1 << 63 else u


def _py_simhash64(text: str) -> int:
    """Independent replay of simhash64's algebra: 64-bit token hash =
    first 16 md5 hex chars as (lo, hi) 32-bit halves, per-bit sign sum
    over tokens, fingerprint bit j set iff sum_j > 0."""
    sums = [0] * 64
    for tok in text.split(" "):
        h = hashlib.md5(tok.encode()).hexdigest()
        lo, hi = int(h[:8], 16), int(h[8:16], 16)
        for j in range(64):
            bit = (lo if j < 32 else hi) >> (j % 32) & 1
            sums[j] += 1 if bit else -1
    u = sum(1 << j for j in range(64) if sums[j] > 0)
    return _signed64(u)


def test_simhash64_matches_python_replay(spark):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "a a a repeated token stream a a a"),
        (4, ""),  # split('') -> [''] on both engines
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in simhash64(df, "doc_id", "text").collect()}
    for doc_id, text in docs:
        assert got[doc_id] == _py_simhash64(text), doc_id
    # the width is real: fingerprints use high bits (a 16-bit space
    # could never produce a value outside [0, 2^16))
    assert any(v < 0 or v >= 1 << 16 for v in got.values())


def test_simhash64_banding_perfect_recall_vs_exact(spark):
    """4x16-band bucketing must surface EXACTLY the
    hamming<=3 pairs (pigeonhole recall is perfect for d <= bands-1;
    verification makes precision exact). Values are crafted to cross
    the sign bit, share only some bands, and include identical pairs
    (the intra path)."""
    base = 0x123456789ABCDEF0
    fps_u = {
        0: base,
        1: base ^ 0x1,                   # d=1, same top bands
        2: base ^ (1 << 63),             # d=1, crosses the sign bit
        3: base ^ 0x8001,                # d=2 spanning band 0/band 0 edge
        4: base ^ (1 << 63) ^ (1 << 62) ^ (1 << 61) ^ (1 << 60) ^ 0xF,  # d=8: too far
        5: base,                         # identical -> hamming 0 intra pair
        6: 0x0F0F0F0F0F0F0F0F,           # unrelated
    }
    rows = [(i, _signed64(u)) for i, u in fps_u.items()]
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id1, r.id2): r.hamming
        for r in simhash_hamming_pairs(fp, "doc_id").collect()
    }
    expected = {}
    ids = sorted(fps_u)
    for i in ids:
        for j in ids:
            if i < j:
                d = bin(fps_u[i] ^ fps_u[j]).count("1")
                if d <= 3:
                    expected[(i, j)] = d
    assert got == expected
    assert (0, 5) in expected and expected[(0, 5)] == 0  # intra path fired
    assert (0, 2) in expected  # sign-bit-crossing pair survived banding


def test_int_fingerprints_band_as_bigint(spark):
    """An INT fingerprint is widened to BIGINT before banding. Without
    the cast, shiftrightunsigned on INT masks the shift to 5 bits, so
    the bands at shifts 32 and 48 repeat the two low 16-bit bands, and
    a hamming-2 pair that differs in both of those bands shares no
    band at all."""
    rows = [(1, 0x00010001), (2, 0)]  # d=2: one bit in each low band
    fp = spark.createDataFrame(rows, "doc_id long, simhash int")
    got = [(r.id1, r.id2, r.hamming) for r in simhash_hamming_pairs(fp, "doc_id").collect()]
    assert got == [(1, 2, 2)]


def test_lsh_candidates_drops_null_band_hashes(spark):
    """Shingle-less docs get NULL band hashes; a groupBy would pool
    them into one degenerate bucket and pair them all, where the
    equi-join formulation (and every oracle) matches nothing on NULL.
    Both must agree: NULL bands emit no pairs."""
    rows = [
        (1, 0, None), (2, 0, None), (3, 0, None),   # no-shingle docs
        (10, 0, "abc"), (11, 0, "abc"),              # one real collision
    ]
    bands = spark.createDataFrame(rows, "doc_id long, band_idx int, band_hash string")
    got = [(r.id1, r.id2) for r in lsh_candidates(bands, "doc_id").collect()]
    assert got == [(10, 11)]


def test_banding_recall_property_random_fingerprints(spark):
    """Property: for ANY set of 64-bit fingerprints (hypothesis-drawn,
    including sign-bit extremes and near-collisions), the banded
    kernel emits EXACTLY the hamming<=3 pairs a brute-force check
    finds — pigeonhole recall + exact verification leave no
    approximation at either width."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = 0x5A5A5A5A5A5A5A5A
    # mix free 64-bit values with deliberate near-collisions of base
    fps = st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=(1 << 64) - 1),
            st.builds(
                lambda flips: base ^ sum(1 << b for b in flips),
                st.sets(st.integers(min_value=0, max_value=63), max_size=4),
            ),
        ),
        min_size=2,
        max_size=12,
        unique=True,
    )

    @settings(max_examples=12, deadline=None)
    @given(fps)
    def run(us):
        rows = [(i, _signed64(u)) for i, u in enumerate(us)]
        fp = spark.createDataFrame(rows, "doc_id long, simhash long")
        got = {
            (r.id1, r.id2): r.hamming
            for r in simhash_hamming_pairs(fp, "doc_id").collect()
        }
        expected = {
            (i, j): bin(us[i] ^ us[j]).count("1")
            for i in range(len(us))
            for j in range(i + 1, len(us))
            if bin(us[i] ^ us[j]).count("1") <= 3
        }
        assert got == expected

    run()


def test_lsh_bucket_stats_ignores_null_bands(spark):
    """The observability frame must report what lsh_candidates
    actually buckets: NULL band hashes are excluded on BOTH sides, so
    a shingle-less corpus shows zero over-cap buckets instead of a
    phantom giant one."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.dedup import (
        lsh_bucket_stats,
    )

    rows = [(i, 0, None) for i in range(50)] + [(100, 0, "abc"), (101, 0, "abc")]
    bands = spark.createDataFrame(rows, "doc_id long, band_idx int, band_hash string")
    stats = lsh_bucket_stats(bands, "doc_id", max_bucket_size=10).collect()[0]
    assert stats.n_buckets == 1        # only the real 'abc' bucket
    assert stats.n_over_cap == 0       # the NULL group is not a bucket
