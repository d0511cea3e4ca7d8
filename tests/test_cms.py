"""Count-Min sketch properties (operators/corpus_sketch.py): the
one-sided error guarantee, point-query exactness in the no-collision
regime, and bounded counter-table size."""

from __future__ import annotations

from file_dedup_rust_spark.operators.corpus_sketch import (
    CMS_HEX_W,
    CMS_LANES,
    cms_counters,
    cms_estimate,
)


def _census(spark, pairs):
    return spark.createDataFrame(pairs, "w string, c long")


def _estimates(spark, census):
    counters = cms_counters(census)
    est = cms_estimate(counters, census.select("w"))
    return {
        r["w"]: r["cms_estimate"]
        for r in census.join(est, "w").collect()
    }


def test_one_sided_error_and_exactness_small_vocab(spark):
    """With 60 terms in 4096 buckets/lane collisions are unlikely in
    EVERY one of 4 lanes, so estimates are exact; and the CMS
    guarantee (estimate >= truth) must hold unconditionally."""
    pairs = [(f"term{i:03d}", (i % 7) + 1) for i in range(60)]
    census = _census(spark, pairs)
    got = _estimates(spark, census)
    truth = dict(pairs)
    assert set(got) == set(truth)
    for w, c in truth.items():
        assert got[w] >= c  # one-sided, always
        assert got[w] == c  # exact at this occupancy


def test_overcount_is_shared_bucket_mass(spark):
    """Force a saturated sketch (vocab >> buckets is impractical in a
    unit test, so shrink the check): every estimate must equal the
    min over lanes of the summed colliding mass — verified against a
    Python reimplementation of the same md5 routing."""
    import hashlib

    pairs = [(f"w{i}", i + 1) for i in range(40)]
    census = _census(spark, pairs)
    got = _estimates(spark, census)

    buckets: dict[tuple[int, str], int] = {}
    for w, c in pairs:
        for lane in range(CMS_LANES):
            b = hashlib.md5(f"{lane}:{w}".encode()).hexdigest()[:CMS_HEX_W]
            buckets[(lane, b)] = buckets.get((lane, b), 0) + c
    for w, c in pairs:
        want = min(
            buckets[
                (
                    lane,
                    hashlib.md5(f"{lane}:{w}".encode()).hexdigest()[
                        :CMS_HEX_W
                    ],
                )
            ]
            for lane in range(CMS_LANES)
        )
        assert got[w] == want


def test_counter_table_is_bounded(spark):
    """The sketch never exceeds CMS_LANES * 16^CMS_HEX_W rows no
    matter the vocab."""
    census = _census(spark, [(f"v{i:04d}", 1) for i in range(500)])
    n = cms_counters(census).count()
    assert n <= CMS_LANES * 16**CMS_HEX_W
