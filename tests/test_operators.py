"""Unit tests per SURVEY.md §2 operator, incl. pinned reference quirks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators import dedup as D
from crawler_spark.operators import extract as E
from crawler_spark.operators import politeness as P
from crawler_spark.operators import robots as R
from crawler_spark.operators.ranking import global_sequence


# ---- P3: the reference's own test corpus (extensions_test.go:11-15)
def test_extract_number_reference_corpus(spark):
    cases = [
        ("40 zł/m²", "40"),
        ("39 m²", "39"),
        ("1 100 zł /mc", "1100"),  # non-breaking space grouping
        ("no digits here", ""),
        ("a1b2c3", "123"),  # digit-run concatenation
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], ["raw"])
    got = {r["raw"]: r["out"] for r in df.select("raw", E.extract_number("raw").alias("out")).collect()}
    for raw, want in cases:
        assert got[raw] == want


# ---- P4: absent predicate → whole string (reference panics; pinned sane)
def test_take_before(spark):
    df = spark.createDataFrame(
        [("https://x/oferta/a-ID1.html#frag",), ("https://x/no-suffix",)], ["link"]
    )
    got = [r[0] for r in df.select(E.take_before("link", ".html")).collect()]
    assert got == ["https://x/oferta/a-ID1", "https://x/no-suffix"]


# ---- P5: '?' vs '&' page param (total_pages/handler.go:54-60)
def test_with_page_param(spark):
    df = spark.createDataFrame([("https://h/list?cat=1",), ("https://h/list",)], ["url"])
    got = [r[0] for r in df.select(E.with_page_param("url", F.lit(3))).collect()]
    assert got == ["https://h/list?cat=1&page=3", "https://h/list?page=3"]


# ---- P6: skip-on-parse-error
def test_safe_int(spark):
    df = spark.createDataFrame([("12",), ("next",), ("",)], ["t"])
    got = [r[0] for r in df.select(E.safe_int("t")).collect()]
    assert got == [12, None, None]


# ---- G6: politeness budget math + split
def test_politeness_split(spark):
    frontier = spark.createDataFrame(
        [("h1", i, 0, i, -1000 + i) for i in range(10)]
        + [("h2", i, 0, i, 2000 + i) for i in range(3)],
        "host: string, page: int, priority: int, seed_id: int, url_hash: long",
    )
    robots = spark.createDataFrame(
        [("h1", "", 500), ("h2", "", 0)], "host: string, disallow_prefix: string, crawl_delay_ms: int"
    )
    dispatch, deferred = P.split_by_budget(frontier, robots, base_budget=8, round_ms=600)
    d = dispatch.groupBy("host").count().collect()
    counts = {r["host"]: r["count"] for r in d}
    assert counts == {"h1": 1, "h2": 3}  # 600//500=1; delay 0 → base(capped by rows)
    assert deferred.count() == 9
    # lowest (priority, page, url_hash) wins within host
    keep = dispatch.filter(F.col("host") == "h1").collect()[0]
    assert keep["page"] == 0


# ---- robots gate
def test_robots_split(spark):
    cand = spark.createDataFrame(
        [
            ("h1", "https://h1/list?cat=1", 1),
            ("h1", "https://h1/other", 2),
            ("h2", "https://h2/list?cat=2", 3),
        ],
        "host: string, url: string, url_hash: long",
    )
    robots = spark.createDataFrame(
        [("h1", "/list", 0), ("h2", "", 0)],
        "host: string, disallow_prefix: string, crawl_delay_ms: int",
    )
    allowed, blocked = R.split_robots(cand, robots)
    assert sorted(r["url_hash"] for r in allowed.collect()) == [2, 3]
    assert [r["url_hash"] for r in blocked.collect()] == [1]


def test_rfc_robots_semantics(spark):
    """RFC 9309 §2.2.2 pins: longest match wins; allow wins length
    ties; '$' anchors; '*' spans path chars; '.' is literal (escape
    check); no rule / no matching rule ⇒ allowed."""
    cases = [
        # (id, host, path, expect_allowed, expect_match_len)
        (1, "a", "/private/doc.pdf", False, 9),        # /private/ beats /*.pdf$
        (2, "a", "/private/public/x", True, 16),       # longer allow overrides
        (3, "a", "/other.pdf", False, 7),              # anchored wildcard decisive
        (4, "a", "/other.pdfx", True, 0),              # '$' anchors: no match
        (5, "a", "/tie/a", True, 6),                   # exact tie → allow wins
        (6, "a", "/aXb", True, 0),                     # '.' literal, not regex any
        (7, "a", "/a.b", False, 4),                    # the escaped-dot rule matches
        (8, "b", "/private/doc.pdf", True, 0),         # rule-less host
        (9, "a", "/files/x/y/b", False, 11),           # '*' spans multiple segments
        (10, "a", "/q/search?page=2", False, 10),      # '?' literal in rule (escape)
        (11, "a", "/q/searchpage=2", True, 0),         # '?' is NOT an optional-char
        (12, "a", "/w/anything?x=1", False, 5),        # the classic 'Disallow: /w/*?'
        (13, "a", "/w/no-query", True, 0),
    ]
    cand = spark.createDataFrame(
        [(i, h, p) for i, h, p, _, _ in cases], "id: long, host: string, path: string"
    )
    rules = spark.createDataFrame(
        [
            ("a", "disallow", "/private/"),
            ("a", "allow", "/private/public/"),
            ("a", "disallow", "/*.pdf$"),
            ("a", "allow", "/tie/a"),
            ("a", "disallow", "/tie/a"),
            ("a", "disallow", "/a.b"),
            ("a", "disallow", "/files/*/b$"),
            ("a", "disallow", "/q/search?"),
            ("a", "disallow", "/w/*?"),
        ],
        "host string, rule_type string, pattern string",
    )
    out = {
        r["id"]: (r["allowed"], r["match_len"])
        for r in R.rfc_robots_verdict(cand, rules, ["id"]).collect()
    }
    for i, _, _, exp_allowed, exp_len in cases:
        assert out[i] == (exp_allowed, exp_len), (i, out[i], (exp_allowed, exp_len))


# ---- U2/F4: bloom-prefiltered anti-join ≡ exact anti-join
def test_bloom_anti_join_equivalence(spark):
    seen = spark.range(0, 5000, 2).select(F.col("id").alias("url_hash"))
    cands = spark.range(0, 5000).select(
        F.col("id").alias("url_hash"), (F.col("id") * 10).alias("payload")
    )
    exact = D.anti_join_seen(cands, seen, None)
    filters = D.build_seen_filters(seen, n_parts=8)
    assert filters.count() == 4  # seen hashes are all even → 4 of 8 partitions
    with_bloom = D.anti_join_seen(cands, seen, filters, n_parts=8)
    a = sorted(r["url_hash"] for r in exact.collect())
    b = sorted(r["url_hash"] for r in with_bloom.collect())
    assert a == b == list(range(1, 5000, 2))


# ---- G3/G5: live-web fetch path with in-batch retry (fake fetcher)
def test_fetch_http_map_retries(spark):
    from pyspark.sql import types as T

    from crawler_spark.operators.fetch import fetch_http_map

    def flaky(url: str) -> dict:
        # deterministic: URLs ending in an odd digit fail twice, then
        # succeed; 'dead' URLs always raise
        if url.endswith("dead"):
            raise RuntimeError("always down")
        return {"title": f"page:{url}"}

    calls = {}

    def fetcher(url):
        calls[url] = calls.get(url, 0) + 1
        n = int(url[-1]) if url[-1].isdigit() else None
        if n is not None and n % 2 == 1 and calls[url] <= 2:
            raise RuntimeError("transient")
        return flaky(url)

    dispatch = spark.createDataFrame(
        [("u1", 0), ("u2", 0), ("udead", 0)], "url: string, attempts: int"
    ).coalesce(1)  # single partition → one batch → call counts observable
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("attempts", T.IntegerType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("error", T.StringType()),
            T.StructField("title", T.StringType()),
        ]
    )
    rows = {r["url"]: r for r in fetch_http_map(dispatch, fetcher, schema).collect()}
    assert rows["u2"]["ok"] and rows["u2"]["attempts"] == 1
    assert rows["u1"]["ok"] and rows["u1"]["attempts"] == 3  # 2 transient fails
    assert not rows["udead"]["ok"] and rows["udead"]["attempts"] == 5
    assert rows["udead"]["error"] == "always down"


# ---- incremental partitioned filter state ≡ exact anti-join
def test_incremental_filter_state_equivalence(spark):
    state = spark.createDataFrame([], D.FILTER_STATE_SCHEMA)
    seen_batches = [
        spark.range(0, 3000, 3).select(F.col("id").alias("url_hash")),
        spark.range(1, 3000, 3).select(F.col("id").alias("url_hash")),
    ]
    seen_all = seen_batches[0].unionByName(seen_batches[1])
    for b in seen_batches:
        state = D.update_seen_filters(state, b, n_parts=8)
    state = state.persist()
    # epochs grew without rebuild; every partition has state
    assert state.count() >= 8
    cands = spark.range(0, 3000).select(
        F.col("id").alias("url_hash"), (F.col("id") * 7).alias("payload")
    )
    got = sorted(
        r["url_hash"]
        for r in D.anti_join_seen_partitioned(cands, seen_all, state, n_parts=8).collect()
    )
    assert got == list(range(2, 3000, 3))
    state.unpersist()


# ---- filter capacity overflow appends epochs (no rebuild, no loss)
def test_filter_state_epoch_growth(spark):
    state = spark.createDataFrame([], D.FILTER_STATE_SCHEMA)
    for lo in range(0, 30000, 10000):
        batch = spark.range(lo, lo + 10000).select(F.col("id").alias("url_hash"))
        state = D.update_seen_filters(state, batch, n_parts=2).persist()
        state.count()
    rows = state.collect()
    assert {r["part_id"] for r in rows} == {0, 1}
    assert sum(r["n_keys"] for r in rows) == 30000
    seen = spark.range(0, 30000).select(F.col("id").alias("url_hash"))
    cands = spark.range(0, 40000).select(F.col("id").alias("url_hash"))
    got = D.anti_join_seen_partitioned(cands, seen, state, n_parts=2).count()
    assert got == 10000


# ---- same-round collision: a candidate first seen THIS round must be
# dropped even though the persisted filter blobs don't cover it yet
def test_same_round_collision_not_refetched(spark):
    seen_prev = spark.range(0, 1000, 2).select(F.col("id").alias("url_hash"))
    state = D.update_seen_filters(
        spark.createDataFrame([], D.FILTER_STATE_SCHEMA), seen_prev, n_parts=4
    ).persist()
    state.count()
    # this round fetched 1001/1003/1005 — NOT in seen_prev, NOT in blobs
    new_seen = spark.createDataFrame([(1001,), (1003,), (1005,)], "url_hash: long")
    # candidates collide with both the old set and the same-round delta
    cands = spark.createDataFrame(
        [(1001,), (1003,), (4,), (7,)], "url_hash: long"
    ).withColumn("payload", F.col("url_hash") * 2)
    got = sorted(
        r["url_hash"]
        for r in D.anti_join_seen_with_delta(
            cands, seen_prev, new_seen, state, n_parts=4
        ).collect()
    )
    assert got == [7]  # 1001/1003 seen this round, 4 seen before
    state.unpersist()


# ---- absent/partial filter state degrades to the exact anti-join
# (conservative probe default), never to "skip dedup"
def test_absent_filter_state_degrades_to_exact(spark):
    seen = spark.range(0, 100).select(F.col("id").alias("url_hash"))
    cands = spark.range(0, 200).select(F.col("id").alias("url_hash"))
    empty_state = spark.createDataFrame([], D.FILTER_STATE_SCHEMA)
    got = sorted(
        r["url_hash"]
        for r in D.anti_join_seen_partitioned(cands, seen, empty_state, n_parts=4).collect()
    )
    assert got == list(range(100, 200))
    # partial state: blobs exist for only one of 4 partitions
    partial = D.update_seen_filters(
        empty_state, seen.filter(F.pmod("url_hash", F.lit(4)) == 0), n_parts=4
    )
    got = sorted(
        r["url_hash"]
        for r in D.anti_join_seen_partitioned(cands, seen, partial, n_parts=4).collect()
    )
    assert got == list(range(100, 200))


# ---- deterministic global sequence, partition-invariant
def test_global_sequence_partition_invariant(spark):
    import random

    rows = [(i % 3, i % 7, random.Random(i).randrange(-(2**40), 2**40) * 2 + i) for i in range(500)]
    base = spark.createDataFrame(rows, "priority: int, page: int, url_hash: long")
    outs = []
    for nparts in (1, 4, 13):
        df = base.repartition(nparts)
        seq = global_sequence(df, ["priority", "page", "url_hash"], num_partitions=nparts)
        got = {r["url_hash"]: r["seq"] for r in seq.collect()}
        outs.append(got)
    assert outs[0] == outs[1] == outs[2]
    # seq is the rank in the canonical sort
    ordered = [h for _, _, h in sorted(rows)]
    for i, h in enumerate(ordered, start=1):
        assert outs[0][h] == i


def test_global_sequence_bucketed_equals_truth_at_scale(spark):
    """Regression pin for the repartitionByRange corruption: the old
    ranged path sampled boundaries per-action (RDD-id-seeded), so under
    AQE the counts job and numbering job disagreed at ≳10^5 rows and the
    'offsets' were wrong — small fixtures hid it because the sampler
    sees the whole input.  The bucketed path must equal the single-
    window truth exactly, at any buckets/partitioning."""
    from pyspark.sql import functions as F

    df = spark.range(120_000).select(
        (F.col("id") % 3).cast("int").alias("priority"),
        (F.col("id") % 11).cast("int").alias("page"),
        F.xxhash64(F.col("id")).alias("url_hash"),
    )
    truth = {
        r["url_hash"]: r["seq"]
        for r in global_sequence(df, ["priority", "page", "url_hash"], small=True).collect()
    }
    for nparts, buckets in ((4, 256), (13, 32)):
        got = {
            r["url_hash"]: r["seq"]
            for r in global_sequence(
                df.repartition(nparts), ["priority", "page", "url_hash"], buckets=buckets
            ).collect()
        }
        assert got == truth, f"bucketed numbering differs at {nparts=} {buckets=}"


# ---- frontier head/tail split (the per-round working set at scale)
def test_split_head_invariant(spark):
    from crawler_spark.operators import frontier as FR

    rows = [
        ("h%d" % (i % 3), "u%d" % i, i, 0, i % 5, 0, 0, 0, "d", "flat", "v1")
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "host: string, url: string, url_hash: long, page: int, priority: int,"
        " round_added: int, attempts: int, seed_id: int, domain: string,"
        " schema_name: string, schema_version: string",
    ).persist()
    head, tail = FR.split_head(df, k=7)
    h, t = head.collect(), tail.collect()
    assert len(h) + len(t) == 60
    assert all(
        len([r for r in h if r["host"] == host]) == 7 for host in ("h0", "h1", "h2")
    )
    # invariant: every tail row sorts strictly after every head row of
    # its host — dispatching the head's top-b IS the frontier's top-b
    def key(r):
        return (r["priority"], r["page"], r["url_hash"])

    for host in ("h0", "h1", "h2"):
        hmax = max(key(r) for r in h if r["host"] == host)
        tmin = min(key(r) for r in t if r["host"] == host)
        assert hmax < tmin
    df.unpersist()


def test_dedup_keys_preference(spark):
    """Refill-merge dedup: a retried copy (higher attempts) must win
    (retry exhaustion would otherwise reset); between equal-attempt
    copies the earlier round_added wins (already-queued keeps its row)."""
    from crawler_spark.operators import frontier as FR

    df = spark.createDataFrame(
        [
            ("u", 1, "h", 0, 0, 5, 2, 0, "d", "flat", "v1"),  # retried copy
            ("u", 1, "h", 0, 0, 1, 0, 0, "d", "flat", "v1"),  # older, no attempts
            ("u", 1, "h", 0, 0, 3, 0, 0, "d", "flat", "v1"),
            ("v", 2, "h", 0, 0, 4, 0, 0, "d", "flat", "v1"),
        ],
        "url: string, url_hash: long, host: string, page: int, priority: int,"
        " round_added: int, attempts: int, seed_id: int, domain: string,"
        " schema_name: string, schema_version: string",
    )
    got = {r["url_hash"]: r for r in FR.dedup_keys(df).collect()}
    assert len(got) == 2
    assert (got[1]["attempts"], got[1]["round_added"]) == (2, 5)
    assert got[2]["round_added"] == 4


# ---- distributed exclusive prefix sum (running_total)
def test_running_total_matches_single_window(spark):
    import random

    from crawler_spark.operators.ranking import running_total

    rng = random.Random(7)
    rows = [(i % 4, rng.randrange(10**9), rng.randrange(1, 500)) for i in range(3000)]
    df = spark.createDataFrame(rows, "grp: int, k: long, v: long").persist()
    keys = ["grp", "k"]
    truth = {
        (r["grp"], r["k"]): r["running_total"]
        for r in running_total(df, keys, "v", small=True).collect()
    }
    # first row of the global order gets 0; last prefix < total
    assert min(truth.values()) == 0
    # bucketed path: identical at any partitioning / bucket count
    for nparts, buckets in ((3, 256), (17, 16)):
        got = {
            (r["grp"], r["k"]): r["running_total"]
            for r in running_total(
                df.repartition(nparts), keys, "v", buckets=buckets
            ).collect()
        }
        assert got == truth, f"prefix sums differ at {nparts=} {buckets=}"
    df.unpersist()


def test_running_total_consistent_with_global_sequence(spark):
    """val=1 must reproduce global_sequence - 1 (exclusive prefix count)."""
    from pyspark.sql import functions as F

    from crawler_spark.operators.ranking import global_sequence, running_total

    df = spark.range(0, 500).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"), F.lit(1).alias("one")
    )
    seq = {r["k"]: r["seq"] for r in global_sequence(df, ["k"]).collect()}
    pfx = {r["k"]: r["running_total"] for r in running_total(df, ["k"], "one").collect()}
    assert pfx == {k: s - 1 for k, s in seq.items()}


# ------------------------------------------------------------ salted join

def test_salted_join_equals_plain_join(spark):
    import pytest

    from crawler_spark.operators.skew import salted_join

    # skewed fact: one hot key owns 80% of rows
    fact = spark.range(0, 500).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 5 < 4, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
    )
    dim = spark.createDataFrame([("hot", 1), ("weird", 3)], "k: string, attr: int")
    plain = {tuple(r) for r in fact.join(dim, "k").select("rid", "k", "attr").collect()}
    for n in (1, 7, 16):
        got = {
            tuple(r)
            for r in salted_join(fact, dim, ["k"], ["rid"], n_salts=n)
            .select("rid", "k", "attr")
            .collect()
        }
        assert got == plain, f"salted inner join diverged at n_salts={n}"
    # left join: unmatched fact keys ('cold') survive exactly once
    plain_l = {
        tuple(r)
        for r in fact.join(dim, "k", "left").select("rid", "k", "attr").collect()
    }
    got_l = {
        tuple(r)
        for r in salted_join(fact, dim, ["k"], ["rid"], n_salts=8, how="left")
        .select("rid", "k", "attr")
        .collect()
    }
    assert got_l == plain_l
    # right/full would duplicate unmatched dim rows across salts: refuse
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(fact, dim, ["k"], ["rid"], how="right")


def test_salted_join_spreads_hot_key(spark):
    """The point of the salt: a hot key's fact rows must land in more
    than one (key, salt) bucket."""
    from crawler_spark.operators.skew import SALT_COL, salted_join

    fact = spark.range(0, 200).select(
        F.col("id").alias("rid"), F.lit("hot").alias("k")
    )
    dim = spark.createDataFrame([("hot", 1)], "k: string, attr: int")
    joined = salted_join(fact, dim, ["k"], ["rid"], n_salts=16)
    assert SALT_COL not in joined.columns  # salt never leaks to output
    import pyspark.sql.functions as SF

    n_buckets = (
        fact.withColumn(
            SALT_COL, SF.pmod(SF.xxhash64("rid"), SF.lit(16))
        )
        .select(SALT_COL)
        .distinct()
        .count()
    )
    assert n_buckets >= 12, "200 hashed rows should hit most of 16 salt buckets"


# =====================================================================
# Cuckoo-filter seen-set arm (operators/dedup_cuckoo.py) — the same
# battery as the Bloom arm above, plus deletion (the cuckoo-only op)
# =====================================================================
import numpy as np

from crawler_spark.operators import dedup_cuckoo as DC


def test_cuckoo_incremental_state_equivalence(spark):
    state = spark.createDataFrame([], DC.FILTER_STATE_SCHEMA)
    seen_batches = [
        spark.range(0, 3000, 3).select(F.col("id").alias("url_hash")),
        spark.range(1, 3000, 3).select(F.col("id").alias("url_hash")),
    ]
    seen_all = seen_batches[0].unionByName(seen_batches[1])
    for b in seen_batches:
        state = DC.update_seen_filters(state, b, n_parts=8)
    state = state.persist()
    assert state.count() >= 8
    cands = spark.range(0, 3000).select(
        F.col("id").alias("url_hash"), (F.col("id") * 7).alias("payload")
    )
    got = sorted(
        r["url_hash"]
        for r in DC.anti_join_seen_partitioned(cands, seen_all, state, n_parts=8).collect()
    )
    assert got == list(range(2, 3000, 3))
    state.unpersist()


def test_cuckoo_epoch_growth(spark):
    state = spark.createDataFrame([], DC.FILTER_STATE_SCHEMA)
    for lo in range(0, 30000, 10000):
        batch = spark.range(lo, lo + 10000).select(F.col("id").alias("url_hash"))
        state = DC.update_seen_filters(state, batch, n_parts=2).persist()
        state.count()
    rows = state.collect()
    assert {r["part_id"] for r in rows} == {0, 1}
    assert sum(r["n_keys"] for r in rows) == 30000
    seen = spark.range(0, 30000).select(F.col("id").alias("url_hash"))
    cands = spark.range(0, 40000).select(F.col("id").alias("url_hash"))
    got = DC.anti_join_seen_partitioned(cands, seen, state, n_parts=2).count()
    assert got == 10000
    state.unpersist()


def test_cuckoo_same_round_collision_not_refetched(spark):
    seen_prev = spark.range(0, 1000, 2).select(F.col("id").alias("url_hash"))
    state = DC.update_seen_filters(
        spark.createDataFrame([], DC.FILTER_STATE_SCHEMA), seen_prev, n_parts=4
    ).persist()
    state.count()
    new_seen = spark.createDataFrame([(1001,), (1003,), (1005,)], "url_hash: long")
    cands = spark.createDataFrame(
        [(1001,), (1003,), (4,), (7,)], "url_hash: long"
    ).withColumn("payload", F.col("url_hash") * 2)
    got = sorted(
        r["url_hash"]
        for r in DC.anti_join_seen_with_delta(
            cands, seen_prev, new_seen, state, n_parts=4
        ).collect()
    )
    assert got == [7]
    state.unpersist()


def test_cuckoo_absent_state_degrades_to_exact(spark):
    seen = spark.range(0, 100).select(F.col("id").alias("url_hash"))
    cands = spark.range(0, 200).select(F.col("id").alias("url_hash"))
    empty_state = spark.createDataFrame([], DC.FILTER_STATE_SCHEMA)
    got = sorted(
        r["url_hash"]
        for r in DC.anti_join_seen_partitioned(cands, seen, empty_state, n_parts=4).collect()
    )
    assert got == list(range(100, 200))
    partial = DC.update_seen_filters(
        empty_state, seen.filter(F.pmod("url_hash", F.lit(4)) == 0), n_parts=4
    )
    got = sorted(
        r["url_hash"]
        for r in DC.anti_join_seen_partitioned(cands, seen, partial, n_parts=4).collect()
    )
    assert got == list(range(100, 200))


def test_cuckoo_nparts_mismatch_degrades_to_exact(spark):
    seen = spark.range(0, 100).select(F.col("id").alias("url_hash"))
    cands = spark.range(0, 200).select(F.col("id").alias("url_hash"))
    state8 = DC.update_seen_filters(
        spark.createDataFrame([], DC.FILTER_STATE_SCHEMA), seen, n_parts=8
    ).persist()
    state8.count()
    got = sorted(
        r["url_hash"]
        for r in DC.anti_join_seen_partitioned(cands, seen, state8, n_parts=4).collect()
    )
    assert got == list(range(100, 200))
    state8.unpersist()


def test_cuckoo_delete_unsees_keys(spark):
    """The cuckoo-only operation: delete stale keys from the filter AND
    the exact seen table (recrawl invalidation) — those candidates come
    back, everything else stays deduped, no collateral damage."""
    seen = spark.range(0, 2000, 2).select(F.col("id").alias("url_hash"))
    state = DC.update_seen_filters(
        spark.createDataFrame([], DC.FILTER_STATE_SCHEMA), seen, n_parts=4
    ).persist()
    state.count()
    stale = spark.range(0, 2000, 20).select(F.col("id").alias("url_hash"))  # ⊂ seen
    state2 = DC.delete_keys(state, stale, n_parts=4).persist()
    state2.count()
    seen2 = seen.join(stale, "url_hash", "left_anti")
    cands = spark.range(0, 2000).select(F.col("id").alias("url_hash"))
    got = sorted(
        r["url_hash"]
        for r in DC.anti_join_seen_partitioned(cands, seen2, state2, n_parts=4).collect()
    )
    expect = sorted(set(range(1, 2000, 2)) | set(range(0, 2000, 20)))
    assert got == expect
    # key-count bookkeeping survives the delete
    assert sum(r["n_keys"] for r in state2.collect()) == seen2.count()
    state.unpersist()
    state2.unpersist()


def test_cuckoo_kernel_no_false_negatives_and_fpp():
    """Kernel invariants without Spark: every inserted key is found
    (even under eviction-chain rollback on a deliberately tiny table),
    and the false-positive rate is far below the Bloom arm's ~1%."""
    rng = np.random.default_rng(11)
    keys = np.unique(rng.integers(-(2**62), 2**62, size=30000, dtype=np.int64))
    m = DC._n_buckets_for(len(keys))
    t = np.zeros((m, DC._SLOTS), dtype=np.uint16)
    left = DC._insert_with_undo(t, keys)
    assert not left.any()
    assert DC._lookup(t, keys).all()
    others = np.setdiff1d(
        rng.integers(-(2**62), 2**62, size=100000, dtype=np.int64), keys
    )
    assert DC._lookup(t, others).mean() < 0.002
    # overfilled tiny table: leftovers reported, no inserted key lost
    tiny = np.zeros((64, DC._SLOTS), dtype=np.uint16)
    left = DC._insert_with_undo(tiny, keys[:400])
    assert left.any()
    assert DC._lookup(tiny, keys[:400][~left]).all()


def test_pruned_exact_verify_equivalence_and_partition_filters(spark, tmp_path):
    """With the Hive-partitioned url_seen layout, the maybe-survivors'
    exact anti-join prunes the seen scan to the hit partitions — result
    identical to the unpruned join, and the scan plan carries a
    PartitionFilters entry on seen_part."""
    n_parts = 8
    seen_path = str(tmp_path / "url_seen")
    (
        spark.range(0, 5000, 2)
        .select(F.col("id").alias("url_hash"), F.lit(1).alias("first_round"))
        .withColumn("seen_part", D.part_id_col("url_hash", n_parts))
        .write.partitionBy("seen_part")
        .parquet(seen_path)
    )
    seen = spark.read.parquet(seen_path)
    state = D.update_seen_filters(
        spark.createDataFrame([], D.FILTER_STATE_SCHEMA),
        seen.select("url_hash"),
        n_parts=n_parts,
    ).persist()
    state.count()
    # candidates concentrated in two partitions + a spread of new keys
    cands = spark.range(0, 5000).select(F.col("id").alias("url_hash")).filter(
        (F.pmod("url_hash", F.lit(n_parts)) < 2) | (F.col("url_hash") % 2 == 1)
    )
    plain = sorted(
        r["url_hash"]
        for r in D.anti_join_seen_partitioned(
            cands, seen, state, n_parts, prune_seen_parts=False
        ).collect()
    )
    pruned_df = D.anti_join_seen_partitioned(
        cands, seen, state, n_parts, prune_seen_parts=True
    )
    pruned = sorted(r["url_hash"] for r in pruned_df.collect())
    assert pruned == plain
    # cuckoo arm shares the helper — same equivalence
    cstate = DC.update_seen_filters(
        spark.createDataFrame([], DC.FILTER_STATE_SCHEMA),
        seen.select("url_hash"),
        n_parts=n_parts,
    ).persist()
    cstate.count()
    cpruned = sorted(
        r["url_hash"]
        for r in DC.anti_join_seen_partitioned(
            cands, seen, cstate, n_parts, prune_seen_parts=True
        ).collect()
    )
    assert cpruned == plain
    # the pruned seen scan is partition-filtered (static pruning via isin)
    probe = D.prune_seen_to_maybe_parts(
        seen, cands.limit(50), n_parts
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "seen_part" in plan
    state.unpersist()
    cstate.unpersist()


def test_rfc_robots_matches_python_reference(spark):
    """Batch-random equivalence vs an independent pure-Python RFC 9309
    reference: 400 generated paths × per-host random rule sets (seeded)
    — covers the rule-interaction space far beyond the handcrafted
    pins (overlapping wildcards, multiple ties, anchor-vs-prefix races)."""
    import random
    import re as _re

    rng = random.Random(9309)
    seg = lambda: rng.choice(["a", "b", "cat", "img", "x.y", "p1"])

    def mk_pattern():
        parts = ["/" + seg() for _ in range(rng.randint(1, 3))]
        p = "".join(parts)
        if rng.random() < 0.4:
            i = rng.randint(1, len(p) - 1)
            p = p[:i] + "*" + p[i:]
        if rng.random() < 0.3:
            p += rng.choice(["?", "?id=", "+x", "(v)"])  # live-metachar octets
        if rng.random() < 0.3:
            p += "$"
        return p

    hosts = [f"h{i}" for i in range(5)]
    rules = []
    for h in hosts[:-1]:  # last host rule-less
        for _ in range(rng.randint(1, 6)):
            rules.append((h, rng.choice(["allow", "disallow"]), mk_pattern()))
    paths = []
    for i in range(400):
        p = "".join("/" + seg() for _ in range(rng.randint(1, 4)))
        if rng.random() < 0.3:
            p += rng.choice([".pdf", ".html", ""])
        if rng.random() < 0.3:
            p += rng.choice(["?id=7", "?", "+x", "(v)"])
        paths.append((i, rng.choice(hosts), p))

    def py_match(path, pattern):
        anchored = pattern.endswith("$")
        body = pattern[:-1] if anchored else pattern
        rx = "^" + _re.escape(body).replace(r"\*", ".*") + ("$" if anchored else "")
        return _re.search(rx, path) is not None

    def py_verdict(host, path):
        best = None
        for h, t, p in rules:
            if h == host and py_match(path, p):
                cand = (len(p), 1 if t == "allow" else 0)
                best = cand if best is None else max(best, cand)
        return (True, 0) if best is None else (best[1] == 1, best[0])

    cand = spark.createDataFrame(paths, "id: long, host: string, path: string")
    rdf = spark.createDataFrame(rules, "host string, rule_type string, pattern string")
    out = {
        r["id"]: (r["allowed"], r["match_len"])
        for r in R.rfc_robots_verdict(cand, rdf, ["id"]).collect()
    }
    for i, h, p in paths:
        assert out[i] == py_verdict(h, p), (i, h, p, out[i], py_verdict(h, p))


def test_pruned_anti_join_registers_probe_cache_for_unpersist(spark):
    """The pruned path persists its probe frame so the eager part-list
    collect doesn't run the filter pipeline twice; the operator must
    register that frame in the caller-supplied ``unpersist_into`` list
    AT PERSIST TIME (the explicit hand-off that replaced the fragile
    ``_probe_cache`` attribute, r3 ADVICE) — in BOTH filter arms, and
    through the with-delta wrapper's extra join."""
    from pyspark.sql import functions as F

    from crawler_spark.operators import dedup as D
    from crawler_spark.operators import dedup_cuckoo as DC

    seen = spark.range(0, 200, 2).select(
        F.col("id").alias("url_hash"),
        F.pmod("id", F.lit(8)).cast("int").alias("seen_part"),
    )
    cands = spark.range(0, 200).select(F.col("id").alias("url_hash"))
    empty_new = spark.range(0).select(F.col("id").alias("url_hash"))
    for M in (D, DC):
        filters = M.update_seen_filters(
            spark.createDataFrame([], M.FILTER_STATE_SCHEMA),
            seen.select("url_hash"),
            n_parts=8,
        )
        registry: list = []
        out = M.anti_join_seen_with_delta(
            cands, seen, empty_new, filters, n_parts=8,
            prune_seen_parts=True, unpersist_into=registry,
        )
        assert len(registry) == 1, M.__name__
        assert registry[0].is_cached, M.__name__
        assert sorted(r["url_hash"] for r in out.collect()) == list(range(1, 200, 2))
        for df in registry:
            df.unpersist()


def test_anti_join_collect_arm_gated_at_scale(spark, monkeypatch):
    """VERDICT r3 item 6: above the broadcast-bytes cap the bootstrap
    collect arm must route through the executor-side cogroup probe —
    same exact result, no driver blob collect.  Forcing the cap to 0
    exercises the gated path on the small fixture."""
    from pyspark.sql import functions as F

    from crawler_spark.operators import dedup as D

    seen = spark.range(0, 300, 3).select(F.col("id").alias("url_hash"))
    cands = spark.range(0, 300).select(F.col("id").alias("url_hash"))
    filters = D.build_seen_filters(seen, n_parts=8)
    expected = sorted(
        r["url_hash"]
        for r in D.anti_join_seen(cands, seen, None).collect()
    )
    monkeypatch.setattr(D, "_BROADCAST_BLOBS_MAX_BYTES", 0)
    gated = sorted(
        r["url_hash"]
        for r in D.anti_join_seen(cands, seen, filters, n_parts=8).collect()
    )
    assert gated == expected


def _verify_images_df(spark, n=40):
    from crawler_spark import images as I

    rows = []
    for k in range(n):
        px = I.gen_pixels(42, k, 16, 12)
        rows.append((f"img-{k:012d}", bytearray(I.encode_image(px, "png")),
                     "png", 16, 12, I.phash64(px)))
    return spark.createDataFrame(
        rows, "image_id: string, bytes: binary, fmt: string, w: int, h: int, phash: long"
    )


def test_verify_rows_verdicts(spark):
    """Every valid payload passes the gate (lossless PNG: exact pixels,
    infinite PSNR); a NULL payload gets NULL/NULL."""
    from crawler_spark.operators import fetch as FE

    df = _verify_images_df(spark)
    full = {r["image_id"]: r for r in FE.verify_rows(df).collect()}
    assert len(full) == 40
    assert all(r["phash_ok"] and r["psnr_db"] == float("inf") for r in full.values())
    # a missing-image row (NULL payload and metadata) gets NULL/NULL,
    # and sharing an Arrow batch with it must not change the other
    # rows' verdicts
    missing = spark.createDataFrame(
        [("img-000000000041", None, None, None, None, None)], df.schema
    )
    mixed = {
        r["image_id"]: (r["psnr_db"], r["phash_ok"])
        for r in FE.verify_rows(df.unionByName(missing).coalesce(1)).collect()
    }
    assert mixed.pop("img-000000000041") == (None, None)
    assert mixed == {k: (r["psnr_db"], r["phash_ok"]) for k, r in full.items()}


def test_verify_rows_corrupt_bytes_are_a_verdict(spark):
    """Corrupt payload bytes raise inside the codec contract
    (ValueError / NotImplementedError), which the gate records as
    phash_ok=False with no PSNR — the row survives."""
    from crawler_spark.operators import fetch as FE

    df = spark.createDataFrame(
        [
            ("img-000000000001", bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 20), "png"),
            ("img-000000000002", bytearray(b"\xff\xd8\xff\x00garbage"), "jpeg"),
            ("img-000000000003", bytearray(b"not an image"), "png"),
        ],
        "image_id: string, bytes: binary, fmt: string",
    ).selectExpr("*", "16 AS w", "12 AS h", "CAST(7 AS BIGINT) AS phash")
    out = FE.verify_rows(df).collect()
    assert len(out) == 3
    assert all(r["phash_ok"] is False and r["psnr_db"] is None for r in out)


def test_verify_rows_bad_metadata_fails_the_job(spark):
    """A payload row whose dimensions are NULL is a broken image row,
    not a codec verdict: the gate must fail the job rather than fold
    it into phash_ok=False."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from crawler_spark.operators import fetch as FE

    good = _verify_images_df(spark, n=2)
    bad = good.limit(1).selectExpr(
        "'img-000000000009' AS image_id", "bytes", "fmt",
        "CAST(NULL AS INT) AS w", "h", "phash",
    )
    with pytest.raises((PythonException, Py4JJavaError), match="NaN"):
        FE.verify_rows(good.unionByName(bad)).collect()


def test_extract_results_carries_image_side_verdict(spark):
    """The verdict computed on the image side reaches results through
    the image_id left join: a present image carries its verdict, a
    missing image or a NULL payload gives NULL/NULL."""
    from crawler_spark.operators import fetch as FE

    images = _verify_images_df(spark, n=2).unionByName(
        spark.createDataFrame(
            [("img-000000000005", None, "png", 16, 12, 1)],
            "image_id: string, bytes: binary, fmt: string, w: int, h: int, phash: long",
        )
    ).withColumn("caption", F.lit("c"))
    pages = spark.createDataFrame(
        [(11, "h0", "flat", 1, [0, 1, 5, 7], ["1 zł"] * 4,
          ["https://h0/o/a.html"] * 4, ["2"] * 4, ["30"] * 4, ["9"] * 4)],
        "url_hash: long, domain: string, schema_name: string, "
        "schema_version: int, listing_ids: array<int>, "
        "listing_prices: array<string>, listing_links: array<string>, "
        "listing_rooms: array<string>, listing_areas: array<string>, "
        "listing_totals: array<string>",
    )
    res = FE.extract_results(pages, FE.verify_rows(images), round_no=1)
    assert res.columns[-2:] == ["psnr_db", "phash_ok"]
    got = {r["image_id"]: (r["psnr_db"], r["phash_ok"]) for r in res.collect()}
    assert got == {
        "img-000000000000": (float("inf"), True),
        "img-000000000001": (float("inf"), True),
        "img-000000000005": (None, None),
        "img-000000000007": (None, None),
    }
    # without the gate the columns are absent, not NULL
    assert "psnr_db" not in FE.extract_results(pages, images, round_no=1).columns
