"""End-to-end crawl: Spark engine ≡ pure-Python golden model, + resume.

The north_rule gate: identical crawl ordering (dispatch log) and
identical final URL-seen set under the same seed list + politeness
budget.  Fixtures are generated once into tmp parquet; both sides read
the same files.  One full engine run is shared across assertions (each
run is dozens of Spark jobs).
"""

from __future__ import annotations

import os

import pytest

from crawler_spark import fixtures as FX
from crawler_spark import schemas as S
from crawler_spark.engine import CrawlConfig, CrawlEngine
from crawler_spark.golden import run_golden
from crawler_spark.operators import frontier as FR
from crawler_spark.sinks import StateStore

BUDGET = 4
MAX_ROUNDS = 40


@pytest.fixture(scope="module")
def fixture_paths(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("web"))
    return FX.write_fixtures(spark, out, n_seeds=10, n_hosts=6, n_images=200)


def _make_engine(spark, fixture_paths, root, cfg):
    store = StateStore(spark, root)
    return store, CrawlEngine(
        spark,
        store,
        web_pages=spark.read.parquet(fixture_paths["web_pages"]),
        web_images=spark.read.parquet(fixture_paths["web_images"]),
        robots=spark.read.parquet(fixture_paths["robots"]),
        config=cfg,
    )


@pytest.fixture(scope="module")
def full_run(spark, fixture_paths, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("state-full"))
    cfg = CrawlConfig(base_budget=BUDGET, max_rounds=MAX_ROUNDS)
    store, engine = _make_engine(spark, fixture_paths, root, cfg)
    history = engine.run(spark.read.parquet(fixture_paths["seeds"]))
    return store, history


@pytest.fixture(scope="module")
def golden(fixture_paths):
    return run_golden(
        fixture_paths["seeds"],
        fixture_paths["web_pages"],
        fixture_paths["robots"],
        base_budget=BUDGET,
        max_rounds=MAX_ROUNDS,
    )


def _spark_outputs(store):
    log = sorted(
        (r["round"], r["seq"], r["url_hash"])
        for r in store.read("dispatch_log").select("round", "seq", "url_hash").collect()
    )
    seen = {
        r["url_hash"]: r["first_round"]
        for r in store.read("url_seen", S.URL_SEEN).select("url_hash", "first_round").collect()
    }
    return log, seen


def test_crawl_order_matches_golden(full_run, golden):
    store, _ = full_run
    log, _ = _spark_outputs(store)
    assert log == sorted(golden.dispatch_log), "crawl ordering differs from golden"
    assert len(log) > 20


def test_url_seen_matches_golden(full_run, golden):
    store, _ = full_run
    _, seen = _spark_outputs(store)
    assert seen == golden.seen, "URL-seen set differs from golden"


def test_result_rows_match_golden(full_run, golden):
    store, _ = full_run
    n = store.read("results").count()
    assert n == golden.n_results
    assert n > 0


def test_results_split_by_schema_matches_golden(full_run, golden):
    """P2 dual projection: per-variant result counts match the golden
    model, and variant-specific columns are NULL exactly for the other
    variant (flat: rooms, no total_price; office: total_price per the
    office_crawler per-m² + total selectors, no rooms)."""
    from pyspark.sql import functions as F

    store, _ = full_run
    res = store.read("results")
    counts = {r["schema_name"]: r["n"] for r in res.groupBy("schema_name").agg(
        F.count("*").alias("n")).collect()}
    assert counts == golden.n_results_by_schema
    assert set(counts) == {"flat", "office"}
    flat = res.filter(F.col("schema_name") == "flat")
    office = res.filter(F.col("schema_name") == "office")
    assert flat.filter(F.col("total_price_digits").isNotNull()).count() == 0
    assert office.filter(F.col("rooms_digits").isNotNull()).count() == 0
    assert office.filter(F.col("total_price_digits").isNotNull()).count() > 0
    # rooms mostly non-null ("kawalerka" legitimately extracts to "")
    assert flat.filter(F.col("rooms_digits").isNotNull()).count() > 0
    # area extracted for both variants
    assert res.filter(F.col("area_digits").isNull()).count() == 0


def test_schema_metadata_table(full_run, golden):
    """A2/S4: one schema row per (schema_group, schema_name,
    schema_version), first-writer-wins across rounds (ON CONFLICT DO
    NOTHING), written in the round the key first produced results."""
    import json

    store, _ = full_run
    rows = store.read("schemas").collect()  # no explicit schema → keep `round`
    keys = {(r["schema_group"], r["schema_name"], r["schema_version"]) for r in rows}
    assert keys == set(golden.schema_keys)
    assert len(rows) == len(keys), "duplicate schema rows: conflict-insert broken"
    for r in rows:
        k = (r["schema_group"], r["schema_name"], r["schema_version"])
        assert r["round"] == golden.schema_keys[k]
        fields = json.loads(r["schema_json"])
        names = [f["name"] for f in fields]
        if r["schema_name"] == "office":
            assert "total_price" in names and "rooms" not in names
        else:
            assert "rooms" in names and "total_price" not in names


def test_results_partition_pruning(full_run):
    """The results table's Hive layout (round/schema_name/schema_version,
    mirroring storage/handler.go:103) actually prunes: a per-schema read
    touches only that schema's files."""
    from pyspark.sql import functions as F

    store, _ = full_run
    res = store.read("results")  # partition cols from dir layout
    # input_file_name() is runtime truth: the files a pruned scan touched
    flat_files = [
        r[0]
        for r in res.filter(res.schema_name == "flat")
        .select(F.input_file_name())
        .distinct()
        .collect()
    ]
    assert flat_files, "no files scanned"
    assert all("schema_name=flat" in f for f in flat_files)
    # and the physical plan carries the partition filter (Catalyst pruning)
    plan = res.filter(res.schema_name == "flat")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "schema_name" in plan.split("PartitionFilters", 1)[1][:200]


def test_row_invariants_gate(full_run):
    """input_hint per-row invariant, checked in-engine (verify_rows):
    phash equality for every payload; PSNR ≥ 40 dB for lossy, exact
    (inf) for lossless PNG."""
    from pyspark.sql import functions as F

    store, _ = full_run
    res = store.read("results")
    bad = res.filter(~F.col("phash_ok") | (F.col("psnr_db") < 40.0)).count()
    assert bad == 0
    lossless_min = (
        res.filter(F.col("fmt") == "png").agg(F.min("psnr_db")).first()[0]
    )
    assert lossless_min == float("inf")


def test_image_side_verdict_equals_per_row_verify(full_run):
    """Verify-once is an optimisation, not a semantic change: every
    results row carries exactly the verdict the per-row gate computes
    over that row's own payload columns."""
    from pyspark.sql import functions as F

    from crawler_spark.operators import fetch as FE

    store, _ = full_run
    res = store.read("results")
    per_row = FE.verify_rows(
        res.withColumnRenamed("psnr_db", "_stored_psnr")
        .withColumnRenamed("phash_ok", "_stored_ok"),
        CrawlConfig().image_seed,
    )
    differ = per_row.filter(
        ~F.col("psnr_db").eqNullSafe(F.col("_stored_psnr"))
        | ~F.col("phash_ok").eqNullSafe(F.col("_stored_ok"))
    ).count()
    assert res.count() > 0
    assert differ == 0


def test_results_write_stays_parallel(full_run):
    """Regression guard: the results write must keep the upstream
    extract+decode pipeline parallel — a coalesce(1) here would pull
    the round's dominant compute into a single task (observed: flat
    scaling across core counts)."""
    import glob
    import os

    store, _ = full_run
    first_round = sorted(
        d for d in os.listdir(os.path.join(store.root, "results")) if d.startswith("round=")
    )[0]
    parts = glob.glob(
        os.path.join(store.root, "results", first_round, "**", "part-*"), recursive=True
    )
    assert len(parts) >= 2, "results written by a single task"


def test_metrics_lineage(full_run):
    store, _ = full_run
    m = store.read("metrics").orderBy("round").collect()
    assert m[0]["message"] == "bootstrap"
    assert any(r["message"] == "saga completed" for r in m)
    assert sum(r["n_dispatched"] for r in m) == store.read("dispatch_log").count()
    assert sum(r["n_fetched"] for r in m) == store.read("url_seen", S.URL_SEEN).count()


def test_single_seed_reference_mode(spark, fixture_paths, tmp_path):
    """G7 pin: the reference processes exactly one seed per run."""
    cfg = CrawlConfig(base_budget=BUDGET, max_rounds=MAX_ROUNDS, seed_limit=1)
    store, engine = _make_engine(spark, fixture_paths, str(tmp_path / "s1"), cfg)
    engine.run(spark.read.parquet(fixture_paths["seeds"]))
    g = run_golden(
        fixture_paths["seeds"],
        fixture_paths["web_pages"],
        fixture_paths["robots"],
        base_budget=BUDGET,
        max_rounds=MAX_ROUNDS,
        seed_limit=1,
    )
    log, seen = _spark_outputs(store)
    assert log == sorted(g.dispatch_log)
    assert seen == g.seen


def test_bloom_filter_path_equivalence(spark, fixture_paths, tmp_path, full_run, golden):
    """Engine with the incremental partitioned-filter prefilter engaged
    from round 1 (bloom_min_keys=1) produces the identical dispatch log
    and URL-seen set — the prefilter may never change semantics."""
    full_store, _ = full_run
    cfg = CrawlConfig(
        base_budget=BUDGET,
        max_rounds=MAX_ROUNDS,
        bloom_min_keys=1,
        bloom_parts=8,
        # tight compaction cadence: exercises base+delta reconstruction
        # across several compaction boundaries in one equivalence run
        frontier_compact_every=3,
    )
    store, engine = _make_engine(spark, fixture_paths, str(tmp_path / "bloom"), cfg)
    engine.run(spark.read.parquet(fixture_paths["seeds"]))
    assert _spark_outputs(store) == _spark_outputs(full_store)
    # the filter state is actually maintained
    import crawler_spark.operators.dedup as D
    st = store.read("seen_filters", D.FILTER_STATE_SCHEMA, rewrite=True)
    assert st.count() > 0
    assert sum(r["n_keys"] for r in st.collect()) == len(golden.seen)


def test_steady_rounds_never_read_tail(spark, fixture_paths, tmp_path, monkeypatch):
    """Scale pin: between compactions the engine touches ONLY the
    per-host top-K head — read_frontier (the O(|frontier|) tail
    reconstruction) must not run on steady rounds.  With a compaction
    cadence beyond max_rounds, the whole run after bootstrap performs
    zero tail reads."""
    calls = {"n": 0}
    orig = StateStore.read_frontier

    def counting(self, schema):
        calls["n"] += 1
        return orig(self, schema)

    monkeypatch.setattr(StateStore, "read_frontier", counting)
    cfg = CrawlConfig(base_budget=BUDGET, max_rounds=5, frontier_compact_every=50)
    store, engine = _make_engine(spark, fixture_paths, str(tmp_path / "steady"), cfg)
    history = engine.run(spark.read.parquet(fixture_paths["seeds"]))
    assert len(history) == 5 and sum(h["n_dispatched"] for h in history) > 0
    assert calls["n"] == 0, "steady-state round read the full frontier tail"


def test_repeated_crawl_compiles_no_new_code(spark, fixture_paths, tmp_path):
    """Per-round fixed cost: the whole-stage-codegen classes a crawl's
    rounds generate stay in Spark's codegen cache, which get_spark sizes
    above the crawl's working set, so a second identical crawl in the
    same session compiles nothing.  With Spark's default 100-entry cache
    each round evicts the previous round's classes and every crawl
    compiles them all again."""
    compilations = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def crawl(name):
        cfg = CrawlConfig(base_budget=BUDGET, max_rounds=3, frontier_compact_every=2)
        _, engine = _make_engine(spark, fixture_paths, str(tmp_path / name), cfg)
        before = compilations.getCount()
        history = engine.run(spark.read.parquet(fixture_paths["seeds"]))
        for df in (engine.web_pages, engine.web_images, engine.robots):
            df.unpersist()
        assert len(history) == 3
        return compilations.getCount() - before

    assert crawl("first") > 0
    assert crawl("second") == 0


def test_head_resize_refill_equivalence(spark, fixture_paths, tmp_path, full_run):
    """Resuming under a DIFFERENT compaction cadence changes head_k;
    the stored head is then mis-sized for the new config and the engine
    must force an immediate refill — the crawl order and seen set stay
    identical to the uninterrupted reference run."""
    full_store, _ = full_run
    root = str(tmp_path / "resize")
    store, engine = _make_engine(
        spark, fixture_paths, root,
        CrawlConfig(base_budget=BUDGET, max_rounds=4, frontier_compact_every=8),
    )
    engine.run(spark.read.parquet(fixture_paths["seeds"]))
    _, engine2 = _make_engine(
        spark, fixture_paths, root,
        CrawlConfig(base_budget=BUDGET, max_rounds=MAX_ROUNDS, frontier_compact_every=3),
    )
    engine2.run(resume=True)
    assert _spark_outputs(store) == _spark_outputs(full_store)


def test_checkpoint_resume_equivalence(spark, fixture_paths, tmp_path, full_run):
    """Interrupt after round 2 (with crash debris), resume → identical
    final state to the uninterrupted run (north_star resumability)."""
    full_store, _ = full_run
    part_root = str(tmp_path / "part")
    store, engine = _make_engine(
        spark, fixture_paths, part_root, CrawlConfig(base_budget=BUDGET, max_rounds=2)
    )
    engine.run(spark.read.parquet(fixture_paths["seeds"]))
    assert store.committed_round() == 2
    # fake crash debris: half-written round 3
    debris = os.path.join(part_root, "results", "round=3")
    os.makedirs(debris, exist_ok=True)
    with open(os.path.join(debris, "part-corrupt.parquet"), "wb") as f:
        f.write(b"\x00garbage")

    _, engine2 = _make_engine(
        spark, fixture_paths, part_root, CrawlConfig(base_budget=BUDGET, max_rounds=MAX_ROUNDS)
    )
    engine2.run(resume=True)
    assert _spark_outputs(store) == _spark_outputs(full_store)
    assert store.read("results").count() == full_store.read("results").count()


def test_cuckoo_filter_path_equivalence(spark, fixture_paths, tmp_path, full_run, golden):
    """filter_kind="cuckoo" engaged from round 1 produces the identical
    dispatch log and URL-seen set as the default run — the north rule
    names "bloom/cuckoo URL-seen" and both arms are exact-verified."""
    full_store, _ = full_run
    cfg = CrawlConfig(
        base_budget=BUDGET,
        max_rounds=MAX_ROUNDS,
        filter_kind="cuckoo",
        bloom_min_keys=1,
        bloom_parts=8,
        frontier_compact_every=3,
    )
    store, engine = _make_engine(spark, fixture_paths, str(tmp_path / "cuckoo"), cfg)
    engine.run(spark.read.parquet(fixture_paths["seeds"]))
    assert _spark_outputs(store) == _spark_outputs(full_store)
    from crawler_spark.operators import dedup_cuckoo as DC

    st = store.read("seen_filters", DC.FILTER_STATE_SCHEMA, rewrite=True)
    assert st.count() > 0
    assert sum(r["n_keys"] for r in st.collect()) == len(golden.seen)


def test_filter_kind_switch_rebuilds_state(spark, fixture_paths, tmp_path, full_run):
    """Resume a bloom-state crawl with filter_kind="cuckoo": the other-
    kind blobs must be invalidated (probing bloom bitsets as cuckoo
    tables would corrupt dedup), the full seen set refolded into clean
    cuckoo state, and the final outputs stay identical."""
    full_store, _ = full_run
    root = str(tmp_path / "switch")
    store, engine = _make_engine(
        spark,
        fixture_paths,
        root,
        CrawlConfig(
            base_budget=BUDGET, max_rounds=2, bloom_min_keys=1, bloom_parts=8
        ),
    )
    engine.run(spark.read.parquet(fixture_paths["seeds"]))
    assert store.committed()["stats"]["filters_kind"] == "bloom"

    _, engine2 = _make_engine(
        spark,
        fixture_paths,
        root,
        CrawlConfig(
            base_budget=BUDGET,
            max_rounds=MAX_ROUNDS,
            filter_kind="cuckoo",
            bloom_min_keys=1,
            bloom_parts=8,
        ),
    )
    engine2.run(resume=True)
    assert store.committed()["stats"]["filters_kind"] == "cuckoo"
    assert _spark_outputs(store) == _spark_outputs(full_store)
    # the rebuilt state is complete cuckoo state covering the whole seen set
    from crawler_spark.operators import dedup_cuckoo as DC

    st = store.read("seen_filters", DC.FILTER_STATE_SCHEMA, rewrite=True)
    seen_n = store.read("url_seen", S.URL_SEEN).count()
    assert sum(r["n_keys"] for r in st.collect()) == seen_n


def test_time_travel_reads_match_golden_prefix(spark, full_run, golden):
    """Iceberg-parity snapshot time travel: as_of=k reads every table
    exactly as committed at round k.  Append tables are checked against
    the golden model truncated at k; the rewrite head table against the
    later-round view being different; bad snapshot ids raise."""
    store, _ = full_run
    final = store.committed_round()
    assert store.snapshots() == list(range(0, final + 1))
    k = min(3, final - 1)
    log_k = sorted(
        (r["round"], r["seq"], r["url_hash"])
        for r in store.read("dispatch_log", as_of=k)
        .select("round", "seq", "url_hash")
        .collect()
    )
    assert log_k == sorted(t for t in golden.dispatch_log if t[0] <= k)
    assert log_k != sorted(golden.dispatch_log)  # the prefix is proper
    seen_k = {
        r["url_hash"]: r["first_round"]
        for r in store.read("url_seen", S.URL_SEEN, as_of=k).collect()
    }
    assert seen_k == {h: r for h, r in golden.seen.items() if r <= k}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        store.read("url_seen", S.URL_SEEN, as_of=final + 1)
    with _pytest.raises(ValueError):
        store.read_frontier(S.FRONTIER, as_of=-2)


def test_time_travel_frontier_matches_live_capture(spark, fixture_paths, tmp_path):
    """read_frontier(as_of=k) after the full run reproduces bit-for-bit
    what read_frontier() returned LIVE right after round k committed —
    across compaction boundaries (compact_every=2 inside a 5-round run).
    """
    root = str(tmp_path / "tt")
    cfg = CrawlConfig(base_budget=BUDGET, max_rounds=5, frontier_compact_every=2)
    store, engine = _make_engine(spark, fixture_paths, root, cfg)
    engine.bootstrap(spark.read.parquet(fixture_paths["seeds"]))
    live = {}

    def _tail_rows(df):
        return sorted(tuple(r) for r in df.select(*FR.FRONTIER_COLS).collect())

    live[0] = _tail_rows(store.read_frontier(S.FRONTIER))
    for r in range(1, 6):
        stats = engine.run_round(r)
        live[r] = _tail_rows(store.read_frontier(S.FRONTIER))
        if stats["n_dispatched"] == 0:
            break
    for k, rows in live.items():
        assert _tail_rows(store.read_frontier(S.FRONTIER, as_of=k)) == rows
    # heads too (rewrite-table time travel)
    head_final = store.read("frontier_head", S.FRONTIER, rewrite=True)
    head_k0 = store.read("frontier_head", S.FRONTIER, rewrite=True, as_of=0)
    assert _tail_rows(head_k0) != _tail_rows(head_final) or len(live) == 1


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_recrawl_invalidate_and_refetch(spark, fixture_paths, tmp_path, kind):
    """End-to-end recrawl loop: crawl to exhaustion, recrawl() three
    stale seed URLs (one admin commit: un-see + re-enqueue), resume —
    exactly those three re-dispatch, everything else stays deduped,
    and the filter state survives (cuckoo: O(delta) fingerprint
    deletes; bloom: full refold — both paths exercised with the
    prefilter engaged from round 1)."""
    from pyspark.sql import functions as F

    root = str(tmp_path / f"recrawl-{kind}")
    cfg = CrawlConfig(
        base_budget=BUDGET,
        max_rounds=MAX_ROUNDS,
        filter_kind=kind,
        bloom_min_keys=1,
        bloom_parts=8,
    )
    store, engine = _make_engine(spark, fixture_paths, root, cfg)
    engine.run(spark.read.parquet(fixture_paths["seeds"]))
    final = store.committed_round()

    head0 = store.read("frontier_head", S.FRONTIER, rewrite=True, as_of=0)
    stale = head0.orderBy("url_hash").limit(3)
    want = {r["url_hash"] for r in stale.select("url_hash").collect()}
    cand = stale.select(
        "url", "seed_id", "domain", "schema_name", "schema_version", "priority", "page"
    )
    res = engine.recrawl(cand)
    assert res == {"round": final + 1, "n_invalidated": 3, "n_enqueued": 3}
    # recrawl of the same keys again is a no-op next time (still queued,
    # but already un-seen): invalidation count drops to zero
    res2 = engine.recrawl(cand)
    assert res2["n_invalidated"] == 0 and res2["n_enqueued"] == 0

    cfg2 = CrawlConfig(
        base_budget=BUDGET,
        max_rounds=res2["round"] + 4,
        filter_kind=kind,
        bloom_min_keys=1,
        bloom_parts=8,
    )
    _, engine2 = _make_engine(spark, fixture_paths, root, cfg2)
    engine2.run(resume=True)

    post = store.read("dispatch_log").filter(F.col("round") > res2["round"])
    got = {r["url_hash"] for r in post.select("url_hash").collect()}
    assert got == want, "exactly the recrawled URLs re-dispatch"
    # the re-fetch re-seeds the live seen set at the later round
    live = {
        r["url_hash"]: r["first_round"]
        for r in engine2._read_seen().collect()
    }
    for h in want:
        assert live[h] > res2["round"]
    # and the pagination expansions of the re-fetched seed pages stayed
    # deduped (no collateral re-fetch) — checked by `got == want` above;
    # the seen count bookkeeping round-trips back to the original
    assert int(store.committed()["stats"]["seen_count"]) == len(live)


def test_partitioned_url_seen_layout_equivalence(spark, fixture_paths, tmp_path, full_run):
    """partition_url_seen=True with pruning forced on from round 1:
    identical dispatch log and URL-seen set as the default run; the
    url_seen round dirs carry the seen_part Hive layout, the layout is
    recorded in the checkpoint, and a resume (even with the flag off)
    keeps writing it."""
    full_store, _ = full_run
    root = str(tmp_path / "pseen")
    cfg = CrawlConfig(
        base_budget=BUDGET,
        max_rounds=2,
        partition_url_seen=True,
        seen_prune_min_keys=1,
        bloom_min_keys=1,
        bloom_parts=8,
    )
    store, engine = _make_engine(spark, fixture_paths, root, cfg)
    engine.run(spark.read.parquet(fixture_paths["seeds"]))
    assert store.committed()["stats"]["url_seen_parts"] == 8
    d1 = os.path.join(root, "url_seen", "round=1")
    assert any(x.startswith("seen_part=") for x in os.listdir(d1))

    # resume with the flag OFF: layout must persist (checkpoint-carried)
    _, engine2 = _make_engine(
        spark,
        fixture_paths,
        root,
        CrawlConfig(
            base_budget=BUDGET,
            max_rounds=MAX_ROUNDS,
            partition_url_seen=False,
            seen_prune_min_keys=1,
            bloom_min_keys=1,
            bloom_parts=8,
        ),
    )
    engine2.run(resume=True)
    assert store.committed()["stats"]["url_seen_parts"] == 8
    later = [
        d
        for d in os.listdir(os.path.join(root, "url_seen"))
        if d.startswith("round=") and int(d.split("=")[1]) > 2
    ]
    def _layout_ok(d):
        entries = os.listdir(os.path.join(root, "url_seen", d))
        has_data = any(e.startswith("seen_part=") or e.endswith(".parquet") for e in entries)
        # rounds with zero fetches write no partition dirs at all — fine;
        # any round WITH data must use the seen_part layout
        return (not has_data) or any(e.startswith("seen_part=") for e in entries)

    assert later and all(_layout_ok(d) for d in later)
    assert _spark_outputs(store) == _spark_outputs(full_store)


def test_admin_round_preserves_stored_head_sizing(spark, fixture_paths, tmp_path):
    """enqueue() under a CHANGED config must not stamp the new head_k
    into the checkpoint: an admin round never refills the head from the
    tail, so stamping would disarm run_round's config-change refill
    guard and the next rounds would dispatch from an undersized head."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "admin-headk")
    store, engine = _make_engine(
        spark, fixture_paths, root,
        CrawlConfig(base_budget=BUDGET, max_rounds=2, frontier_compact_every=8),
    )
    engine.run(spark.read.parquet(fixture_paths["seeds"]))
    assert store.committed()["stats"]["head_k"] == BUDGET * 8

    _, engine2 = _make_engine(
        spark, fixture_paths, root,
        CrawlConfig(base_budget=BUDGET, max_rounds=4, frontier_compact_every=16),
    )
    fresh = spark.read.parquet(fixture_paths["seeds"]).withColumn(
        "url", F.concat("url", F.lit("?late=1"))
    )
    res = engine2.enqueue(fresh)
    assert res["n_enqueued"] > 0
    # the admin commit still carries the OLD sizing → the guard stays armed
    assert store.committed()["stats"]["head_k"] == BUDGET * 8
    # ... and the next crawl round performs the real refill under the new one
    engine2.run(resume=True)
    assert store.committed()["stats"]["head_k"] == BUDGET * 16


def test_admin_round_does_not_stretch_compaction_cadence(spark, fixture_paths, tmp_path):
    """Compaction counts rounds SINCE THE LAST compaction, not
    round_no % cadence: an admin round consuming a cadence-multiple
    round number must not push the next refill a full extra cycle out."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "admin-cadence")
    cfg = CrawlConfig(base_budget=BUDGET, max_rounds=2, frontier_compact_every=3)
    store, engine = _make_engine(spark, fixture_paths, root, cfg)
    engine.run(spark.read.parquet(fixture_paths["seeds"]))  # rounds 1-2
    assert store.committed()["stats"]["last_compact_round"] == 0

    fresh = spark.read.parquet(fixture_paths["seeds"]).withColumn(
        "url", F.concat("url", F.lit("?late=1"))
    )
    engine.enqueue(fresh)  # admin round 3 — the round the modulo form needed
    _, engine2 = _make_engine(
        spark, fixture_paths, root,
        CrawlConfig(base_budget=BUDGET, max_rounds=4, frontier_compact_every=3),
    )
    engine2.run(resume=True)  # crawl round 4: 4 − 0 ≥ 3 → compacts NOW
    assert store.committed()["stats"]["last_compact_round"] == 4


def test_admin_round_first_does_not_disable_seen_partitioning(
    spark, fixture_paths, tmp_path
):
    """partition_url_seen must key off 'nothing written yet', not
    'round_no == 1': an enqueue() that consumes round 1 before the first
    crawl round must not silently disable the Hive seen_part layout."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "admin-pseen")
    cfg = CrawlConfig(
        base_budget=BUDGET,
        max_rounds=3,
        partition_url_seen=True,
        seen_prune_min_keys=1,
        bloom_min_keys=1,
        bloom_parts=8,
    )
    store, engine = _make_engine(spark, fixture_paths, root, cfg)
    engine.bootstrap(spark.read.parquet(fixture_paths["seeds"]))
    fresh = spark.read.parquet(fixture_paths["seeds"]).withColumn(
        "url", F.concat("url", F.lit("?late=1"))
    )
    res = engine.enqueue(fresh)  # admin round takes round number 1
    assert res["round"] == 1 and res["n_enqueued"] > 0
    engine.run(resume=True)  # first crawl round is 2
    assert store.committed()["stats"]["url_seen_parts"] == 8
    d2 = os.path.join(root, "url_seen", "round=2")
    assert any(x.startswith("seen_part=") for x in os.listdir(d2))


def test_store_ignores_stray_round_dirs(spark, tmp_path):
    """A stray non-numeric ``round=...`` dir (editor/tmp debris) must be
    ignored by every store read path — not crash reads, base-round
    resolution, or vacuum."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from crawler_spark.sinks import StateStore

    root = str(tmp_path / "stray")
    st = StateStore(spark, root)
    sch = T.StructType([T.StructField("x", T.LongType())])
    st.write_partition("metrics", 0, spark.range(5).select(F.col("id").alias("x")), 1)
    st.commit(0, {})
    os.makedirs(os.path.join(root, "metrics", "round=tmpjunk"))
    os.makedirs(os.path.join(root, "frontier_base", "round=abc"))
    assert st.read("metrics", sch).count() == 5
    assert st._latest_base_round(0) == -1
    st.vacuum_uncommitted()  # must not raise on the stray dirs
    assert st.committed()["round"] == 0


def test_seed_last_compact_legacy_checkpoint():
    """Legacy checkpoints (no last_compact_round stat) resume on the
    modulo schedule instead of compacting immediately (r3 ADVICE)."""
    from crawler_spark.engine import _seed_last_compact

    # stored stat wins verbatim
    assert _seed_last_compact({"last_compact_round": 13}, 20, 8) == 13
    # legacy: round 21 under cadence 8 -> last modulo compaction was 16;
    # 21 - 16 < 8, so the first resumed round does NOT compact
    assert _seed_last_compact({}, 21, 8) == 16
    assert 21 - _seed_last_compact({}, 21, 8) < 8
    # boundary: exactly on the legacy schedule -> compaction still fires
    assert _seed_last_compact({}, 17, 8) == 16
    assert _seed_last_compact({}, 24, 8) == 16
    assert 24 - _seed_last_compact({}, 24, 8) >= 8
    # first rounds never see a negative seed
    assert _seed_last_compact({}, 1, 8) == 0
