"""Physical-plan property pins — the scale guarantees that don't show
up in row-level correctness tests:

- the politeness robots join is a broadcast join (small dim side);
- no per-row Python UDFs or RDD usage anywhere in the package (W5 /
  input_hint: vectorized pandas/Arrow UDFs only);
- scalar extraction stays inside whole-stage codegen (JVM expressions,
  not Python).
"""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_per_row_python_or_rdd_in_package():
    """The input_hint rule, pinned: vectorized pandas/Arrow UDFs only —
    no row-at-a-time Python UDFs, no RDD API drops."""
    root = pathlib.Path(__file__).resolve().parents[1] / "crawler_spark"
    offenders = []
    for p in sorted(root.rglob("*.py")):
        text = p.read_text()
        if re.search(r"\bF\.udf\s*\(|\budf\s*\(\s*lambda|\.rdd\b|sparkContext\.parallelize", text):
            offenders.append(str(p))
    assert not offenders, f"per-row Python / RDD usage in: {offenders}"


def test_politeness_robots_join_is_broadcast(spark):
    from crawler_spark.operators.politeness import rank_with_budget

    frontier = spark.createDataFrame(
        [("https://h0/a", 1, "h0", 0, 0)],
        "url: string, url_hash: long, host: string, page: int, priority: int",
    )
    robots = spark.createDataFrame(
        [("h0", "", 100)], "host: string, disallow_prefix: string, crawl_delay_ms: int"
    )
    plan = _plan(rank_with_budget(frontier, robots))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_scalar_extraction_is_codegen(spark):
    """ExtractNumber/TakeChractersBefore compile to JVM expressions under
    WholeStageCodegen — no Python evaluation node in the plan."""
    from crawler_spark.operators.extract import extract_number, take_before

    df = spark.createDataFrame([("1 100 zł /mc", "x.html#a")], "p: string, l: string")
    plan = _plan(df.select(extract_number("p"), take_before("l", ".html")))
    # "*(n)" node prefix == inside a WholeStageCodegen span
    assert "*(1) Project" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_documents_scan_prunes_columns(spark, sf_dir):
    """Column pruning must reach the parquet scan: a 2-column text
    query over `documents` (5 columns on disk) reads ONLY those two —
    at 100 TB the difference is scanning the table vs scanning 40% of
    it."""
    from crawler_spark import contract as C

    plan = _plan(C.q_token_count(spark, sf_dir))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    m = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    assert m, scan
    cols = sorted(f.split(":")[0] for f in m.group(1).split(",") if f)
    assert cols == ["doc_id", "text"], scan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """Skip-filter predicates must appear as PushedFilters on the
    events scan (row-group pruning), not only as a post-scan Filter."""
    from crawler_spark import contract as C

    plan = _plan(C.q_filter_nonempty(spark, sf_dir))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PushedFilters: [IsNotNull(" in scan, scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    cols = sorted(f.split(":")[0] for f in m.group(1).split(",") if f)
    # event_id/event_type projected; event_type/props scanned for the filter
    assert cols == ["event_id", "event_type", "props"], scan


def test_anti_join_dedup_no_cartesian(spark):
    """The URL-seen anti-join must plan as a hash/broadcast anti join,
    never a nested-loop/cartesian product."""
    from crawler_spark.operators import dedup as D

    cands = spark.range(1000).select(F.col("id").alias("url_hash"))
    seen = spark.range(500).select(F.col("id").alias("url_hash"))
    plan = _plan(D.anti_join_seen(cands, seen, None))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_join_is_semi_hash_join(spark, sf_dir):
    """q_semi_join must plan as a real LeftSemi hash join — existence
    via semi join never multiplies rows and never materializes the
    probe side's payload columns into the shuffle."""
    from crawler_spark import contract as C

    plan = _plan(C.q_semi_join(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_is_hash_join(spark):
    """The salted join must stay an equi hash join on (key, salt) —
    the dim-side explode must not degrade it to a nested loop."""
    from crawler_spark.operators.skew import salted_join

    fact = spark.range(1000).select(
        F.col("id").alias("rid"), (F.col("id") % 3).cast("string").alias("k")
    )
    dim = spark.createDataFrame([("0", 1), ("1", 2)], "k: string, attr: int")
    plan = _plan(salted_join(fact, dim, ["k"], ["rid"], n_salts=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan and ("SortMergeJoin" in plan or "HashJoin" in plan), plan


def test_pivot_pinned_values_single_shuffle(spark, sf_dir):
    """The pinned-value pivot compiles to ONE partial+final aggregate
    pair around ONE hash exchange — no distinct-scan job for the value
    list and no second shuffle."""
    from crawler_spark import contract as C

    plan = _plan(C.q_pivot(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_rollup_one_pass(spark, sf_dir):
    """ROLLUP is one Expand + one shuffle — NOT three unioned groupBy
    jobs (that's the anti-pattern it replaces)."""
    from crawler_spark import contract as C

    plan = _plan(C.q_rollup(spark, sf_dir))
    assert "Expand" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Union" not in plan


def test_histogram_scan_prunes_to_value(spark, sf_dir):
    """The profiling histogram reads ONLY the value column (1 of 6) and
    combines map-side (partial HashAggregate before the exchange)."""
    from crawler_spark import contract as C

    plan = _plan(C.q_histogram(spark, sf_dir))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    m = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    cols = sorted(f.split(":")[0] for f in m.group(1).split(",") if f)
    assert cols == ["value"], scan
    assert plan.count("HashAggregate") >= 2, plan


def test_robots_gate_is_broadcast_join(spark, sf_dir):
    """q_robots_gate's rule join must broadcast the rule table — a
    robots ruleset is O(hosts), never worth a shuffle of the candidate
    set."""
    from crawler_spark import contract as C

    plan = _plan(C.q_robots_gate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_robots_rfc_gate_broadcasts_rules(spark, sf_dir):
    """The RFC 9309 matcher's rule join must broadcast (rules are
    O(hosts)); the only candidate exchanges are the winner aggregate
    and its key-join reuse — never a shuffle to meet the rule table."""
    from crawler_spark import contract as C

    plan = _plan(C.q_robots_rfc_gate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_crawl_delay_schedule_single_shuffle(spark, sf_dir):
    """The dispatch-schedule plan is ONE host shuffle feeding the
    per-host window; the robots/delay side joins broadcast (no second
    exchange of the frontier)."""
    from crawler_spark import contract as C

    plan = _plan(C.q_crawl_delay_schedule(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bigram_topk_no_self_join(spark, sf_dir):
    """Bigrams are built inside the token array (zip_with over slices)
    — the plan must contain NO join (the posexplode self-join
    anti-pattern shuffles the corpus twice) and must combine map-side."""
    from crawler_spark import contract as C

    plan = _plan(C.q_bigram_topk(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_lm_score_scan_prunes_and_hash_joins(spark, sf_dir):
    """q_lm_score reads ONLY (doc_id, text) from documents and its
    vocabulary join is a hash/sort-merge equi join — never a nested
    loop over the exploded corpus."""
    from crawler_spark import contract as C

    plan = _plan(C.q_lm_score(spark, sf_dir))
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            m = re.search(r"ReadSchema: struct<([^>]*)>", line)
            cols = sorted(f.split(":")[0] for f in m.group(1).split(",") if f)
            # the vocabulary-count branch prunes doc_id away entirely
            assert set(cols) <= {"doc_id", "text"}, line
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "HashJoin" in plan, plan


def test_anchor_text_pruned_scan_two_shuffles(spark, sf_dir):
    """Anchor-text top-k reads ONLY (p_partkey, p_name), combines the
    term counts map-side, and needs exactly two exchanges: one for the
    (target, term) count, one for the per-target ranking window."""
    from crawler_spark import contract as C

    plan = _plan(C.q_anchor_text(spark, sf_dir))
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            m = re.search(r"ReadSchema: struct<([^>]*)>", line)
            cols = sorted(f.split(":")[0] for f in m.group(1).split(",") if f)
            assert set(cols) <= {"p_partkey", "p_name"}, line
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan


def test_content_sniff_is_codegen_binary(spark, sf_dir):
    """Magic-byte sniffing runs entirely as JVM expressions over the
    BinaryType column — no Python evaluation node, no join, scan
    pruned to p_partkey."""
    from crawler_spark import contract as C

    plan = _plan(C.q_content_sniff(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Join" not in plan, plan
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            m = re.search(r"ReadSchema: struct<([^>]*)>", line)
            cols = sorted(f.split(":")[0] for f in m.group(1).split(",") if f)
            assert cols == ["p_partkey"], line


def test_chunk_dedup_keeper_shuffle_has_no_text(spark, sf_dir):
    """Span dedup's keeper aggregate must combine map-side (partial
    before the exchange) and its exchange must carry only the md5 key
    + (doc_id, pos) — the span text is projected away before it.  No
    window over the corpus, no cartesian."""
    from crawler_spark import contract as C

    plan = _plan(C.q_chunk_dedup(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    # partial min(struct) keeper: two aggregate nodes around an exchange
    assert plan.count("SortAggregate") + plan.count("ObjectHashAggregate") >= 2, plan


def test_trap_detect_single_aggregation_no_join(spark, sf_dir):
    """Trap detection is one narrow projection + one combiner-backed
    groupBy(host): no join at all, scan pruned to the two key columns."""
    from crawler_spark import contract as C

    plan = _plan(C.q_trap_detect(spark, sf_dir))
    assert "Join" not in plan, plan
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            m = re.search(r"ReadSchema: struct<([^>]*)>", line)
            cols = sorted(f.split(":")[0] for f in m.group(1).split(",") if f)
            assert set(cols) <= {"o_custkey", "o_orderkey"}, line


def test_source_quality_mean_join_is_broadcast(spark, sf_dir):
    """The per-source mean (one row per source) must broadcast back to
    the docs — a shuffled join here would re-exchange the whole corpus
    for a dimension of O(sources) rows."""
    from crawler_spark import contract as C

    plan = _plan(C.q_source_quality(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_pii_scrub_is_pure_codegen_projection(spark, sf_dir):
    """PII scrubbing is a single narrow JVM projection: no shuffle, no
    join, no Python evaluation node."""
    from crawler_spark import contract as C

    plan = _plan(C.q_pii_scrub(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_recrawl_schedule_one_shuffle_window_then_agg(spark, sf_dir):
    """Recrawl scheduling shuffles the history ONCE by url_id; the lag
    window and the final aggregate reuse that partitioning (no second
    exchange of the events table)."""
    from crawler_spark import contract as C

    plan = _plan(C.q_recrawl_schedule(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_domain_cap_one_shuffle_pruned_scan(spark, sf_dir):
    """Domain capping is one shuffle by source feeding the ranking
    window; the scan reads only (doc_id, source, text)."""
    from crawler_spark import contract as C

    plan = _plan(C.q_domain_cap(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            m = re.search(r"ReadSchema: struct<([^>]*)>", line)
            cols = sorted(f.split(":")[0] for f in m.group(1).split(",") if f)
            assert cols == ["doc_id", "source", "text"], line


def test_crawl_budget_total_join_is_broadcast(spark, sf_dir):
    """The global rank-sum (one row) must broadcast back onto the rank
    table — never a shuffled join, never a cartesian over hosts."""
    from crawler_spark import contract as C

    plan = _plan(C.q_crawl_budget(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_decontaminate_eval_grams_broadcast(spark, sf_dir):
    """The eval-gram table must broadcast — the corpus side streams
    through a map-side hash join, never a shuffled gram join."""
    from crawler_spark import contract as C

    plan = _plan(C.q_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_weighted_sample_one_shuffle(spark, sf_dir):
    """Weighted sampling is one shuffle by source feeding the ranking
    window — the priority key is computed map-side."""
    from crawler_spark import contract as C

    plan = _plan(C.q_weighted_sample(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_inverted_index_two_exchanges_no_cartesian(spark, sf_dir):
    """Inverted-index construction needs exactly two term exchanges
    (exact-df branch; window+capped-collect branch, whose groupBy and
    join reuse the window's partitioning) and never a nested loop."""
    from crawler_spark import contract as C

    plan = _plan(C.q_inverted_index(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_cluster_canonical_keeper_is_aggregate_not_window(spark, sf_dir):
    """The canonical keeper must be the combinable max(struct) — no
    ranking window over cluster members in the final selection (the
    connected-components stage may window internally, but the keeper
    aggregate appears as a hash/object aggregate keyed on component)."""
    from crawler_spark import contract as C

    plan = _plan(C.q_cluster_canonical(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert (
        "SortAggregate" in plan
        or "ObjectHashAggregate" in plan
        or "HashAggregate" in plan
    ), plan


def test_mirror_hosts_no_cartesian_broadcast_totals(spark, sf_dir):
    """Mirror detection self-joins ONLY on the shingle hash (equi-join,
    never a cartesian over sources), and the O(sources) totals table
    broadcasts back for the containment score instead of re-shuffling
    the pair table."""
    from crawler_spark import contract as C

    plan = _plan(C.q_mirror_hosts(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_repetition_ratio_pruned_scan_bounded_shuffles(spark, sf_dir):
    """q_repetition_ratio reads ONLY (doc_id, text) from documents; the
    dup-token half is array-local (no shuffle of its own), so the whole
    plan carries at most the (doc_id,bigram) count, the per-doc
    re-aggregate, and the join-back — and the bigram construction must
    stay inside the array (no posexplode self-join)."""
    from crawler_spark import contract as C

    plan = _plan(C.q_repetition_ratio(spark, sf_dir))
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            m = re.search(r"ReadSchema: struct<([^>]*)>", line)
            cols = sorted(f.split(":")[0] for f in m.group(1).split(",") if f)
            assert set(cols) <= {"doc_id", "text"}, line
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_incremental_neardup_broadcasts_the_delta(spark, sf_dir):
    """The incremental probe's band join must BROADCAST the increment
    side (a crawl round's delta is small next to the corpus index) —
    the corpus banded keys are probed map-side, never shuffled into a
    sort-merge join against the delta."""
    from crawler_spark import contract as C

    plan = _plan(C.q_incremental_neardup(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_url_canon_full_is_pure_projection(spark, sf_dir):
    """RFC 3986 normalization is a narrow per-row rewrite: the plan
    must be scan → project inside whole-stage codegen — ANY exchange
    here would mean the canonicalizer shuffles 10^10 URLs to rewrite
    strings."""
    from crawler_spark import contract as C

    plan = _plan(C.q_url_canon_full(spark, sf_dir))
    assert "Exchange" not in plan, plan
    # higher-order fns (array_sort's comparator lambda) opt the project
    # out of whole-stage codegen, but it must stay a JVM projection —
    # never a Python evaluation node
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.lstrip().startswith("Project"), plan


def test_substring_dedup_no_cartesian_single_gram_key(spark, sf_dir):
    """The duplicated-gram join must be an equi-join on the int64 gram
    hash (never cartesian/nested-loop), and the count side must carry a
    partial aggregate so a corpus-wide boilerplate gram folds map-side
    before the exchange."""
    from crawler_spark import contract as C

    plan = _plan(C.q_substring_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final count(gh)


def _physical_nodes(plan) -> list:
    """Physical operators of an executed plan, descending through AQE
    wrappers and query stages but NOT into a cached relation
    (InMemoryTableScan is a leaf: its cached plan is an inner child)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return [plan] + _physical_nodes(plan.executedPlan())
    if name.endswith("QueryStage"):
        return [plan] + _physical_nodes(plan.plan())
    kids = plan.children()
    return [plan] + [n for i in range(kids.size()) for n in _physical_nodes(kids.apply(i))]


def test_round_results_verify_only_inside_cached_images(spark, tmp_path, monkeypatch):
    """The payload gate runs once per distinct image: a round's results
    plan evaluates no Python UDF outside the cached image relation,
    which itself carries the gate's ArrowEvalPython."""
    from crawler_spark import fixtures as FX
    from crawler_spark.engine import CrawlConfig, CrawlEngine
    from crawler_spark.sinks import StateStore

    fx = FX.write_fixtures(spark, str(tmp_path / "web"), n_seeds=4, n_hosts=3, n_images=20)
    store = StateStore(spark, str(tmp_path / "state"))
    captured = {}
    write = StateStore.write_partition

    def capture(self, table, round_no, df, *a, **kw):
        if table == "results":
            captured[round_no] = df
        return write(self, table, round_no, df, *a, **kw)

    monkeypatch.setattr(StateStore, "write_partition", capture)
    eng = CrawlEngine(
        spark, store,
        web_pages=spark.read.parquet(fx["web_pages"]),
        web_images=spark.read.parquet(fx["web_images"]),
        robots=spark.read.parquet(fx["robots"]),
        config=CrawlConfig(base_budget=2, max_rounds=1),
    )
    try:
        eng.run(spark.read.parquet(fx["seeds"]))
        nodes = _physical_nodes(captured[1]._jdf.queryExecution().executedPlan())
        names = [n.nodeName() for n in nodes]
        assert not any("EvalPython" in n for n in names), names
        # the gate lives in exactly one cached relation: the image frame
        gated = [
            n for n in nodes
            if n.nodeName() == "InMemoryTableScan"
            and "ArrowEvalPython" in n.relation().cachedPlan().toString()
        ]
        assert len(gated) == 1, names
    finally:
        for df in (eng.web_pages, eng.web_images, eng.robots):
            df.unpersist()
