"""The crawl engine: a driver loop of deterministic batch rounds.

Each round re-expresses the reference's orchestrator saga
(otodom/orchestrator/handler.go:23-77, traced in SURVEY.md §3.1) as one
Spark dataflow:

    frontier ──politeness window──▶ dispatch ──⋈ web──▶ fetched
       │  deferred                      │seq (global order)   │
       ▼                                ▼                     ▼
    next frontier ◀── merge ◀── expansion(new pages)   ok / retry / dead
       ▲                 │anti-join seen (Bloom-prefiltered)   │
       └─────────────────┴──────────── retries ◀───────────────┘
    writes: results + url_seen + dispatch_log + metrics + dead
    then ONE atomic checkpoint commit (snapshot isolation / resume).

Round structure mirrors the reference's cron-tick batch model
(stack.yml:16,46,76,104 — SURVEY.md §1.5): not an always-on stream but
re-runnable batch rounds with exactly-once state commits.

Determinism guarantee (north_rule "identical crawl ordering"): every
ordering decision derives from the total key (priority, page, url_hash)
— never from timestamps, partition order or monotonically_increasing_id
— so the dispatch log is bit-identical at any parallelism.

Physical-plan discipline (the part that matters at 10^10 URLs):

- every frame that is both written and counted is persisted FIRST and
  materialized by ONE fully-parallel job (ok.count()), then ALL sink
  writes run concurrently from cache — no write recomputes upstream
  lineage, and none pays for materializing it through a narrow plan;
- the payload gate (decode, phash, PSNR) runs once per distinct
  image, on the image side of the results join: the engine's one
  cached ``web_images`` frame carries the verdict columns, filled
  lazily by the first round job that reads it (building an engine
  runs no job), and the verdict reaches ``results`` through the
  image_id join.  No Python UDF runs in a round's results plan
  outside that cached frame;
- the fetch/extract chain is repartitioned with an EXPLICIT partition
  count after the fetch join: its cost is per row, not per byte, and
  AQE's byte-based coalescing would otherwise fold a politeness-bounded
  (byte-small) round into one task.  The count is sized from the EXACT
  dispatch count (pages_per_task pages/task, capped at
  max_tasks_per_core) and keyed by url_hash — maximal salting, so hot
  hosts spread uniformly and no straggler tail gates wide parallelism
  (politeness.spread_partition);
- the frontier is split into a per-host top-K HEAD (the working set
  the politeness window ranks each round — O(hosts × K), rewritten per
  round) and a TAIL (base snapshot + demotion add-deltas + dispatch
  del-deltas, sinks.read_frontier) that is read and re-split only at
  compaction refills — steady-state rounds never read, shuffle, or
  write anything O(|frontier|).  K = base_budget × compact cadence is
  exactly sufficient for no host to starve between refills, so the
  dispatch order equals the full-frontier spec (golden-pinned);
- small state tables (dispatch_log, url_seen, dead, metrics) are
  written with a file count derived from row counts — no 32-file
  directories for 100-row rounds, no single-file bottleneck at scale;
- the web/robots tables are cached once per engine (they are reread
  2×/round × N rounds otherwise);
- the URL-seen prefilter is ADAPTIVE: below ``bloom_min_keys`` the
  plain anti-join wins (tiny build side, broadcast by AQE); above it
  the partitioned filter state kicks in, maintained INCREMENTALLY
  (cogroup fold of the round's new keys — never an O(|seen|) rebuild,
  never a driver collect; operators/dedup.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schemas as S
from .canon import with_url_identity
from .operators import dedup as D
from .operators import dedup_cuckoo as DC
from .operators import fetch as FE
from .operators import frontier as FR
from .operators import politeness as P
from .operators import robots as R
from .operators.ranking import SMALL_SEQ_MAX_ROWS, global_sequence
from .sinks import StateStore


@dataclass
class CrawlConfig:
    base_budget: int = P.DEFAULT_BASE_BUDGET
    round_ms: int = P.DEFAULT_ROUND_MS
    max_rounds: int = 64
    seed_limit: int | None = None  # reference mode: 1 (G7 single-seed)
    # fetch/extract task granularity: pages per task (the chain's cost
    # is per row — each page explodes into a fixed 24 listings joined
    # to their images) and a tasks-per-core cap so tiny rounds don't
    # fragment.  Finer tasks amortize the straggler tail that gates
    # wide parallelism (see politeness.spread_partition).
    pages_per_task: int = 256
    max_tasks_per_core: int = 12
    # frontier delta log: full-snapshot compaction cadence (rounds)
    frontier_compact_every: int = 8
    use_bloom: bool = True
    # "bloom" (operators/dedup.py) or "cuckoo" (operators/dedup_cuckoo.py,
    # deletable fingerprints — recrawl invalidation without state rebuild).
    # Same three-name contract; semantics identical (exact-verified).
    filter_kind: str = "bloom"
    bloom_parts: int = 64
    bloom_min_keys: int = 500_000  # below this the plain anti-join is cheaper
    # Hive-partition url_seen by seen_part = pmod(url_hash, bloom_parts)
    # so the maybe-survivors' exact anti-join can PRUNE the seen scan to
    # the partitions they hash into (the O(|seen|)-scan fix at 10^10
    # keys).  Store-lifetime choice: set it at bootstrap and never
    # change it (mixed round layouts don't read).  Default off — the
    # per-round pruning job and 64-way write fan-out only pay off at
    # seen counts far beyond the local fixtures.
    partition_url_seen: bool = False
    seen_prune_min_keys: int = 100_000_000
    cache_web: bool = True
    # payload gate (input_hint): decode+phash+PSNR of each distinct
    # image, carried into results as psnr_db/phash_ok
    # (operators/fetch.verify_rows); False omits both columns
    verify_rows: bool = True
    image_seed: int = 42
    run_ts: str = "2026-01-01T00:00:00Z"  # P7: one deterministic stamp per run
    extra: dict = field(default_factory=dict)


def _n_files(rows: int, rows_per_file: int = 500_000) -> int:
    return max(1, (rows + rows_per_file - 1) // rows_per_file)


def _seed_last_compact(prev_stats: dict, round_no: int, cadence: int) -> int:
    """Round of the most recent compaction.  A legacy checkpoint
    (predating the ``last_compact_round`` stat) must NOT default to 0:
    ``round_no - 0 >= cadence`` would force a surprise O(|frontier|)
    refill on the first resumed round of any mature crawl (r3 ADVICE).
    Seed from the modulo schedule the legacy engine actually ran on,
    so upgrade resumes keep the old cadence."""
    stored = prev_stats.get("last_compact_round")
    if stored is not None:
        return int(stored)
    return max(0, (round_no - 1) // cadence * cadence)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: StateStore,
        web_pages: DataFrame,
        web_images: DataFrame,
        robots: DataFrame,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.store = store
        self.cfg = config or CrawlConfig()
        if self.cfg.verify_rows:
            # the verdict is a pure function of one image row, so it is
            # computed image-side, once per payload, and joined into
            # results by image_id.  Lazy: the first round job that reads
            # the cached frame fills it (partitioned as read) — nothing
            # runs here.
            web_images = FE.verify_rows(web_images, self.cfg.image_seed)
        if self.cfg.cache_web:
            # reread twice per round otherwise; robots is broadcast-joined
            # every round, web_images (with its verdict) rescanned by
            # every round's results join.  (At true 10^10 scale web
            # caching is a no-op — .persist() spills/evicts — while the
            # local bench is dominated by rescans without it.)
            web_pages = web_pages.persist()
            robots = robots.persist()
            web_images = web_images.persist()
        self.web_images = web_images
        self.web_pages = web_pages
        self.robots = robots

    # ------------------------------------------------------------ bootstrap
    def bootstrap(self, seeds: DataFrame) -> None:
        """Round 0: seeds → robots gate → initial frontier snapshot."""
        if self.cfg.seed_limit is not None:
            # G7 pin: the reference processes exactly one seed per run
            # (otodom/orchestrator/handler.go:34,74); we generalize to N.
            seeds = seeds.orderBy("seed_id").limit(self.cfg.seed_limit)
        cand = (
            with_url_identity(seeds.select("seed_id", "url", "domain", "schema_name",
                                           "schema_version", "priority"))
            .withColumn("page", F.lit(0))
            .withColumn("round_added", F.lit(0))
            .withColumn("attempts", F.lit(0))
            .select(*FR.FRONTIER_COLS)
        )
        allowed, blocked = R.split_robots(cand, self.robots)
        allowed = FR.dedup_within(allowed).persist()
        n_allowed, n_blocked = allowed.count(), blocked.count()
        # head/tail split from round 0: the per-host top-K working set
        # lives in the (small, rewritten) head table; everything else in
        # the base+delta tail, consulted only at compaction refills
        head, tail = FR.split_head(allowed, self._head_k())
        head = head.persist()
        n_head = head.count()
        self.store.write_partition("frontier_head", 0, head, n_files=_n_files(n_head))
        self.store.write_partition(
            "frontier_base", 0, tail, n_files=_n_files(n_allowed - n_head)
        )
        self._write_metrics(0, n_blocked_robots=n_blocked, message="bootstrap")
        self.store.commit(
            0,
            {
                "frontier_rows": n_allowed,
                "seen_count": 0,
                "head_rows": n_head,
                "head_k": self._head_k(),
                "last_compact_round": 0,
            },
        )
        head.unpersist()
        allowed.unpersist()

    def _head_k(self) -> int:
        """Per-host head size.  The budget dispatches at most
        ``base_budget`` rows per host per round and the head is refilled
        from the tail every ``frontier_compact_every`` rounds, so
        ``base_budget × frontier_compact_every`` rows per host are
        exactly sufficient to never starve a host between refills
        (starvation would deviate from the reference crawl order)."""
        return self.cfg.base_budget * self.cfg.frontier_compact_every

    # ------------------------------------------------------------ one round
    def run_round(self, round_no: int) -> dict:
        """One batch round.  Every written frame is persisted before its
        write so sinks never recompute lineage; stats come from the same
        cached frames (no write-then-reread).

        Thin wrapper: every frame persisted during the round registers
        itself in ``_round_unpersist`` AT PERSIST TIME (including the
        pruned anti-join's probe cache, handed over explicitly via
        ``unpersist_into`` — r3 ADVICE replaced the monkey-patched
        ``_probe_cache`` attribute), and the finally releases them all
        even when the round raises mid-way."""
        _round_unpersist: list = []
        try:
            return self._run_round_impl(round_no, _round_unpersist)
        finally:
            for df in _round_unpersist:
                try:
                    df.unpersist()
                except Exception:
                    pass

    def _run_round_impl(self, round_no: int, _round_unpersist: list) -> dict:
        import os as _os
        import time as _time

        _prof = bool(_os.environ.get("CRAWL_PROFILE"))
        _t0 = _time.perf_counter()

        def _mark(label: str) -> None:
            nonlocal _t0
            if _prof:
                now = _time.perf_counter()
                print(f"    [round {round_no}] {label}: {now - _t0:.2f}s", flush=True)
                _t0 = now

        cfg = self.cfg
        st = self.store
        prev_stats = (st.committed() or {}).get("stats", {})
        seen_count_prev = int(prev_stats.get("seen_count", 0))
        total_prev = int(prev_stats.get("frontier_rows", 0))
        head_prev_rows = int(prev_stats.get("head_rows", total_prev))
        head_k = self._head_k()
        # cadence counts ROUNDS SINCE THE LAST COMPACTION, not
        # round_no % cadence: admin rounds consume round numbers without
        # refilling, so the modulo form could stretch the gap between
        # refills to 2×cadence−1 dispatch rounds against a head sized
        # for `cadence` — per-host starvation the head_rows==0 guard
        # does not catch (it only sees a FULLY empty head).
        last_compact = _seed_last_compact(
            prev_stats, round_no, cfg.frontier_compact_every
        )
        compact = round_no - last_compact >= cfg.frontier_compact_every
        # dispatch ≤ head; below the measured crossover the
        # single-window sequencing path skips the ranged path's extra
        # jobs — above it, the one-task sort of the whole dispatch set
        # costs more serial time than the ranged path's two extra
        # (parallel) jobs.  Numbering is bit-identical either way
        # (pinned); the constant is shared with contract.q_order_by.
        small_dispatch = head_prev_rows < SMALL_SEQ_MAX_ROWS

        # Steady-state rounds touch ONLY the head (per-host top-K
        # working set, O(hosts × K)) — never the full frontier.  The
        # tail (base snapshot + demotion deltas) is read once per
        # compaction cycle, at refill.  head_k sizing guarantees a
        # host's head cannot run dry between refills under a stable
        # config; the guard below covers config changes across resumes
        # (smaller budget/cadence → stored head under-sized) by forcing
        # an immediate refill + compaction.
        head = st.read("frontier_head", S.FRONTIER, rewrite=True)
        tail_live = None
        need_refill = prev_stats.get("head_k") != head_k or (
            head_prev_rows == 0 and total_prev > 0
        )
        if need_refill:
            # the refill pool = stored head ∪ reconstructed tail; the
            # WHOLE pool (not just the tail) feeds the end-of-round
            # compaction below — rows of the stored head that miss the
            # re-sized top-K must flow back into the tail, not vanish.
            # (Head copies that also enter the carry are folded by the
            # compaction's dedup_keys; dispatched ones by the anti-join.)
            tail_live = FR.dedup_keys(
                head.unionByName(st.read_frontier(S.FRONTIER))
            ).persist()
            _round_unpersist.append(tail_live)
            head, _ = FR.split_head(tail_live, head_k)
            compact = True  # rewrite base+head consistently at round end

        ranked = P.rank_with_budget(
            head, self.robots, cfg.base_budget, cfg.round_ms
        ).persist()
        _round_unpersist.append(ranked)
        dispatch = global_sequence(
            ranked.filter(F.col("_dispatch")).drop("_dispatch"),
            P.ORDER_KEYS,
            small=small_dispatch,
        ).persist()
        _round_unpersist.append(dispatch)
        deferred = ranked.filter(~F.col("_dispatch")).drop("_dispatch")

        # The dispatch count is exact and cheap (dispatch is persisted and
        # consumed by four downstream frames anyway), and it sizes the
        # round's dominant stage correctly — a prediction from the
        # previous round under-partitions 5× at the expansion inflection.
        n_dispatch = dispatch.count()
        _mark("materialize_dispatch")

        # Repartition AFTER the fetch join, with an EXPLICIT partition
        # count: the join's own shuffle would otherwise replace any
        # pre-join partitioning, and AQE's byte-based coalescing would
        # then fold the (byte-small, row-expensive) extract+image-join
        # chain into one task — observed as flat scaling across core
        # counts.  Partitioned by url_hash (maximal salt) and sized from
        # the exact dispatch count: pages_per_task-page tasks amortize
        # the straggler tail that otherwise gates wide parallelism.
        par = self.spark.sparkContext.defaultParallelism
        n_parts = max(
            par,
            min(
                par * cfg.max_tasks_per_core,
                -(-n_dispatch // cfg.pages_per_task),
            ),
        )
        fetched = P.spread_partition(
            FE.fetch_closed_world(dispatch, self.web_pages), n_parts
        ).persist()
        _round_unpersist.append(fetched)
        ok, retry, dead = FE.split_fetch_outcomes(fetched)

        # results: extraction over successful pages, image payload and
        # its verdict joined last; written once below (no persist —
        # single consumer), row count derived from the fetch stats (sum
        # of listing sizes)
        results = FE.extract_results(ok, self.web_images, round_no)

        # expansion: successfully fetched SEED pages (page==0) discover pagination
        expansion = R.tag_robots(
            FR.expand_pages(ok.filter(F.col("page") == 0), round_no), self.robots
        ).persist()
        _round_unpersist.append(expansion)
        exp_allowed = FR.dedup_within(expansion.filter(~F.col("_blocked")).drop("_blocked"))

        # seen set grows by this round's successful fetches
        seen_prev = self._read_seen()
        new_seen = ok.select("url_hash", F.lit(round_no).alias("first_round"))
        seen_all = seen_prev.select("url_hash", "first_round").unionByName(new_seen)

        # filter state persisted under a different bloom_parts covers a
        # different key→partition mapping: probing it yields false
        # "definitely new" (double fetch).  The checkpoint records the
        # partition count the state was last written under; a mismatch
        # (or legacy state with none recorded while filters exist)
        # degrades this round to the exact anti-join and refolds the
        # FULL seen set into a clean state below (dedup.py drops the
        # mismatched blobs).
        # url_seen Hive layout: established on the FIRST round that will
        # write seen rows (no layout recorded AND no url_seen partitions
        # committed — "round 1" would silently disable partitioning
        # forever if an admin round consumed that number first, and
        # "seen_count == 0" would re-trigger establishment after a full
        # recrawl invalidation over flat-layout rounds, mixing directory
        # depths under one basePath), then carried via the checkpoint so
        # resumes (under any config) keep writing the SAME layout.
        seen_layout_parts = prev_stats.get("url_seen_parts")
        if (
            seen_layout_parts is None
            and cfg.partition_url_seen
            and not st.has_partitions("url_seen")
        ):
            seen_layout_parts = cfg.bloom_parts
        stored_parts = prev_stats.get("filters_parts")
        # kind mismatch (bloom blobs probed as cuckoo tables or vice versa)
        # is as corrupting as a parts mismatch — same rebuild path.
        stored_kind = prev_stats.get("filters_kind", "bloom")
        FK = D if cfg.filter_kind == "bloom" else DC
        state_valid = (
            stored_parts is not None
            and int(stored_parts) == cfg.bloom_parts
            and stored_kind == cfg.filter_kind
        )
        use_filters = (
            cfg.use_bloom and seen_count_prev >= cfg.bloom_min_keys and state_valid
        )
        if use_filters:
            # Blobs cover seen_prev only; this round's new_seen is checked
            # by a separate exact delta anti-join (see dedup.py docstring —
            # probing seen_all against stale blobs double-fetches same-round
            # collisions).
            filters = st.read("seen_filters", FK.FILTER_STATE_SCHEMA, rewrite=True)
            # partition-pruned exact verify: with the Hive-partitioned
            # url_seen layout, the "maybe seen" survivors' exact anti-join
            # scans only the seen_part partitions they hash into — the
            # O(|url_seen|)-scan-per-round fix for the 10^10-key regime.
            # The extra tiny job (distinct part ids) only pays off once
            # the seen scan dwarfs it, hence the min-keys gate.
            prune_seen = (
                seen_layout_parts == cfg.bloom_parts
                and seen_count_prev >= cfg.seen_prune_min_keys
            )
            fresh = FK.anti_join_seen_with_delta(
                exp_allowed,
                seen_prev,
                new_seen,
                filters,
                cfg.bloom_parts,
                prune_seen_parts=prune_seen,
                unpersist_into=_round_unpersist,
            )
        else:
            fresh = D.anti_join_seen(exp_allowed, seen_all, None)
        # Frontier maintenance, O(head + delta) per steady round:
        # merge the carried-over head rows (deferred + retries) with the
        # round's fresh candidates, keep the per-host top-K as the new
        # head, demote the overflow to the tail's add-delta.  Every tail
        # row sorts after every head row of its host (split invariant),
        # so the next round's top-b dispatch from the head alone equals
        # the full frontier's top-b — the crawl order is unchanged.
        # fresh is deduped against the carried rows exactly as the
        # rewrite model's merge did (already-queued keeps its row); a
        # fresh key colliding with a TAIL key is handled lazily — both
        # copies coexist until the dispatched one's frontier_del kills
        # the other at reconstruction, or refill's dedup_keys folds them.
        carry = deferred.select(*FR.FRONTIER_COLS).unionByName(
            retry.select(*FR.FRONTIER_COLS)
        )
        fresh_new = fresh.select(*FR.FRONTIER_COLS).join(
            carry.select("url_hash"), "url_hash", "left_anti"
        )
        merged = carry.unionByName(fresh_new.select(*FR.FRONTIER_COLS)).persist()
        _round_unpersist.append(merged)
        full = None
        if compact:
            # refill + compaction: reconstruct the tail (minus this
            # round's dispatches — a lazily-duplicated copy must not
            # resurface), fold in the merged head, re-split top-K
            if tail_live is None:
                tail_live = st.read_frontier(S.FRONTIER).persist()
                _round_unpersist.append(tail_live)
            tail_rem = tail_live.join(
                dispatch.select("url_hash"), "url_hash", "left_anti"
            )
            full = FR.dedup_keys(merged.unionByName(tail_rem)).persist()
            _round_unpersist.append(full)
            head_out, base_out = FR.split_head(full, head_k)
            demote = None
        else:
            head_out, demote = FR.split_head(merged, head_k)
            base_out = None

        # schema-metadata sink (A2 + S4's real target): within the round,
        # last-writer-wins per SchemaKey (orchestrator/handler.go:114 —
        # max(seq) is the deterministic "last" of our total dispatch
        # order); across rounds, first-writer-wins idempotent insert
        # (ON CONFLICT DO NOTHING, database/handler.go:54-67) = left_anti
        # against the committed table.
        import json as _json

        schemas_prev = st.read("schemas", S.SCHEMA_META)
        schema_json_map = F.create_map(
            *[
                c
                for name, fields in S.SCHEMA_FIELDS.items()
                for c in (F.lit(name), F.lit(_json.dumps(fields)))
            ]
        )
        new_schemas = (
            ok.groupBy("domain", "schema_name", "schema_version")
            .agg(F.max("seq").alias("_last_seq"))
            .select(F.col("domain").alias("schema_group"), "schema_name", "schema_version")
            .join(
                schemas_prev.select("schema_group", "schema_name", "schema_version"),
                ["schema_group", "schema_name", "schema_version"],
                "left_anti",
            )
            .withColumn(
                "schema_json",
                F.coalesce(
                    F.element_at(schema_json_map, F.col("schema_name")), F.lit("[]")
                ),
            )
            .withColumn(
                "created",
                F.to_timestamp(
                    F.lit(cfg.run_ts.replace("Z", "").replace("T", " "))
                ),
            )
        )

        _mark("plan_build")

        # ---- materialize the ranked→dispatch→fetched cache chain with
        # ONE fully-parallel job (count over the persisted frame) so no
        # write pays for it — the previous barrier (url_seen coalesce(1)
        # written first) pulled the whole chain through a single task.
        n_ok = ok.count()
        _mark("materialize_fetch")
        # ---- materialize the merged head frame the same way: its two
        # consumers below are both coalesced writes, and a coalesce over
        # an UNmaterialized cache serializes the whole merge lineage
        # into one task.  (Sequential after ok.count(): the merge reads
        # retry from the fetched cache.)  The count doubles as the exact
        # file-count/stat input.
        n_merged = (full if compact else merged).count()
        _mark("materialize_merge")

        # ---- all writes concurrent; every input is cache-backed.
        # expansion_log and frontier may race on the expansion cache —
        # worst case the (cheap, cache-backed) explode runs twice.
        # No separate stats job: every per-round metric is recovered
        # afterwards from parquet footers (driver-side, milliseconds).
        from concurrent.futures import ThreadPoolExecutor

        # expansion_log / dispatch_log keep natural partitioning: they are
        # the two larger logs, and a coalesce(1) single-task write of a
        # cached frame is serial time every other core spends idle
        writes = [
            (
                "url_seen",
                new_seen.withColumn(
                    "seen_part", D.part_id_col("url_hash", seen_layout_parts)
                )
                if seen_layout_parts is not None
                else new_seen,
                1,
            ),
            (
                "expansion_log",
                expansion.select(
                    "url_hash", "host", "page", F.col("_blocked").alias("blocked")
                ),
                None,
            ),
            (
                "dispatch_log",
                dispatch.select("seq", "url_hash", "url", "host", "page", "priority"),
                None,
            ),
            # results keeps its natural partitioning: coalesce would
            # propagate up the (uncached) extract lineage and serialize
            # it into one task
            ("results", results, None),
            ("dead", dead.select(*FR.FRONTIER_COLS), 1),
            # head rewrite every round: O(hosts × K), the price of never
            # reading/shuffling the O(|frontier|) tail on steady rounds
            ("frontier_head", head_out, _n_files(n_merged)),
            ("schemas", new_schemas, 1),
        ]
        if compact:
            # base rewrite folds all pending deltas; no add/del needed
            writes.append(("frontier_base", base_out, None))
        else:
            writes.append(("frontier_add", demote, 1))
            writes.append(("frontier_del", dispatch.select("url_hash"), 1))
        wrote_filters = False
        if cfg.use_bloom and (use_filters or seen_count_prev + n_ok >= cfg.bloom_min_keys):
            # maintain the state from the crossing round on (first update
            # folds the whole seen set once; after that only new keys).
            # use_filters=False here also covers the n_parts-mismatch
            # rebuild: the full seen set is refolded into clean state.
            filters_prev = st.read("seen_filters", FK.FILTER_STATE_SCHEMA, rewrite=True)
            if stored_kind != cfg.filter_kind:
                # other-kind blobs share n_parts, so the update fold would
                # keep (and corrupt) them — rebuild from clean state
                filters_prev = filters_prev.limit(0)
            fold_in = new_seen if use_filters else seen_all
            writes.append(
                ("seen_filters", FK.update_seen_filters(filters_prev, fold_in, cfg.bloom_parts), 1)
            )
            wrote_filters = True
        def _timed_write(table, df, n):
            t = _time.perf_counter()
            st.write_partition(table, round_no, df, n)
            return table, _time.perf_counter() - t

        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            futs = [
                pool.submit(_timed_write, table, df, n) for table, df, n in writes
            ]
            per_write = [f.result() for f in futs]
        if _prof:
            for table, sec in sorted(per_write, key=lambda x: -x[1]):
                print(f"    [round {round_no}]   write {table}: {sec:.2f}s", flush=True)
        _mark("writes")

        # ---- per-round metrics from the footers of what was written
        n_dispatched = n_dispatch  # exact (dispatch_log is written from it)
        n_dead = st.partition_row_count("dead", round_no)
        n_results = st.partition_row_count("results", round_no)
        n_candidates = st.partition_row_count("expansion_log", round_no)
        n_retry = n_dispatched - n_ok - n_dead
        n_head = st.partition_row_count("frontier_head", round_no)
        if compact:
            # n_merged counted the full rewritten frontier exactly
            n_frontier = n_merged
            n_fresh = n_frontier - (total_prev - n_dispatched + n_retry)
        else:
            # merged = carry + fresh_new; carry is arithmetic
            carry_rows = head_prev_rows - n_dispatched + n_retry
            n_fresh = n_merged - carry_rows
            n_frontier = total_prev - n_dispatched + n_retry + n_fresh
        n_blocked = 0
        if n_candidates:
            import pyarrow.compute as pc

            n_blocked = int(
                pc.sum(
                    st.read_partition_column("expansion_log", round_no, "blocked").cast(
                        "int64"
                    )
                ).as_py()
                or 0
            )
        n_expanded = n_candidates - n_blocked
        n_deferred = n_frontier - n_retry - n_fresh
        n_deduped = n_expanded - n_fresh
        _mark("footer_stats")

        self._write_metrics(
            round_no,
            n_dispatched=n_dispatched,
            n_fetched=n_ok,
            n_failed=n_retry + n_dead,
            n_dead=n_dead,
            n_results=n_results,
            n_expanded=n_expanded,
            n_deduped=n_deduped,
            n_blocked_robots=n_blocked,
            n_deferred_politeness=n_deferred,
            message="saga completed",  # reference orchestrator/handler.go:76
        )
        st.commit(
            round_no,
            {
                "frontier_rows": n_frontier,
                "dispatched": n_dispatched,
                "seen_count": seen_count_prev + n_ok,
                "filters_parts": cfg.bloom_parts if wrote_filters else stored_parts,
                "filters_kind": cfg.filter_kind if wrote_filters else stored_kind,
                "url_seen_parts": seen_layout_parts,
                "head_rows": n_head,
                "head_k": head_k,
                "last_compact_round": round_no if compact else last_compact,
            },
        )

        # every round-persisted frame (ranked, dispatch, fetched,
        # expansion, merged, full, tail_live, the pruned anti-join's
        # probe cache) was registered in _round_unpersist at persist
        # time; run_round's finally releases them even on a raise.
        return {
            "round": round_no,
            "n_dispatched": n_dispatched,
            "n_fetched": n_ok,
            "n_results": n_results,
            "frontier_rows": n_frontier,
        }

    # ------------------------------------------------------------ full run
    def run(self, seeds: DataFrame | None = None, resume: bool = False) -> list[dict]:
        """Run to frontier exhaustion (or max_rounds).  With resume=True,
        continue from the committed checkpoint instead of bootstrapping."""
        if resume:
            self.store.vacuum_uncommitted()
            start = self.store.committed_round() + 1
            assert start >= 1, "nothing to resume from"
        else:
            assert seeds is not None, "fresh run needs seeds"
            self.bootstrap(seeds)
            start = 1
        history = []
        for r in range(start, self.cfg.max_rounds + 1):
            stats = self.run_round(r)
            history.append(stats)
            if stats["n_dispatched"] == 0 or stats["frontier_rows"] == 0:
                break
        return history

    # ------------------------------------------------------- admin rounds
    #
    # Between-runs maintenance (recrawl invalidation, late seed batches —
    # the reference's new saga submissions) commits one ADMIN round: no
    # fetching, writes go to fresh round dirs and are published by the
    # same atomic checkpoint swap as a crawl round, so crash debris
    # stays invisible and resume continues past it.  No committed
    # partition is ever rewritten in place.

    def _read_seen(self) -> DataFrame:
        """Live URL-seen set: the url_seen append log minus recrawl
        invalidations.  A key is live iff its latest first_round is
        later than its latest invalidation round (``url_seen_del``,
        written by admin rounds) — a re-fetch appends a fresh url_seen
        row, so both logs stay append-only and time-travel cleanly.
        Default crawls never invalidate; the extra join exists only
        when the del table does, keeping the standard round plan (and
        its pins) untouched."""
        st = self.store
        if st.has_partitions("url_seen"):
            # layout-aware read: the Hive seen_part column (present iff
            # the store was bootstrapped with partition_url_seen) rides
            # along so the exact verify can prune on it.  Whether the
            # layout carries it is already recorded in the checkpoint
            # (url_seen_parts), so build the schema from the stat — a
            # schemaless read would re-list + footer-infer EVERY round
            # directory on every call, a per-round job that grows with
            # crawl length.
            has_part = ((st.committed() or {}).get("stats", {})).get(
                "url_seen_parts"
            ) is not None
            schema = T.StructType(
                list(S.URL_SEEN.fields)
                + ([T.StructField("seen_part", T.IntegerType(), True)] if has_part else [])
            )
            seen = st.read("url_seen", schema)
        else:
            seen = st.read("url_seen", S.URL_SEEN).select("url_hash", "first_round")
        if st.has_partitions("url_seen_del"):
            dels = (
                st.read("url_seen_del")
                .groupBy("url_hash")
                .agg(F.max("round").alias("_del_round"))
            )
            seen = (
                seen.join(dels, "url_hash", "left")
                .filter(
                    F.col("_del_round").isNull()
                    | (F.col("first_round") > F.col("_del_round"))
                )
                .drop("_del_round")
            )
        return seen

    def invalidate_seen(self, del_keys: DataFrame) -> dict:
        """Un-see URLs (``url_hash`` column) so their next discovery
        re-fetches.  With ``filter_kind="cuckoo"`` the filter state
        updates by O(delta) fingerprint deletion; with Bloom the
        remaining seen set is refolded from scratch (shared bits can't
        be deleted — the asymmetry that motivates the cuckoo arm for
        recrawl-heavy use)."""
        return self._admin_round(del_keys=del_keys, candidates=None)

    def enqueue(self, candidates: DataFrame) -> dict:
        """Queue frontier candidates between runs (seed-shaped rows:
        url, seed_id, domain, schema_name, schema_version, priority,
        optional page).  Robots-gated, deduped against the live seen
        set and the head; new rows merge into the per-host top-K head
        (dispatchable next round), overflow demotes to the tail delta.
        """
        return self._admin_round(del_keys=None, candidates=candidates)

    def recrawl(self, candidates: DataFrame) -> dict:
        """Recrawl stale URLs in one admin commit: invalidate their
        seen entries AND re-enqueue them for fetch (operators/recrawl.py
        schedules staleness; this applies the schedule)."""
        cand = candidates
        if "page" not in cand.columns:
            cand = cand.withColumn("page", F.lit(0))
        keys = with_url_identity(cand).select("url_hash")
        return self._admin_round(del_keys=keys, candidates=candidates)

    def _admin_round(
        self, del_keys: DataFrame | None, candidates: DataFrame | None
    ) -> dict:
        st, cfg = self.store, self.cfg
        r_prev = st.committed_round()
        assert r_prev >= 0, "admin round needs a committed checkpoint"
        r = r_prev + 1
        stats = dict((st.committed() or {}).get("stats", {}))

        n_inv = 0
        dels = None
        if del_keys is not None:
            live = self._read_seen().select("url_hash")
            dels = (
                del_keys.select("url_hash")
                .distinct()
                .join(live, "url_hash", "left_semi")
                .persist()
            )
            n_inv = dels.count()
            if n_inv:
                st.write_partition("url_seen_del", r, dels, 1)
                self._maintain_filters_after_delete(r, dels, stats)

        n_enq = 0
        if candidates is not None:
            # merge under the STORED head sizing, not the current
            # config's: an admin round never refills the head from the
            # tail, so stamping the current head_k here would satisfy
            # run_round's config-change guard (prev head_k == head_k)
            # while the stored head is still sized for the OLD config —
            # hosts would run dry mid-cycle with their tail rows
            # unreachable.  Keeping the stored value leaves the guard
            # armed; the next crawl round performs the real refill.
            head_k = int(stats.get("head_k", self._head_k()))
            cand = candidates
            if "page" not in cand.columns:
                cand = cand.withColumn("page", F.lit(0))
            cand = (
                with_url_identity(cand)
                .withColumn("round_added", F.lit(r))
                .withColumn("attempts", F.lit(0))
                .select(*FR.FRONTIER_COLS)
            )
            allowed, _blocked = R.split_robots(cand, self.robots)
            allowed = FR.dedup_within(allowed)
            seen_live = self._read_seen().select("url_hash")
            if dels is not None:
                # this admin round's own dels are not committed yet
                seen_live = seen_live.join(dels, "url_hash", "left_anti")
            allowed = allowed.join(seen_live, "url_hash", "left_anti")
            head_prev = st.read("frontier_head", S.FRONTIER, rewrite=True)
            fresh = allowed.join(
                head_prev.select("url_hash"), "url_hash", "left_anti"
            ).persist()
            # (a lazily-duplicated tail copy is tolerated by design: the
            # dispatch anti-join / refill dedup_keys folds it, exactly as
            # for head-vs-tail duplication during crawl rounds)
            n_enq = fresh.count()
            if n_enq:
                merged = head_prev.unionByName(fresh).persist()
                head_out, demote = FR.split_head(merged, head_k)
                head_out, demote = head_out.persist(), demote.persist()
                n_head, n_dem = head_out.count(), demote.count()
                st.write_partition("frontier_head", r, head_out, _n_files(n_head))
                if n_dem:
                    st.write_partition("frontier_add", r, demote, 1)
                stats["head_rows"] = n_head
                stats["head_k"] = head_k
                stats["frontier_rows"] = int(stats.get("frontier_rows", 0)) + n_enq
                for df in (merged, head_out, demote):
                    df.unpersist()
            fresh.unpersist()

        stats["seen_count"] = int(stats.get("seen_count", 0)) - n_inv
        self._write_metrics(
            r, message=f"admin: invalidated={n_inv} enqueued={n_enq}"
        )
        st.commit(r, stats)
        if dels is not None:
            dels.unpersist()
        return {"round": r, "n_invalidated": n_inv, "n_enqueued": n_enq}

    def _maintain_filters_after_delete(
        self, r: int, dels: DataFrame, stats: dict
    ) -> None:
        cfg, st = self.cfg, self.store
        stored_parts = stats.get("filters_parts")
        stored_kind = stats.get("filters_kind", "bloom")
        if (
            stored_parts is None
            or int(stored_parts) != cfg.bloom_parts
            or stored_kind != cfg.filter_kind
        ):
            return  # no live state for this config; probes stay conservative
        if cfg.filter_kind == "cuckoo":
            state = st.read("seen_filters", DC.FILTER_STATE_SCHEMA, rewrite=True)
            new_state = DC.delete_keys(state, dels, cfg.bloom_parts)  # O(delta)
        else:
            # Bloom bits are shared — no deletion; refold the remaining
            # seen set from scratch: O(|seen|), the documented asymmetry
            remaining = (
                self._read_seen().select("url_hash").join(dels, "url_hash", "left_anti")
            )
            empty = self.spark.createDataFrame([], D.FILTER_STATE_SCHEMA)
            new_state = D.update_seen_filters(empty, remaining, cfg.bloom_parts)
        st.write_partition("seen_filters", r, new_state, 1)

    # ------------------------------------------------------------ helpers
    def _write_metrics(self, round_no: int, **kw) -> None:
        """Per-round metrics/lineage row (reference Result + R3 callback),
        written driver-side — one row never warrants a Spark job."""
        from datetime import datetime, timezone

        row = dict(
            status=True,
            domain=None,
            message=None,
            n_dispatched=0,
            n_fetched=0,
            n_failed=0,
            n_dead=0,
            n_results=0,
            n_expanded=0,
            n_deduped=0,
            n_blocked_robots=0,
            n_deferred_politeness=0,
        )
        row.update(kw)
        row["ingestion_time"] = datetime.fromisoformat(
            self.cfg.run_ts.replace("Z", "+00:00")
        ).astimezone(timezone.utc)
        for k, v in row.items():
            if k.startswith("n_"):
                row[k] = int(v)
        self.store.write_row_partition("metrics", round_no, row, S.CRAWL_METRICS)
