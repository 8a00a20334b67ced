"""Crawl-engine benchmark: warm passes timed end to end, layers traced apart.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_thin_rounds --seed 1 --seconds 10 --trace 0

One run starts a Spark session on ``local[--cores]``, writes the
workload's synthetic-web fixtures (generated from ``--seed`` by
``crawler_spark.fixtures``), runs one untimed warm-up pass, and then
times whole crawl passes until ``--seconds`` have elapsed.  Every pass
gets a fresh ``StateStore`` and a fresh ``CrawlEngine`` whose cached
web tables are released when the pass ends.  Each pass's dispatch log,
URL-seen set and result-row count are checked against the pure-Python
golden model, and its verify verdicts against the verify gate, outside
the timed region.

The last line of standard output is one JSON object: ``correct``,
``attempted`` (URLs dispatched in the timed passes), ``failed``
(dispatch-log, URL-seen and result-row-count mismatches against the
golden model plus rows failing or missing the verify gate), and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  See
``perfbench/README.md`` for what each number means.
"""

from __future__ import annotations

import argparse
import collections
import dataclasses
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

# Fixture shape (crawler_spark.fixtures) and CrawlConfig overrides per
# workload.  Compaction every two rounds, so the warm-up pass, which
# stops after its first compaction, runs every round plan the timed
# passes run.  README.md records why each workload exists.
WORKLOADS = {
    "crawl_reuse": {
        "fixture": {"n_seeds": 320, "n_hosts": 32, "n_images": 400,
                    "dim_profile": "default"},
        "config": {"base_budget": 16, "max_rounds": 2, "frontier_compact_every": 2},
    },
    "crawl_thin_rounds": {
        "fixture": {"n_seeds": 200, "n_hosts": 32, "n_images": 5000,
                    "dim_profile": "small"},
        "config": {"base_budget": 2, "max_rounds": 3, "frontier_compact_every": 2},
    },
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "urls_per_s": "1/s",
    "round_p50_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

# README.md maps each per-layer metric to the end-to-end metric and
# workload it should move
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "fixtures.gen_s": "s",
    "setup.warmup_s": "s",
    "engine.bootstrap_s": "s",
    "engine.rounds": "count",
    "engine.round_mean_s": "s",
    "engine.jobs_per_round": "count",
    "engine.tasks_per_round": "count",
    "engine.compact_round_s": "s",
    "engine.driver_gap_s": "s",
    "engine.cpu_util": "ratio",
    "politeness.dispatch_s": "s",
    "politeness.dispatched_per_round": "count",
    "fetch.fetch_s": "s",
    "fetch.ok_ratio": "ratio",
    "fetch.retry_count": "count",
    "fetch.dead_count": "count",
    "fetch.verify_write_s": "s",
    "fetch.verify_rows": "count",
    "fetch.verify_distinct": "count",
    "fetch.verify_useful_ratio": "ratio",
    "fetch.verify_kernel_share": "ratio",
    "fetch.verify_fail": "count",
    "images.decode_ms": "ms",
    "images.ref_pixels_ms": "ms",
    "images.phash_ms": "ms",
    "images.psnr_ms": "ms",
    "images.kernel_ms": "ms",
    "frontier.merge_s": "s",
    "frontier.rows": "count",
    "frontier.head_rows": "count",
    "dedup.seen_rows": "count",
    "dedup.fresh_ratio": "ratio",
    "sinks.writes_s": "s",
    "sinks.write_busy_s": "s",
    "sinks.commit_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "B",
    "host.calib_ms": "ms",
    "trace.overhead_pct": "%",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="minimum timed wall; whole passes run until it is reached")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4, help="k in local[k]")
    p.add_argument("--driver-mem", default="2g", help="spark.driver.memory")
    a = p.parse_args(argv)
    if not 0 <= a.seed < 2**31:
        p.error("--seed must be in [0, 2**31)")
    return a


# ---------------------------------------------------------------- environment
def _prepare_environment(args) -> None:
    """Keep every file the run writes inside the checkout, and make the
    checkout's ``crawler_spark`` importable here and in Spark's Python
    workers."""
    sys.path.insert(0, ROOT)
    import crawler_spark

    if not os.path.abspath(crawler_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"crawler_spark imported from outside the checkout: "
                         f"{crawler_spark.__file__}")
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher too): no hsperfdata under /tmp,
    # temp files (native libraries netty, snappy and zstd unpack) here
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = args.driver_mem
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _start_spark(args):
    from crawler_spark.session import get_spark

    spark = get_spark(
        app_name="crawler-spark-perfbench",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started (Python worker daemon and workers included)."""
    from procfs import tree_pids, wait_gone

    others = [p for p in tree_pids() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    wait_gone(others, timeout_s=30)


# ---------------------------------------------------------------- one pass
@dataclasses.dataclass
class Pass:
    store_root: str
    max_rounds: int
    wall: float
    rounds: list[float]  # run_round wall of each round
    dispatched: int  # URLs
    cpu: float  # process-tree CPU seconds


def crawl_pass(spark, tables: dict, config, store_root: str) -> Pass:
    """One ``CrawlEngine.run`` — bootstrap plus rounds to exhaustion or
    ``max_rounds`` — with each ``run_round`` call timed on the way."""
    from crawler_spark.engine import CrawlEngine
    from crawler_spark.sinks import StateStore
    from procfs import tree_cpu_s

    class TimedEngine(CrawlEngine):
        def run_round(self, round_no):
            t = time.perf_counter()
            try:
                return super().run_round(round_no)
            finally:
                rounds.append(time.perf_counter() - t)

    rounds: list[float] = []
    store = StateStore(spark, store_root)
    eng = TimedEngine(spark, store, tables["web_pages"], tables["web_images"],
                      tables["robots"], config)
    try:
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        history = eng.run(tables["seeds"])
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
    finally:
        for df in (eng.web_pages, eng.web_images, eng.robots):
            df.unpersist()
    dispatched = sum(stats["n_dispatched"] for stats in history)
    return Pass(store_root, config.max_rounds, wall, rounds, dispatched, cpu)


# ---------------------------------------------------------------- correctness
def read_table(store_root: str, table: str, columns: list[str]):
    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(store_root, table), format="parquet",
                      partitioning="hive").to_table(columns=columns)


def _multiset_diff(a: list, b: list) -> int:
    ca, cb = collections.Counter(a), collections.Counter(b)
    return sum(((ca - cb) + (cb - ca)).values())


def check_pass(p: Pass, golden) -> tuple[int, int]:
    """(mismatches against the golden model, rows failing the verify
    gate) for one finished pass.  Mismatches count the dispatch log, the
    URL-seen set and the ``results`` row count.  A row fails the gate
    when ``~phash_ok | psnr_db < 40``, or when it was not verified
    (``phash_ok`` or ``psnr_db`` NULL): the benchmark runs the default
    ``verify_policy="full"``, which verifies every row."""
    log = read_table(p.store_root, "dispatch_log", ["round", "seq", "url_hash"])
    got = list(zip(*(log[c].to_pylist() for c in ("round", "seq", "url_hash"))))
    seen = read_table(p.store_root, "url_seen", ["url_hash", "first_round"])
    got_seen = list(zip(seen["url_hash"].to_pylist(), seen["first_round"].to_pylist()))
    res = read_table(p.store_root, "results", ["phash_ok", "psnr_db"])
    mismatches = (_multiset_diff(got, golden.dispatch_log)
                  + _multiset_diff(got_seen, list(golden.seen.items()))
                  + abs(res.num_rows - golden.n_results))
    verify_fail = sum(
        1 for ok, db in zip(res["phash_ok"].to_pylist(), res["psnr_db"].to_pylist())
        if ok is not True or db is None or db < 40.0
    )
    return mismatches, verify_fail


# ---------------------------------------------------------------- host weather
class HostCalibration:
    """A fixed, Spark-free loop of the image kernel (``crawler_spark.images``)
    on fixed bytes.  Engine, operator and sink changes leave it alone, so
    when it moves with an end-to-end metric the host moved; a change to
    the image kernel itself moves it too."""

    def __init__(self):
        from crawler_spark import images as I

        self._I = I
        self._payloads = []
        for k in range(32):
            fmt = "jpeg" if k % 4 == 0 else "png"
            w, h = (32, 64, 96)[k % 3], (32, 48, 64)[k % 3]
            self._payloads.append(
                (I.encode_image(I.gen_pixels(42, k, w, h), fmt), fmt, k, w, h))
        self.samples_ms: list[float] = []

    def sample(self, reps: int = 3) -> float:
        I = self._I
        out = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for data, fmt, k, w, h in self._payloads:
                dec = I.decode_image(data, fmt)
                I.psnr(dec, I.gen_pixels(42, k, w, h))
                I.phash64(dec)
            out.append((time.perf_counter() - t0) * 1000.0)
        self.samples_ms.extend(out)
        return statistics.median(out)


# ---------------------------------------------------------------- layer probes
def image_stage_ms(fixture_images: str, image_ids: set[str], seed: int,
                   limit: int = 300) -> dict[str, float]:
    """Per-payload time of each verify-kernel stage, without Spark, over
    (up to ``limit`` of) the distinct payloads the traced pass verified.
    Python workers import the unpatched module, so this is measured
    here rather than inside the UDF."""
    import pyarrow.dataset as ds
    from crawler_spark import images as I

    t = ds.dataset(fixture_images, format="parquet").to_table(
        columns=["image_id", "bytes", "fmt", "w", "h", "phash"])
    rows = sorted((r for r in t.to_pylist() if r["image_id"] in image_ids),
                  key=lambda r: r["image_id"])[:limit]
    acc = dict.fromkeys(("decode", "ref_pixels", "phash", "psnr"), 0.0)
    for r in rows:
        k = int(r["image_id"].rsplit("-", 1)[1])
        t0 = time.perf_counter()
        dec = I.decode_image(r["bytes"], r["fmt"])
        t1 = time.perf_counter()
        ref = I.gen_pixels(seed, k, r["w"], r["h"])
        t2 = time.perf_counter()
        ok = I.phash64(dec) == r["phash"]
        t3 = time.perf_counter()
        I.psnr(dec, ref)
        t4 = time.perf_counter()
        if not ok:
            raise RuntimeError(f"phash mismatch on {r['image_id']}")
        for key, dt in zip(acc, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
            acc[key] += dt
    out = {f"images.{k}_ms": v * 1000.0 / len(rows) for k, v in acc.items()}
    out["images.kernel_ms"] = sum(out.values())
    return out


def layer_metrics(tracer, traced: Pass, untraced_wall: float, fixtures: dict,
                  seed: int, cores: int) -> dict[str, float]:
    out = tracer.summary(cores)
    m = read_table(traced.store_root, "metrics",
                   ["round", "n_dispatched", "n_fetched", "n_failed", "n_dead",
                    "n_expanded", "n_deduped"]).to_pydict()
    crawl = [i for i, r in enumerate(m["round"]) if r > 0]

    def total(col: str) -> int:
        return sum(m[col][i] for i in crawl)

    res = read_table(traced.store_root, "results", ["image_id"])["image_id"].to_pylist()
    distinct = set(res)
    with open(os.path.join(traced.store_root, "checkpoint.json")) as f:
        stats = json.load(f)["stats"]
    out.update({
        "fetch.ok_ratio": total("n_fetched") / total("n_dispatched"),
        "fetch.retry_count": total("n_failed") - total("n_dead"),
        "fetch.dead_count": total("n_dead"),
        "fetch.verify_rows": len(res),
        "fetch.verify_distinct": len(distinct),
        "fetch.verify_useful_ratio": len(distinct) / len(res),
        "frontier.rows": stats["frontier_rows"],
        "frontier.head_rows": stats["head_rows"],
        "dedup.seen_rows": stats["seen_count"],
        "dedup.fresh_ratio": (total("n_expanded") - total("n_deduped"))
        / total("n_expanded"),
        "trace.overhead_pct": (traced.wall / untraced_wall - 1.0) * 100.0,
    })
    out.update(image_stage_ms(fixtures["web_images"], distinct, seed))
    out["fetch.verify_kernel_share"] = (
        len(res) * out["images.kernel_ms"] / 1000.0 / traced.cpu)
    return out


# ---------------------------------------------------------------- main
def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    _prepare_environment(args)

    from crawler_spark import fixtures as FX
    from crawler_spark.engine import CrawlConfig
    from crawler_spark.golden import run_golden
    from procfs import tree_cpu_s, tree_peak_rss_mb

    calib = HostCalibration()
    calib_start = calib.sample()

    t0 = time.perf_counter()
    spark = _start_spark(args)
    try:
        session_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        fixtures = FX.write_fixtures(spark, os.path.join(WORK, "fixtures"),
                                     seed=args.seed, **wl["fixture"])
        tables = {k: spark.read.parquet(v) for k, v in fixtures.items()}
        fixtures_s = time.perf_counter() - t0

        config = CrawlConfig(image_seed=args.seed, **wl["config"])
        stores = (os.path.join(WORK, f"state-{i}") for i in itertools.count(1))

        # a steady round and a compaction round run every plan a longer
        # pass runs; later rounds repeat them on more state
        warm_config = dataclasses.replace(config, max_rounds=config.frontier_compact_every)
        t0 = time.perf_counter()
        warm = crawl_pass(spark, tables, warm_config, next(stores))
        warmup_s = time.perf_counter() - t0

        cpu0 = tree_cpu_s()
        timed: list[Pass] = []
        t_start = time.perf_counter()
        while not timed or time.perf_counter() - t_start < args.seconds:
            timed.append(crawl_pass(spark, tables, config, next(stores)))
        cpu_s = (tree_cpu_s() - cpu0) / len(timed)
        peak_rss_mb = tree_peak_rss_mb()

        traced = tracer = None
        if args.trace:
            from spans import RoundTracer

            with RoundTracer(spark) as tracer:
                traced = crawl_pass(spark, tables, config, next(stores))

        goldens = {
            c.max_rounds: run_golden(
                fixtures["seeds"], fixtures["web_pages"], fixtures["robots"],
                base_budget=c.base_budget, round_ms=c.round_ms, max_rounds=c.max_rounds)
            for c in (warm_config, config)
        }
        passes = [warm, *timed] + ([traced] if traced else [])
        checks = [check_pass(p, goldens[p.max_rounds]) for p in passes]
        mismatches = sum(mm for mm, _vf in checks)
        verify_fail = sum(vf for _mm, vf in checks)

        if args.trace:
            metrics = layer_metrics(tracer, traced,
                                    statistics.fmean(p.wall for p in timed),
                                    fixtures, args.seed, args.cores)
            metrics["fetch.verify_fail"] = checks[-1][1]
            metrics.update({
                "session.start_s": session_s,
                "fixtures.gen_s": fixtures_s,
                "setup.warmup_s": warmup_s,
            })
    finally:
        _stop_spark(spark)
    calib_end = calib.sample()

    rounds = [r for p in timed for r in p.rounds]
    dispatched = sum(p.dispatched for p in timed)
    if args.trace:
        metrics["host.calib_ms"] = statistics.median(calib.samples_ms)
        units = PER_LAYER_UNITS
    else:
        metrics = {
            "setup_s": session_s + fixtures_s + warmup_s,
            "urls_per_s": dispatched / sum(p.wall for p in timed),
            "round_p50_s": statistics.median(rounds),
            "cpu_s": cpu_s,
            "peak_rss_mb": peak_rss_mb,
        }
        units = END_TO_END_UNITS
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics out of step with their declaration: "
                           f"{sorted(set(metrics) ^ set(units))}")
    failed = mismatches + verify_fail
    print(f"# {args.workload} seed={args.seed} local[{args.cores}] "
          f"driver_mem={args.driver_mem}: {len(timed)} timed pass(es), "
          f"{len(rounds)} round samples "
          f"[{' '.join(f'{r:.2f}' for r in rounds)}] s, {dispatched} URLs dispatched; "
          f"golden mismatches={mismatches} verify_fail={verify_fail}; "
          f"host calib {calib_start:.1f} ms -> {calib_end:.1f} ms; "
          f"setup: session {session_s:.2f} s, fixtures {fixtures_s:.2f} s, "
          f"warm-up {warmup_s:.2f} s")
    result = {
        "correct": failed == 0,
        "attempted": dispatched,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k]}
            for k, v in metrics.items()
        },
    }
    print(json.dumps(result))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
