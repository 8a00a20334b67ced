"""Two-parallelism scaling evidence (north_rule: throughput scaling
efficiency ≥0.8 between N and 4N executors).

No real cluster exists in this sandbox, so per BASELINE.md the
criterion is evidenced by running the IDENTICAL crawl job on the
IDENTICAL fixture input at several parallelism levels
(SCALING_LEVELS, default 2,8,32), in separate subprocesses (fresh
JVM each, no warm-cache bleed), and reporting throughput at each
level plus efficiency = (urls_per_sec_4N / urls_per_sec_N) / 4 for
every adjacent 4x pair.  The criterion pair is the smallest-N pair
(2->8): it stays inside the box's linear-scaling region, while 8->32
on a 32-vCPU host measures host contention as much as engine scaling
(the pure-numpy verify kernel itself only reaches 0.61-0.77 there) —
both pairs are reported, the wide one alongside its measured
hardware ceiling.

Also asserts the correctness half: the dispatch log and URL-seen set
are bit-identical across parallelism levels.

Usage:
    python scripts/scaling_bench.py                 # orchestrates both levels
    python scripts/scaling_bench.py --worker 8 DIR  # internal: one level
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Sized so per-round task work (fetch join, extraction explode, image
# decode/verify, result write) dominates fixed per-round driver work —
# the scaling-efficiency comparison is meaningless on overhead-bound
# rounds.  FEW, FAT rounds (big politeness budget) are the honest
# local stand-in for the 10^10-URL regime, where a round is millions
# of URLs and fixed round overhead is noise; 8 × 20k-URL rounds
# over-represent per-round fixed costs by ~100× vs the target scale.
# 20k seeds ≈ 150k URLs ≈ 2.9M result rows over N_IMAGES distinct
# payloads.  The size was chosen for a per-row verify gate (≳90% of
# leg wall at local[8]); the engine now verifies each distinct payload
# once, so the scaling point at this size must be measured again
# (BENCH.md).
N_SEEDS = int(os.environ.get("SCALING_N_SEEDS", "20000"))
N_HOSTS = int(os.environ.get("SCALING_N_HOSTS", "1280"))
N_IMAGES = int(os.environ.get("SCALING_N_IMAGES", "1500"))
BASE_BUDGET = int(os.environ.get("SCALING_BUDGET", "512"))
MAX_ROUNDS = int(os.environ.get("SCALING_ROUNDS", "3"))
# Round tick length: politeness budget per host = round_ms / crawl_delay
# (clamped to BASE_BUDGET).  A minute-long tick keeps crawl_delay
# honored while letting a round carry cluster-scale work; the default
# 600 ms tick caps delay-500ms hosts at ONE url per round, which makes
# every round overhead-bound at any corpus size.
ROUND_MS = int(os.environ.get("SCALING_ROUND_MS", "60000"))


def run_level(cpus: int, work_dir: str) -> dict:
    from crawler_spark.engine import CrawlConfig, CrawlEngine
    from crawler_spark.session import get_spark
    from crawler_spark.sinks import StateStore

    spark = get_spark(
        app_name=f"scaling-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.cleaner.periodicGC.interval": "60s"},
    )
    fix = os.path.join(work_dir, "fixtures")
    if not os.path.isdir(os.path.join(fix, "seeds")):
        from crawler_spark.fixtures import write_fixtures

        write_fixtures(
            spark,
            fix,
            n_seeds=N_SEEDS,
            n_hosts=N_HOSTS,
            n_images=N_IMAGES,
            # realistic mixed image dims: decode/verify compute (the
            # embarrassingly parallel fraction) dominates, as it would
            # in a real image crawl
            dim_profile=os.environ.get("SCALING_DIM_PROFILE", "default"),
        )

    store = StateStore(spark, os.path.join(work_dir, f"state-{cpus}"))
    eng = CrawlEngine(
        spark,
        store,
        web_pages=spark.read.parquet(os.path.join(fix, "web_pages")),
        web_images=spark.read.parquet(os.path.join(fix, "web_images")),
        robots=spark.read.parquet(os.path.join(fix, "robots")),
        config=CrawlConfig(
            base_budget=BASE_BUDGET,
            max_rounds=MAX_ROUNDS,
            round_ms=ROUND_MS,
        ),
    )
    seeds = spark.read.parquet(os.path.join(fix, "seeds"))

    t0 = time.perf_counter()
    history = eng.run(seeds=seeds)
    wall = time.perf_counter() - t0

    # frontier-expansion timing: re-run the expansion stage in isolation
    from pyspark.sql import functions as F

    from crawler_spark.operators import frontier as FR

    web_pages = spark.read.parquet(os.path.join(fix, "web_pages"))
    t1 = time.perf_counter()
    FR.expand_pages(
        web_pages.filter(F.col("page") == 0).withColumn("seed_id", F.lit(0))
        .withColumn("domain", F.lit("d"))
        .withColumn("schema_name", F.lit("s"))
        .withColumn("schema_version", F.lit("v")),
        1,
    ).count()
    expand_sec = time.perf_counter() - t1

    n_dispatched = sum(h["n_dispatched"] for h in history)
    out = {
        "cpus": cpus,
        "rounds": len(history),
        "n_dispatched": n_dispatched,
        "wall_sec": round(wall, 3),
        "urls_per_sec": round(n_dispatched / wall, 2),
        "frontier_expand_sec": round(expand_sec, 3),
        "dispatch_fingerprint": _fingerprint(store),
    }
    spark.stop()
    if os.environ.get("SCALING_KEEP_STATE") != "1":
        import shutil as _sh

        _sh.rmtree(store.root, ignore_errors=True)  # bound disk across legs
    return out


def _fingerprint(store) -> str:
    """Order-insensitive digest of (dispatch log ∪ seen set)."""
    import hashlib

    from crawler_spark import schemas as S

    rows = sorted(
        (r["round"], r["seq"], r["url_hash"])
        for r in store.read("dispatch_log").select("round", "seq", "url_hash").collect()
    )
    seen = sorted(
        (r["url_hash"], r["first_round"])
        for r in store.read("url_seen", S.URL_SEEN).collect()
    )
    h = hashlib.sha256()
    h.update(repr(rows).encode())
    h.update(repr(seen).encode())
    return h.hexdigest()[:16]


def _parse_levels() -> list[int]:
    """Parallelism levels to measure, smallest first.  The north rule
    wants N vs 4N; every adjacent 4x pair in this list is reported.
    Default adds local[2] vs local[8] as the criterion pair: a single
    32-vCPU box cannot hand 32 threads 4x the resources of 8 (the
    measured pure-numpy kernel ceiling for 8→32 is itself only
    0.61-0.77 on this host), but 2→8 stays inside the box's
    linear-scaling region, so it is the pair that can actually
    evidence engine scaling rather than host contention."""
    raw = os.environ.get("SCALING_LEVELS", "2,8,32")
    levels = sorted({int(x) for x in raw.split(",") if x.strip()})
    if len(levels) < 2:
        raise SystemExit("SCALING_LEVELS needs at least two levels")
    return levels


def _pin_range(cpus: int, max_level: int) -> range:
    """Core range for a leg: every leg that fits takes the TOP slice
    (low cores take host interrupt work and are episodically slower);
    only a leg spanning the whole host touches the low cores.  Keyed
    off host size, not the level list, so an 8-core leg lands on the
    same physical slice whether the run's max level is 8 or 32 —
    otherwise walls from different invocations are not comparable."""
    ncpu = os.cpu_count() or cpus
    return range(max(0, ncpu - cpus), ncpu)


def kernel_ceiling(levels: list[int], duration: float = 6.0) -> dict:
    """Hardware scaling ceiling of THIS box, measured with the engine's
    own per-row verify kernel (decode+psnr+phash) in plain
    multiprocessing — no Spark, no JVM.  Contextualizes the engine
    number: a single-box 8→32-way comparison cannot exceed this ratio,
    and on this VM the ceiling itself is ≈3.4-3.7× (not 4×) plus
    extreme time-of-day variance (BENCH.md)."""
    import multiprocessing as mp

    def burn(q, dur, cpu_set):
        pinned = True
        try:
            os.sched_setaffinity(0, cpu_set)
        except (OSError, AttributeError):
            pinned = False
        from crawler_spark import images as I

        # same dim mix as the default fixture profile (fixtures.DIM_PROFILES)
        # — a 32x32-only probe is cache-resident and overstates the ratio
        # the bandwidth-heavier real mix can reach
        dims = [(32, 32), (64, 48), (96, 64)]
        payloads = [
            (I.encode_image(I.gen_pixels(42, 7 + i, w, h), "png"), w, h)
            for i, (w, h) in enumerate(dims)
        ]
        t0 = time.perf_counter()
        n = 0
        while time.perf_counter() - t0 < dur:
            data, w, h = payloads[n % 3]
            dec = I.decode_image(data, "png")
            I.psnr(dec, I.gen_pixels(42, 7 + n % 3, w, h))
            I.phash64(dec)
            n += 1
        q.put((n, pinned))

    # CPU sets derived from the actual host size (a hardcoded 24-31/0-31
    # silently runs unpinned on any non-32-vCPU box, making the derived
    # ceiling meaningless without warning); pinning mirrors the engine
    # legs (_pin_range).
    out = {}
    all_pinned = True
    max_level = max(levels)
    for k in levels:
        cpu_set = set(_pin_range(k, max_level))
        best = 0.0
        for _ in range(3):  # episodic per-core slowdowns → best of 3
            q = mp.Queue()
            ps = [mp.Process(target=burn, args=(q, duration, cpu_set)) for _ in range(k)]
            [p.start() for p in ps]
            got = [q.get() for _ in ps]
            total = sum(n for n, _ in got)
            all_pinned = all_pinned and all(p for _, p in got)
            [p.join() for p in ps]
            best = max(best, total / duration)
        out[f"rows_per_sec_{k}"] = round(best, 1)
    out["kernel_pair_efficiency"] = {
        f"{n}->{4 * n}": round(
            out[f"rows_per_sec_{4 * n}"] / out[f"rows_per_sec_{n}"] / 4.0, 3
        )
        for n in levels
        if 4 * n in levels
    }
    # back-compat headline: the widest measured pair
    lo, hi = levels[0], levels[-1]
    out["kernel_scaling_ratio"] = round(
        out[f"rows_per_sec_{hi}"] / out[f"rows_per_sec_{lo}"], 3
    )
    out["affinity_applied"] = all_pinned
    if not all_pinned:
        sys.stderr.write(
            "scaling_bench: WARNING — CPU affinity could not be applied; "
            "kernel ceiling measured unpinned\n"
        )
    return out


def _cpu_jiffies() -> dict[int, tuple[int, int]]:
    """Per-cpu (busy, total) jiffies from /proc/stat."""
    out = {}
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu") and line[3].isdigit():
                parts = line.split()
                cpu = int(parts[0][3:])
                vals = [int(v) for v in parts[1:]]
                idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle+iowait
                out[cpu] = (sum(vals) - idle, sum(vals))
    return out


def _cpu_util(before: dict, after: dict, cores: range) -> float:
    """Mean utilization of ``cores`` between two _cpu_jiffies samples —
    legs run one at a time, so system-wide busy on the pinned cores IS
    the leg's usage.  The compute-boundness evidence the north-rule
    comparison needs: a local[8] leg under ~90% busy is overhead-bound
    and its scaling ratio meaningless."""
    busy = tot = 0
    for c in cores:
        if c in before and c in after:
            busy += after[c][0] - before[c][0]
            tot += after[c][1] - before[c][1]
    return round(busy / tot, 3) if tot else float("nan")


def resolve_out_path(out_path: str, n_seeds: int) -> str:
    """Headline protection (same rule as merge_scaling_runs --write): a
    SMALLER-fixture run must never silently replace a recorded larger
    one — a quick smoke run with SCALING_N_SEEDS=200 would otherwise
    overwrite the criterion number in place.  Divert it next to the
    headline instead and say so."""
    if os.path.isfile(out_path):
        try:
            with open(out_path) as f:
                prev_seeds = int(json.load(f).get("n_seeds", 0))
        except Exception:
            # unreadable / non-dict JSON / null n_seeds: nothing
            # trustworthy to protect — fail open (write in place) rather
            # than crash after a multi-hour measurement
            prev_seeds = 0
        if n_seeds < prev_seeds:
            diverted = out_path + ".smaller-fixture"
            print(
                f"scaling_bench: fixture ({n_seeds} seeds) is smaller than "
                f"the recorded headline's ({prev_seeds}); writing {diverted} "
                "instead (set SCALING_OUT to override)."
            )
            return diverted
    return out_path


def main() -> int:
    if sys.argv[1:2] == ["--worker"]:
        if len(sys.argv) < 4:
            sys.stderr.write("usage: scaling_bench.py --worker <cpus> <work_dir>\n")
            return 2
        cpus, work_dir = int(sys.argv[2]), sys.argv[3]
        print("RESULT " + json.dumps(run_level(cpus, work_dir)))
        return 0

    # default to tmpfs: on a real cluster every executor writes to its
    # OWN node's disks, so aggregate write bandwidth scales with cluster
    # size; a single shared virtio disk caps both legs identically and
    # under-measures scaling.  RAM-backed state is the honest single-box
    # emulation of per-node storage (state is cleaned between legs).
    default_dir = (
        "/dev/shm/scaling-bench" if os.path.isdir("/dev/shm") else "/tmp/scaling-bench"
    )
    work_dir = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else default_dir)
    os.makedirs(work_dir, exist_ok=True)
    # Host-level noise on this VM is extreme (the identical leg has
    # measured 3x apart within the hour).  Alternate the two levels
    # over SCALING_REPEATS rounds and take the MINIMUM wall per level —
    # the standard noisy-host estimator of true cost; fingerprints must
    # agree across every run.
    repeats = int(os.environ.get("SCALING_REPEATS", "3"))
    levels = _parse_levels()
    runs: dict[int, list[dict]] = {k: [] for k in levels}
    for _ in range(repeats):
        for cpus in levels:
            # taskset pins the WHOLE process tree (JVM task threads AND
            # python UDF workers) to `cpus` physical cores — without
            # it, local[8]'s python workers spill onto all 32 host
            # cores and the "small cluster" baseline is quietly 4x too
            # fast.
            # Workers launch through spark-submit --py-files (the
            # north_star launch path; scripts/submit.sh) when available;
            # SCALING_SUBMIT=0 falls back to a plain python worker.
            if shutil.which("spark-submit") and os.environ.get("SCALING_SUBMIT", "1") == "1":
                submit = os.path.join(os.path.dirname(os.path.abspath(__file__)), "submit.sh")
                cmd = [submit, os.path.abspath(__file__), "--worker", str(cpus), work_dir]
                env_master = {"SPARK_MASTER": f"local[{cpus}]"}
            else:
                cmd = [
                    sys.executable, os.path.abspath(__file__), "--worker", str(cpus), work_dir
                ]
                env_master = {}
            if shutil.which("taskset"):
                # small legs avoid the LOW vCPUs: they take host
                # interrupt work and are episodically 2-4x slower
                # (measured per-window with the decode kernel); the
                # largest leg necessarily spans all of them.  Ranges
                # are derived from the host size, not hardcoded.
                core_range = _pin_range(cpus, max(levels))
                cores = f"{core_range.start}-{core_range.stop - 1}"
                cmd = ["taskset", "-c", cores] + cmd
            else:
                core_range = range(os.cpu_count() or cpus)
            jiffies0 = _cpu_jiffies()
            p = subprocess.run(
                cmd,
                capture_output=True,
                text=True,
                cwd=REPO,
                env={**os.environ, **env_master},
            )
            util = _cpu_util(jiffies0, _cpu_jiffies(), core_range)
            line = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT ")]
            if not line:
                sys.stderr.write(p.stdout[-3000:] + "\n" + p.stderr[-3000:])
                raise SystemExit(f"worker local[{cpus}] failed")
            rec = json.loads(line[-1][len("RESULT ") :])
            rec["cpu_util_pinned_cores"] = util
            runs[cpus].append(rec)
            sys.stderr.write(
                f"LEG local[{cpus}] repeat {len(runs[cpus])}: "
                f"wall={rec['wall_sec']}s util={util} "
                f"fp={rec['dispatch_fingerprint']}\n"
            )
            sys.stderr.flush()

    best = {k: min(rs, key=lambda r: r["wall_sec"]) for k, rs in runs.items()}
    fps = {r["dispatch_fingerprint"] for rs in runs.values() for r in rs}
    ceiling = kernel_ceiling(levels)
    # every adjacent 4x pair measured on the IDENTICAL fixture:
    # efficiency = (throughput_4N / throughput_N) / 4, min-wall per
    # level; plus same-window per-repeat ratios (leg i of N ran right
    # next to leg i of 4N — robust to hour-scale host drift) and the
    # engine efficiency normalized by what this box's cores actually
    # deliver for the same kernel (Spark-free multiprocessing ceiling).
    pairs = {}
    for n in levels:
        if 4 * n not in levels:
            continue
        kc = ceiling["kernel_pair_efficiency"].get(f"{n}->{4 * n}")
        pw = sorted(
            round(a["wall_sec"] / b["wall_sec"], 3)
            for a, b in zip(runs[n], runs[4 * n])
        )
        # headline estimator: MEDIAN of same-window pairwise ratios.
        # Leg i of N runs immediately before leg i of 4N, so each ratio
        # is measured inside one host window; the min-per-level ratio
        # (kept below) divides walls from DIFFERENT windows, and on a
        # host whose identical leg drifts 10-15% within the hour that
        # mixes host drift into the engine number in either direction.
        med = pw[len(pw) // 2] if len(pw) % 2 else (pw[len(pw) // 2 - 1] + pw[len(pw) // 2]) / 2
        eff = med / 4.0
        eff_min = (best[4 * n]["urls_per_sec"] / best[n]["urls_per_sec"]) / 4.0
        pairs[f"{n}->{4 * n}"] = {
            "speedup_median_pairwise": round(med, 3),
            "efficiency": round(eff, 3),
            "efficiency_min_per_level": round(eff_min, 3),
            "efficiency_vs_hardware_ceiling": round(eff / kc, 3) if kc else None,
            "kernel_ceiling_efficiency": kc,
            "pairwise_speedup": pw,
        }
    # criterion pair: the smallest-N 4x pair — the one inside the box's
    # linear region, i.e. the honest single-box stand-in for N vs 4N
    # executors (larger pairs are reported for context but measure host
    # contention as much as engine scaling)
    crit = f"{levels[0]}->{4 * levels[0]}" if f"{levels[0]}->{4 * levels[0]}" in pairs else next(iter(pairs))
    summary = {
        **{f"local{k}": best[k] for k in levels},
        "criterion_pair": crit,
        "scaling_efficiency": pairs[crit]["efficiency"],
        "efficiency_vs_hardware_ceiling": pairs[crit][
            "efficiency_vs_hardware_ceiling"
        ],
        "pairs": pairs,
        "hardware_ceiling": ceiling,
        "order_and_seen_identical": len(fps) == 1,
        "cpu_util_pinned_cores": {
            c: [r.get("cpu_util_pinned_cores") for r in rs] for c, rs in runs.items()
        },
        "all_runs_wall_sec": {c: [r["wall_sec"] for r in rs] for c, rs in runs.items()},
        "repeats": repeats,
        "estimator": (
            "median of same-window pairwise ratios "
            "(min wall per level also reported)"
        ),
        "n_seeds": N_SEEDS,
        "n_hosts": N_HOSTS,
        "dim_profile": os.environ.get("SCALING_DIM_PROFILE", "default"),
    }
    print(json.dumps(summary, indent=2))
    # SCALING_OUT: alternate result path, so a follow-up fixture-size
    # run (e.g. the pre-registered 40k measurement) does not clobber
    # the merged criterion SCALING.json
    # the diversion guard protects the repo's default headline file; an
    # EXPLICIT SCALING_OUT is the user's own target and writes in place
    out_env = os.environ.get("SCALING_OUT")
    out_path = out_env or resolve_out_path(os.path.join(REPO, "SCALING.json"), N_SEEDS)
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=2)
    return 0


if __name__ == "__main__":
    sys.exit(main())
