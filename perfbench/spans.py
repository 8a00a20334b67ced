"""Per-layer spans for a traced crawl pass, recorded from outside.

The tracer wraps public calls into the engine's layers for the length
of one pass and restores them afterwards:

- ``CrawlEngine.run_round`` / ``CrawlEngine.bootstrap``: round and
  bootstrap wall, process-tree CPU, Spark job and task counts;
- ``DataFrame.count`` (the concrete classic class — wrapping the
  public ``pyspark.sql.DataFrame`` records nothing): a round makes
  exactly three counts on its own thread, and they mark its three
  materialisation phases — dispatch (politeness rank + global
  sequence), fetch (closed-world fetch join + spread), and merge
  (expansion, robots tag, seen anti-join, frontier merge);
- ``StateStore.write_partition`` / ``StateStore.commit``: the
  concurrent write phase, per-table write time, and the checkpoint.

Anything that breaks the attribution (a round with other than three
counts, a wrapper left in place) raises ``TraceError``: misattributed
phases are worse than none.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from crawler_spark.engine import CrawlEngine
from crawler_spark.sinks import StateStore

from procfs import tree_cpu_s

PHASES = ("dispatch", "fetch", "merge")


class TraceError(RuntimeError):
    pass


class RoundTracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._saved: list[tuple[type, str, object]] = []
        self._lock = threading.Lock()
        self._current: dict | None = None
        self.rounds: list[dict] = []
        self.bootstrap_s: list[float] = []

    # ------------------------------------------------------------ patching
    def __enter__(self) -> "RoundTracer":
        self._patch(ClassicDataFrame, "count", self._wrap_count)
        self._patch(CrawlEngine, "run_round", self._wrap_run_round)
        self._patch(CrawlEngine, "bootstrap", self._wrap_bootstrap)
        self._patch(StateStore, "write_partition", self._wrap_write)
        self._patch(StateStore, "commit", self._wrap_commit)
        return self

    def __exit__(self, *exc) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        left = [
            f"{owner.__name__}.{name}"
            for owner, name, orig in self._saved
            if owner.__dict__[name] is not orig
        ]
        self._saved = []
        if left:
            raise TraceError(f"wrappers not restored: {left}")

    def _patch(self, owner: type, name: str, make) -> None:
        orig = owner.__dict__[name]
        self._saved.append((owner, name, orig))
        setattr(owner, name, functools.wraps(orig)(make(orig)))

    # ------------------------------------------------------------ spark state
    def _job_ids(self) -> set[int]:
        # the status store is fed asynchronously by the listener bus;
        # drain it so jobs that just ended are visible
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self._sc.statusTracker().getJobIdsForGroup())

    def _tasks(self, job_ids: set[int]) -> int:
        st = self._sc.statusTracker()
        stages = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                raise TraceError(f"job {j} no longer in the status store")
            stages.update(info.stageIds)
        total = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                total += info.numCompletedTasks
        return total

    # ------------------------------------------------------------ wrappers
    def _wrap_count(self, orig):
        tracer = self

        def count(df):
            t0 = time.perf_counter()
            try:
                return orig(df)
            finally:
                rec = tracer._current
                if rec is not None and threading.get_ident() == rec["thread"]:
                    rec["counts"].append(time.perf_counter() - t0)

        return count

    def _wrap_bootstrap(self, orig):
        tracer = self

        def bootstrap(eng, seeds):
            t0 = time.perf_counter()
            out = orig(eng, seeds)
            tracer.bootstrap_s.append(time.perf_counter() - t0)
            return out

        return bootstrap

    def _wrap_run_round(self, orig):
        tracer = self

        def run_round(eng, round_no):
            jobs0 = tracer._job_ids()
            cpu0 = tree_cpu_s()
            rec = {
                "round": round_no,
                "thread": threading.get_ident(),
                "counts": [],
                "writes": [],
                "commit": [],
            }
            tracer._current = rec
            t0 = time.perf_counter()
            try:
                out = orig(eng, round_no)
            finally:
                rec["wall"] = time.perf_counter() - t0
                tracer._current = None
            rec["cpu"] = tree_cpu_s() - cpu0
            if len(rec["counts"]) != len(PHASES):
                raise TraceError(
                    f"round {round_no}: {len(rec['counts'])} count spans, "
                    f"expected {len(PHASES)}"
                )
            new_jobs = tracer._job_ids() - jobs0
            rec["jobs"] = len(new_jobs)
            rec["tasks"] = tracer._tasks(new_jobs)
            stats = eng.store.committed()["stats"]
            rec["compact"] = stats["last_compact_round"] == round_no
            rec["files"], rec["bytes"] = _round_files(eng.store.root, round_no)
            rec["out"] = out
            tracer.rounds.append(rec)
            return out

        return run_round

    def _wrap_write(self, orig):
        tracer = self

        def write_partition(store, table, round_no, df, n_files=None):
            t0 = time.perf_counter()
            try:
                return orig(store, table, round_no, df, n_files)
            finally:
                t1 = time.perf_counter()
                rec = tracer._current
                if rec is not None:
                    with tracer._lock:
                        rec["writes"].append((table, t0, t1))

        return write_partition

    def _wrap_commit(self, orig):
        tracer = self

        def commit(store, round_no, stats=None):
            t0 = time.perf_counter()
            try:
                return orig(store, round_no, stats)
            finally:
                rec = tracer._current
                if rec is not None:
                    rec["commit"].append(time.perf_counter() - t0)

        return commit

    # ------------------------------------------------------------ summary
    def summary(self, cores: int) -> dict[str, float]:
        """Per-round means of every span, so that dispatch + fetch +
        merge + writes + commit + driver gap == mean round wall."""
        rs = self.rounds
        if not rs:
            raise TraceError("no round was traced")

        def mean(f) -> float:
            return statistics.fmean(f(r) for r in rs)

        def writes_wall(r) -> float:
            if not r["writes"]:
                return 0.0
            return max(w[2] for w in r["writes"]) - min(w[1] for w in r["writes"])

        def busy(r, table=None) -> float:
            return sum(t1 - t0 for t, t0, t1 in r["writes"] if table in (None, t))

        for r in rs:
            if r["wall"] - sum(r["counts"]) - writes_wall(r) - sum(r["commit"]) < 0:
                raise TraceError(f"round {r['round']}: spans overlap the round wall")
        compact = [r["wall"] for r in rs if r["compact"]]
        if not compact:
            raise TraceError("the traced pass ran no compaction round")
        return {
            "engine.bootstrap_s": statistics.fmean(self.bootstrap_s),
            "engine.rounds": len(rs),
            "engine.round_mean_s": mean(lambda r: r["wall"]),
            "engine.jobs_per_round": mean(lambda r: r["jobs"]),
            "engine.tasks_per_round": mean(lambda r: r["tasks"]),
            "engine.compact_round_s": statistics.fmean(compact),
            "engine.driver_gap_s": mean(
                lambda r: r["wall"] - sum(r["counts"]) - writes_wall(r) - sum(r["commit"])
            ),
            "engine.cpu_util": sum(r["cpu"] for r in rs)
            / (sum(r["wall"] for r in rs) * cores),
            "politeness.dispatch_s": mean(lambda r: r["counts"][0]),
            "politeness.dispatched_per_round": mean(lambda r: r["out"]["n_dispatched"]),
            "fetch.fetch_s": mean(lambda r: r["counts"][1]),
            "fetch.verify_write_s": mean(lambda r: busy(r, "results")),
            "frontier.merge_s": mean(lambda r: r["counts"][2]),
            "sinks.writes_s": mean(writes_wall),
            "sinks.write_busy_s": mean(busy),
            "sinks.commit_s": mean(lambda r: sum(r["commit"])),
            "sinks.files_written": mean(lambda r: r["files"]),
            "sinks.bytes_written": mean(lambda r: r["bytes"]),
        }


def _round_files(store_root: str, round_no: int) -> tuple[int, int]:
    """Data files and bytes the round wrote, over every state table."""
    files = size = 0
    part = f"round={round_no}"
    for table in os.listdir(store_root):
        top = os.path.join(store_root, table, part)
        for d, _dirs, names in os.walk(top):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size
