"""Unit tests for the scaling-evidence tooling (no Spark session):
core pinning in scripts/scaling_bench.py, the same-engine run merger
in scripts/merge_scaling_runs.py, and the bench.py scaling surface.

These scripts produce SCALING.json — the north-rule two-cluster-size
evidence — so their arithmetic and refusal guards are pinned here.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str, rel: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


sb = _load("sb_under_test", "scripts/scaling_bench.py")
msr = _load("msr_under_test", "scripts/merge_scaling_runs.py")


# ---------------------------------------------------------------- pinning

def test_pin_range_always_top_slice(monkeypatch):
    # a fixed host size, so the slice logic is checked on any machine
    ncpu = 64
    monkeypatch.setattr(sb.os, "cpu_count", lambda: ncpu)
    # every leg that fits gets the TOP slice, independent of the run's
    # level list — otherwise walls from 2,8 and 2,8,32 invocations are
    # not comparable (low vCPUs take host interrupt work)
    assert sb._pin_range(2, 8) == range(ncpu - 2, ncpu)
    assert sb._pin_range(2, 32) == range(ncpu - 2, ncpu)
    assert sb._pin_range(8, 8) == range(ncpu - 8, ncpu)
    assert sb._pin_range(8, 32) == range(ncpu - 8, ncpu)
    # a leg spanning the host necessarily takes everything
    assert sb._pin_range(ncpu, ncpu) == range(0, ncpu)
    # a leg wider than the host is clamped to the whole host
    assert sb._pin_range(2 * ncpu, 2 * ncpu) == range(0, ncpu)


# ----------------------------------------------------------------- merger

def _mk_run(pairwise, walls2, walls8, fp="fp0", n_seeds=100, kc=0.9):
    n = 100
    return {
        "local2": {
            "cpus": 2,
            "n_dispatched": n,
            "wall_sec": min(walls2),
            "urls_per_sec": round(n / min(walls2), 2),
            "dispatch_fingerprint": fp,
        },
        "local8": {
            "cpus": 8,
            "n_dispatched": n,
            "wall_sec": min(walls8),
            "urls_per_sec": round(n / min(walls8), 2),
            "dispatch_fingerprint": fp,
        },
        "pairs": {"2->8": {"pairwise_speedup": pairwise}},
        "hardware_ceiling": {"kernel_pair_efficiency": {"2->8": kc}},
        "order_and_seen_identical": True,
        "cpu_util_pinned_cores": {
            "2": [0.99] * len(walls2),
            "8": [0.9] * len(walls8),
        },
        "all_runs_wall_sec": {"2": walls2, "8": walls8},
        "repeats": len(walls2),
        "n_seeds": n_seeds,
        "n_hosts": 10,
        "dim_profile": "default",
    }


def _merge(tmp_path, runs, argv_extra=()):
    paths = []
    for i, r in enumerate(runs):
        p = tmp_path / f"run{i}.json"
        p.write_text(json.dumps(r))
        paths.append(str(p))
    import sys

    old = sys.argv
    sys.argv = ["merge_scaling_runs.py", *paths, *argv_extra]
    try:
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            msr.main()
        return json.loads(buf.getvalue())
    finally:
        sys.argv = old


def test_merge_median_over_union_of_pairs(tmp_path):
    r1 = _mk_run([2.8, 3.0, 3.2], [100, 102, 104], [33, 34, 35])
    r2 = _mk_run([3.4, 3.6, 3.8], [101, 103, 105], [30, 31, 32])
    out = _merge(tmp_path, [r1, r2])
    # union sorted: 2.8 3.0 3.2 3.4 3.6 3.8 -> median (3.2+3.4)/2 = 3.3
    assert out["pairs"]["2->8"]["speedup_median_pairwise"] == pytest.approx(3.3)
    assert out["scaling_efficiency"] == pytest.approx(3.3 / 4.0, abs=1e-3)
    # min-per-level over the union of walls: 100 vs 30
    assert out["local2"]["wall_sec"] == 100
    assert out["local8"]["wall_sec"] == 30
    assert out["criterion_pair"] == "2->8"
    assert out["repeats"] == {"2": 6, "8": 6}


def test_merge_refuses_fixture_mismatch(tmp_path):
    r1 = _mk_run([3.0], [100], [33])
    r2 = _mk_run([3.0], [100], [33], n_seeds=999)
    with pytest.raises(SystemExit, match="fixture mismatch"):
        _merge(tmp_path, [r1, r2])


def test_merge_refuses_fingerprint_mismatch(tmp_path):
    r1 = _mk_run([3.0], [100], [33], fp="aaa")
    r2 = _mk_run([3.0], [100], [33], fp="bbb")
    with pytest.raises(SystemExit, match="fingerprints differ"):
        _merge(tmp_path, [r1, r2])


def test_merge_clamps_superlinear_kernel_ceiling(tmp_path):
    # a >1 "ceiling" is probe noise; normalization must not divide by it
    r1 = _mk_run([3.2, 3.2, 3.2], [100], [31.25], kc=1.3)
    r2 = _mk_run([3.2, 3.2, 3.2], [100], [31.25], kc=1.3)
    out = _merge(tmp_path, [r1, r2])
    eff = out["pairs"]["2->8"]["efficiency"]
    assert out["pairs"]["2->8"]["efficiency_vs_hardware_ceiling"] == pytest.approx(eff)
    assert out["pairs"]["2->8"]["kernel_ceiling_efficiency"] == 1.3  # raw kept
    # a <1 ceiling still normalizes upward
    r3 = _mk_run([3.2, 3.2, 3.2], [100], [31.25], kc=0.8)
    out2 = _merge(tmp_path, [r3, r3])
    assert out2["pairs"]["2->8"]["efficiency_vs_hardware_ceiling"] == pytest.approx(
        eff / 0.8, abs=1e-3
    )


def test_merge_drop_repeat_excludes_contaminated_pair(tmp_path):
    # repeat 1 of run 0 overlapped a host-wide load burst: dropping it
    # must remove its walls from every level, recompute run 0's
    # pairwise ratios from the repeat-ordered wall lists (the stored
    # sorted pairwise no longer identifies repeats), and record the
    # exclusion under dropped_repeats for audit
    r1 = _mk_run([2.0, 3.0, 9.9], [100, 990, 102], [50, 100, 34])
    r2 = _mk_run([3.4], [101], [29.7])
    out = _merge(tmp_path, [r1, r2], argv_extra=("--drop-repeat", "0:1"))
    # run0 recomputed from walls minus repeat 1: 100/50=2.0, 102/34=3.0
    # union with run1's stored [3.4] -> sorted [2.0, 3.0, 3.4] -> median 3.0
    assert out["pairs"]["2->8"]["pairwise_speedup"] == [2.0, 3.0, 3.4]
    assert out["pairs"]["2->8"]["speedup_median_pairwise"] == pytest.approx(3.0)
    assert out["all_runs_wall_sec"]["2"] == [100, 102, 101]
    assert out["all_runs_wall_sec"]["8"] == [50, 34, 29.7]
    assert out["repeats"] == {"2": 3, "8": 3}
    assert out["dropped_repeats"] == [
        {"run": 0, "repeat": 1, "walls": {"2": 990, "8": 100}}
    ]
    # min-per-level must not see the dropped 990s wall
    assert out["local2"]["wall_sec"] == 100


def test_merge_drop_repeat_out_of_range(tmp_path):
    r1 = _mk_run([3.0], [100], [33])
    r2 = _mk_run([3.0], [100], [33])
    with pytest.raises(SystemExit, match="out of range"):
        _merge(tmp_path, [r1, r2], argv_extra=("--drop-repeat", "0:5"))
    with pytest.raises(SystemExit, match="out of range"):
        _merge(tmp_path, [r1, r2], argv_extra=("--drop-repeat", "7:0"))


def test_merge_accepts_reconstructed_partial(tmp_path):
    # a run that died late is reconstructed from its leg log: no
    # n_dispatched, no hardware_ceiling, no dim_profile.  Merging it
    # with a finished run must take the dispatch count and ceiling
    # from the finished run and mark the partial in provenance.
    full = _mk_run([3.0, 3.2], [100, 102], [33, 32], fp="ab12cd34")
    partial = json.loads(
        json.dumps(
            rsc.summarize(
                rsc.parse_legs(
                    "LEG local[2] repeat 1: wall=99.0s util=0.98 fp=ab12cd34\n"
                    "LEG local[8] repeat 1: wall=30.0s util=0.9 fp=ab12cd34\n"
                ),
                n_seeds=100,
                n_hosts=10,
            )
        )
    )
    out = _merge(tmp_path, [partial, full])
    assert out["pairs"]["2->8"]["pairwise_speedup"] == [3.0, 3.2, 3.3]
    assert out["local2"]["n_dispatched"] == 100
    assert out["local8"]["urls_per_sec"] is not None
    assert out["hardware_ceiling"] == full["hardware_ceiling"]
    assert out["merged_from_runs"][0]["reconstructed_from_log"] is True
    assert out["merged_from_runs"][1]["reconstructed_from_log"] is False


def test_merge_tolerates_log_prefix(tmp_path):
    # load_summary accepts a tee'd log whose tail is the JSON summary
    r1 = _mk_run([3.0], [100], [33])
    p = tmp_path / "run.log"
    p.write_text("LEG local[2] repeat 1: wall=100s\n" + json.dumps(r1, indent=2))
    assert msr.load_summary(str(p))["n_seeds"] == r1["n_seeds"]


# ------------------------------------------------------------ bench surface

def test_bench_scaling_summary_shape():
    import bench

    s = bench._scaling_summary()
    # repo SCALING.json always exists in this repo; the surface must
    # carry the criterion fields the driver's BENCH json is judged on
    assert s is not None
    assert set(s) >= {
        "criterion_pair",
        "scaling_efficiency",
        "order_and_seen_identical",
        "urls_per_sec",
        "estimator",
    }
    assert isinstance(s["urls_per_sec"], dict) and s["urls_per_sec"]


# ------------------------------------------------------------ renderer

rsm = _load("rsm_under_test", "scripts/render_scaling_md.py")


def _rendered_block(tmp_path, marker="SCALING_RESULTS"):
    summary = _merge(tmp_path, [_mk_run([3.0, 3.2], [100, 102], [33, 32])] * 2)
    return rsm.render(summary, marker)


def test_render_emits_marker_pair(tmp_path):
    block = _rendered_block(tmp_path)
    assert block.startswith("<!-- SCALING_RESULTS -->")
    assert block.rstrip().endswith("<!-- /SCALING_RESULTS -->")


def test_substitute_paired_region_preserves_outside_prose(tmp_path):
    block = _rendered_block(tmp_path)
    doc = (
        "# Bench\n\n<!-- SCALING_RESULTS -->\nstale table\n"
        "<!-- /SCALING_RESULTS -->\n\n**Interpretive prose.** kept\n\n"
        "<!-- SCALING_RESULTS_40K -->\n\n## Next\n"
    )
    out = rsm.substitute(doc, block, "SCALING_RESULTS")
    assert "stale table" not in out
    assert "**Interpretive prose.** kept" in out  # NOT swallowed
    assert "<!-- SCALING_RESULTS_40K -->" in out
    # idempotent: substituting again yields the same document
    assert rsm.substitute(out, block, "SCALING_RESULTS") == out


def test_substitute_upgrades_bare_placeholder(tmp_path):
    block = _rendered_block(tmp_path, "SCALING_RESULTS_40K")
    doc = "pre\n\n<!-- SCALING_RESULTS_40K -->\n\n## Next heading\nbody\n"
    out = rsm.substitute(doc, block, "SCALING_RESULTS_40K")
    assert "<!-- /SCALING_RESULTS_40K -->" in out
    assert "## Next heading\nbody" in out
    # now paired: a second substitution is exact and idempotent
    assert rsm.substitute(out, block, "SCALING_RESULTS_40K") == out


def test_render_includes_frontier_expand_when_recorded(tmp_path):
    # frontier-expansion wall-time is half the north-rule metric; a run
    # that recorded it per level gets the column, a merged file that
    # pre-dates the field renders without it
    summary = _merge(tmp_path, [_mk_run([3.0, 3.2], [100, 102], [33, 32])] * 2)
    assert "frontier-expand" not in rsm.render(summary, "SCALING_RESULTS")
    summary["local2"]["frontier_expand_sec"] = 1.25
    summary["local8"]["frontier_expand_sec"] = 0.41
    block = rsm.render(summary, "SCALING_RESULTS")
    assert "frontier-expand (s)" in block
    assert "1.25" in block and "0.41" in block


def test_substitute_missing_marker_raises(tmp_path):
    block = _rendered_block(tmp_path)
    with pytest.raises(SystemExit):
        rsm.substitute("# no marker here\n", block, "SCALING_RESULTS")


def test_bench_labels_partial_fat_round_provenance(tmp_path):
    # a 40k summary reconstructed from the per-leg log (run in flight or
    # interrupted) must carry its provenance into the bench surface, so
    # a 1-pair partial can never read as a finished 3-pair measurement
    import bench

    base = _mk_run([3.0], [100], [33])
    (tmp_path / "SCALING.json").write_text(json.dumps(base))
    partial = {
        **base,
        "criterion_pair": "2->8",
        "scaling_efficiency": 0.9,
        "reconstructed_from_log": True,
        "pairs": {
            "2->8": {
                **base["pairs"]["2->8"],
                "n_complete_pairs": 1,
            }
        },
    }
    (tmp_path / ".scaling_40k.json").write_text(json.dumps(partial))
    s = bench._scaling_summary(str(tmp_path))
    assert s["fat_round_40k"]["reconstructed_from_log"] is True
    assert s["fat_round_40k"]["n_complete_pairs"] == 1
    # a finished run (no provenance flags) stays unlabeled
    (tmp_path / ".scaling_40k.json").write_text(json.dumps(base))
    s2 = bench._scaling_summary(str(tmp_path))
    assert "reconstructed_from_log" not in s2["fat_round_40k"]
    assert "n_complete_pairs" not in s2["fat_round_40k"]


def test_bench_surfaces_fat_round_point_when_recorded(tmp_path):
    import bench

    s = bench._scaling_summary()
    assert s is not None
    fat_file = os.path.join(REPO, ".scaling_40k.json")
    if os.path.isfile(fat_file):
        # pre-registered rule: the largest fixture's number is the headline
        assert s["fat_round_40k"]["n_seeds"] == json.load(open(fat_file))["n_seeds"]
        assert (
            s["criterion_headline"]["scaling_efficiency"]
            == s["fat_round_40k"]["scaling_efficiency"]
        )
    else:
        assert "fat_round_40k" not in s


# ------------------------------------------------- leg-log reconstruction

rsc = _load("rsc_under_test", "scripts/reconstruct_scaling.py")

_LOG = """\
LEG local[2] repeat 1: wall=2200.0s util=0.98 fp=aaaa000011112222
LEG local[8] repeat 1: wall=660.0s util=0.9 fp=aaaa000011112222
LEG local[2] repeat 2: wall=2400.0s util=0.99 fp=aaaa000011112222
LEG local[8] repeat 2: wall=700.0s util=0.89 fp=aaaa000011112222
LEG local[2] repeat 3: wall=2310.0s util=0.97 fp=aaaa000011112222
"""


def test_reconstruct_pairs_only_complete_windows():
    # the trailing unpaired local[2] leg must not enter the pairwise
    # median (it has no same-window partner), but stays in all_runs
    runs = rsc.parse_legs(_LOG)
    s = rsc.summarize(runs, n_seeds=40000, n_hosts=1280)
    pair = s["pairs"]["2->8"]
    assert pair["n_complete_pairs"] == 2
    assert pair["pairwise_speedup"] == [
        round(2200.0 / 660.0, 3),
        round(2400.0 / 700.0, 3),
    ]
    # median of two = mean; efficiency = median/4
    med = (pair["pairwise_speedup"][0] + pair["pairwise_speedup"][1]) / 2
    assert pair["speedup_median_pairwise"] == round(med, 3)
    assert s["scaling_efficiency"] == round(med / 4.0, 3)
    assert s["all_runs_wall_sec"][2] == [2200.0, 2400.0, 2310.0]
    assert s["repeats"] == {2: 3, 8: 2}
    assert s["order_and_seen_identical"] is True
    assert s["reconstructed_from_log"] is True
    # fields only the final JSON knows stay null, never fabricated
    assert s["hardware_ceiling"] is None
    assert pair["kernel_ceiling_efficiency"] is None


def test_reconstruct_flags_fingerprint_mismatch():
    runs = rsc.parse_legs(_LOG.replace("fp=aaaa000011112222\nLEG local[2] repeat 3", "fp=bbbb000011112222\nLEG local[2] repeat 3", 1))
    s = rsc.summarize(runs, 40000, 1280)
    assert s["order_and_seen_identical"] is False


def test_render_reconstructed_partial_summary():
    # the real flow: reconstruct --out FILE, then render --json FILE —
    # so the summary round-trips through JSON (str keys).  A partial
    # knows only walls; the renderer must label it PARTIAL and show an
    # em-dash for the URLs/s it cannot know, not crash.
    runs = rsc.parse_legs(_LOG)
    s = json.loads(json.dumps(rsc.summarize(runs, n_seeds=40000, n_hosts=1280)))
    block = rsm.render(s, "SCALING_RESULTS_40K")
    assert "PARTIAL — reconstructed from the per-leg log" in block
    assert "2 complete" in block
    assert "| local[2] | 2200.0 | — |" in block
    assert block.startswith("<!-- SCALING_RESULTS_40K -->")
    assert block.rstrip().endswith("<!-- /SCALING_RESULTS_40K -->")


def test_reconstruct_refuses_without_complete_pair():
    runs = rsc.parse_legs("LEG local[2] repeat 1: wall=100.0s util=0.9 fp=ab12\n")
    with pytest.raises(SystemExit):
        rsc.summarize(runs, 40000, 1280)


# ------------------------------------------------- headline-file rule

def test_repo_headline_is_largest_fixture():
    # pre-registered rule: SCALING.json carries the largest-fixture
    # criterion headline; prior points are linked, present, and smaller
    s = json.load(open(os.path.join(REPO, "SCALING.json")))
    assert s["n_seeds"] == 40000
    assert s["scaling_efficiency"] >= 0.8
    assert s["order_and_seen_identical"] is True
    priors = s.get("prior_fixture_points", [])
    assert priors, "prior 20k point must stay published beside the headline"
    for p in priors:
        assert p["n_seeds"] < s["n_seeds"]
        assert os.path.isfile(os.path.join(REPO, p["file"]))


def test_write_refuses_smaller_fixture_headline_clobber(tmp_path, monkeypatch):
    import sys

    monkeypatch.setattr(msr, "REPO", str(tmp_path))
    (tmp_path / "SCALING.json").write_text(json.dumps({"n_seeds": 40000}))
    paths = []
    for i in range(2):
        r = _mk_run([3.0, 3.1, 3.2], [100 + i, 102, 104], [33, 34, 35])
        rp = tmp_path / f"run{i}.json"
        rp.write_text(json.dumps(r))
        paths.append(str(rp))
    monkeypatch.setattr(
        sys, "argv", ["merge_scaling_runs.py", *paths, "--write"]
    )
    with pytest.raises(SystemExit, match="refusing to overwrite"):
        msr.main()
    assert json.load(open(tmp_path / "SCALING.json"))["n_seeds"] == 40000
    # --out redirects the smaller point without touching the headline
    out_p = tmp_path / "SCALING_20K.json"
    monkeypatch.setattr(
        sys,
        "argv",
        ["merge_scaling_runs.py", *paths, "--write", "--out", str(out_p)],
    )
    msr.main()
    assert json.load(open(out_p))["n_seeds"] == 100
    assert json.load(open(tmp_path / "SCALING.json"))["n_seeds"] == 40000


def test_write_carries_prior_points_forward(tmp_path, monkeypatch):
    """An equal-fixture --write rewrite of SCALING.json must preserve
    the prior_fixture_points linkage (the largest-fixture rule's
    provenance half); a larger-fixture rewrite must DISPLACE the old
    headline to a side file and link it as a new prior point."""
    import sys

    monkeypatch.setattr(msr, "REPO", str(tmp_path))
    prior = [{"n_seeds": 20, "scaling_efficiency": 0.7,
              "criterion_pair": "2->8", "file": "SCALING_0K.json"}]
    (tmp_path / "SCALING.json").write_text(json.dumps({
        "n_seeds": 100, "scaling_efficiency": 0.75,
        "criterion_pair": "2->8", "prior_fixture_points": prior}))
    # equal fixture: links carried forward verbatim
    argv = ["merge_scaling_runs.py"]
    for i in range(2):
        r = _mk_run([3.2, 3.2, 3.2], [100 + i, 101, 102], [31, 32, 33], n_seeds=100)
        pa = tmp_path / f"runA{i}.json"
        pa.write_text(json.dumps(r))
        argv.append(str(pa))
    monkeypatch.setattr(sys, "argv", argv + ["--write"])
    msr.main()
    s = json.loads((tmp_path / "SCALING.json").read_text())
    assert s["prior_fixture_points"] == prior
    # larger fixture: displaced headline published + appended as a prior
    argv = ["merge_scaling_runs.py"]
    for i in range(2):
        r2 = _mk_run([3.3, 3.3, 3.3], [100 + i, 101, 102], [31, 32, 33], n_seeds=4000)
        pb = tmp_path / f"runB{i}.json"
        pb.write_text(json.dumps(r2))
        argv.append(str(pb))
    monkeypatch.setattr(sys, "argv", argv + ["--write"])
    msr.main()
    s2 = json.loads((tmp_path / "SCALING.json").read_text())
    assert s2["n_seeds"] == 4000
    pts = s2["prior_fixture_points"]
    assert prior[0] in pts
    displaced = [q for q in pts if q["n_seeds"] == 100]
    assert displaced and (tmp_path / displaced[0]["file"]).is_file()


def test_out_flag_requires_operand(tmp_path, monkeypatch):
    import sys

    argv = ["merge_scaling_runs.py"]
    for i in range(2):
        r = _mk_run([3.0], [100 + i], [33])
        pa = tmp_path / f"run0{i}.json"
        pa.write_text(json.dumps(r))
        argv.append(str(pa))
    monkeypatch.setattr(sys, "argv", argv + ["--write", "--out"])
    with pytest.raises(SystemExit, match="--out requires"):
        msr.main()


def test_resolve_out_path_protects_larger_headline(tmp_path, capsys):
    """A smaller-fixture run must be DIVERTED, never silently replace a
    recorded larger headline; equal-or-larger fixtures and fresh paths
    write in place (the guard that stops a SCALING_N_SEEDS=200 smoke
    run from clobbering the 40k criterion number)."""
    out = str(tmp_path / "SCALING.json")
    # fresh path → in place
    assert sb.resolve_out_path(out, 200) == out
    json.dump({"n_seeds": 40000}, open(out, "w"))
    # smaller run → diverted, with a printed notice
    assert sb.resolve_out_path(out, 200) == out + ".smaller-fixture"
    assert "smaller" in capsys.readouterr().out
    # same or larger fixture → in place (legitimate re-measure)
    assert sb.resolve_out_path(out, 40000) == out
    assert sb.resolve_out_path(out, 80000) == out
    # unreadable / structurally-unexpected existing file → fail open
    # (never crash after a multi-hour measurement)
    open(out, "w").write("not json")
    assert sb.resolve_out_path(out, 200) == out
    json.dump([], open(out, "w"))  # valid JSON, wrong shape
    assert sb.resolve_out_path(out, 200) == out
    json.dump({"n_seeds": None}, open(out, "w"))  # null n_seeds
    assert sb.resolve_out_path(out, 200) == out
