"""Unit tests for bench.py's paired-probe normalization protocol.

Pure-Python (no Spark): pins the arithmetic of _paired_normalized and the
credibility flag added after the 2026-08-19 overcorrection incident (a c1
leg whose probes caught a worse window than the leg itself experienced
normalized to paired efficiency 2.09 — physically implausible, must be
flagged rather than banked).
"""
import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import bench  # noqa: E402


@pytest.fixture(autouse=True)
def _reset_probe_best():
    saved = dict(bench._PROBE_LEG_BEST)
    bench._PROBE_LEG_BEST.clear()
    yield
    bench._PROBE_LEG_BEST.clear()
    bench._PROBE_LEG_BEST.update(saved)


def _meta(probe_walls_per_leg):
    return [{"probe_walls": pw} for pw in probe_walls_per_leg]


def test_quiet_legs_are_untouched_and_credible():
    # both legs ran in the best window: deflation 1.0, paired == raw
    walls = {1: [100.0], 4: [31.25]}
    meta = {1: _meta([[10.0, 10.0]]), 4: _meta([[4.0, 4.0]])}
    out = bench._paired_normalized(walls, meta, [1, 4], n_docs=1000)
    assert out["norm_wall_s"] == {"1": 100.0, "4": 31.25}
    assert out["deflation"] == {"1": 1.0, "4": 1.0}
    assert out["paired_efficiency"] == 0.8
    assert out["credible"] is True


def test_degraded_leg_is_credited_back():
    # the c4 leg ran in a 2x-degraded window (probe 8 vs best 4): its wall
    # is halved before the ratio, restoring the quiet-window efficiency
    walls = {1: [100.0], 4: [62.5]}
    meta = {1: _meta([[10.0, 10.0]]), 4: _meta([[8.0, 8.0]])}
    bench._PROBE_LEG_BEST.update({1: 10.0, 4: 4.0})
    out = bench._paired_normalized(walls, meta, [1, 4], n_docs=1000)
    assert out["norm_wall_s"]["4"] == 31.25
    assert out["deflation"] == {"1": 1.0, "4": 2.0}
    assert out["paired_efficiency"] == 0.8
    assert out["credible"] is True


def test_overcorrection_is_flagged_not_banked():
    # the 2026-08-19 failure shape (real run values): the single c1 leg's
    # own degraded probe is the best seen at c1 (no credit, deflation 1.0)
    # while one c4 leg's probes overstate its window by ~3x (full credit)
    # -> the asymmetric crediting lands paired at 2.09 and must be flagged
    walls = {1: [418.28], 4: [149.57, 196.13]}
    meta = {1: _meta([[14.77, 37.27]]),
            4: _meta([[28.77, 8.2], [8.42, 3.93]])}
    out = bench._paired_normalized(walls, meta, [1, 4], n_docs=240000)
    assert out["paired_efficiency"] > 1.15
    assert out["credible"] is False
    assert out["deflation"]["1"] == 1.0 and out["deflation"]["4"] > 2.5
    # the markdown renderer surfaces the flag so it cannot be banked quietly
    md = bench._paired_md(out)
    assert "NOT CREDIBLE" in md


def test_min_leg_selection_tracks_deflated_wall():
    # two c4 legs: the slower raw leg in the worse window deflates to the
    # better normalized wall and its deflation is the one reported
    walls = {1: [100.0], 4: [40.0, 60.0]}
    meta = {1: _meta([[10.0, 10.0]]),
            4: _meta([[4.0, 4.0], [8.0, 8.0]])}
    out = bench._paired_normalized(walls, meta, [1, 4], n_docs=1000)
    assert out["norm_wall_s"]["4"] == 30.0
    assert out["deflation"]["4"] == 2.0


def test_missing_probes_returns_none():
    walls = {1: [100.0], 4: [30.0]}
    meta = {1: _meta([[10.0, 10.0]]), 4: [{}]}
    assert bench._paired_normalized(walls, meta, [1, 4], 1000) is None


def _fake_run(c1, c4, legs4, raw, ctl, mn):
    return {"er_scaling": {
        "wall_s": {"1": c1, "4": c4},
        "all_walls": {"1": [c1], "4": [c4] * legs4},
        "scaling_efficiency": raw,
        "hw_control": {"efficiency": {"1->4": ctl}},
        "machine_normalized_efficiency": mn,
    }}


def test_cross_run_table_rows_archives_plus_current(tmp_path, monkeypatch):
    # archives render one row each (values read from the file, label from
    # _RUN_NOTES or the filename stem); an unseen current run appends a row
    import json as _json
    (tmp_path / "BENCH").mkdir()
    (tmp_path / "BENCH" / "result_run_20260818_mixedwindow.json").write_text(
        _json.dumps(_fake_run(486.98, 127.89, 5, 0.952, 0.774, 1.23)))
    (tmp_path / "BENCH" / "result_run_zz_newrun.json").write_text(
        _json.dumps(_fake_run(300.0, 100.0, 2, 0.75, 0.8, 0.94)))
    monkeypatch.setattr(bench, "REPO", tmp_path)
    cur = _fake_run(320.0, 99.0, 3, 0.808, 0.82, 0.985)["er_scaling"]
    monkeypatch.setitem(bench.RESULT, "er_scaling", cur)
    md = bench._cross_run_md()
    assert "3 full same-protocol runs" in md
    assert "| A (mixed window) | 08-18, lz4 shuffle | 486.98 " in md
    # unannotated archive falls back to the filename stem, raw below target
    # stays unbolded
    assert "| zz_newrun | - | 300.0 | 100.0 (2 legs) | 0.75 |" in md
    # the current run's row is appended and its >=0.8 raw is bolded
    assert "| this run (`result_latest.json`) | latest | 320.0 " in md
    assert "**0.808**" in md


def _fake_full_run(raw, c4, probe1, probe4, aligned=False, partial=False):
    r = _fake_run(300.0, c4, 2, raw, 0.8, round(raw / 0.8, 3))
    r["partial"] = partial
    r["er_scaling"]["n_docs"] = 600000
    r["er_scaling"]["paired_normalized"] = {
        "probe_best_s": {"1": probe1, "4": probe4},
        "paired_efficiency": raw,
        "credible": True,
    }
    if aligned:
        r["aligned_scaling"] = {
            "scaling_efficiency": 0.9,
            "wall_s": {"1": 150.0, "4": 42.0},
            "n_entities": 30000,
            "paired_normalized": {"probe_best_s": {"1": 11.0, "4": 3.5}},
        }
    return r


def test_archived_best_picks_max_raw_and_counts_targets(tmp_path):
    import json as _json
    d = tmp_path / "BENCH"
    d.mkdir()
    (d / "result_run_a.json").write_text(
        _json.dumps(_fake_full_run(0.828, 104.7, 10.5, 3.1)))
    (d / "result_run_b.json").write_text(
        _json.dumps(_fake_full_run(0.495, 266.8, 12.0, 3.6)))
    # a partial (timed-out) run must never be counted as banked evidence
    (d / "result_run_c.json").write_text(
        _json.dumps(_fake_full_run(0.99, 90.0, 9.0, 3.0, partial=True)))
    best = bench._archived_scaling_best(bench_dir=d)
    assert best["raw_efficiency"] == 0.828
    assert best["file"] == "BENCH/result_run_a.json"
    assert best["runs_total"] == 2
    assert best["runs_meeting_target"] == 1
    assert best["wall_s"]["4"] == 104.7
    # no archives at all -> None, not a crash
    empty = tmp_path / "EMPTY"
    empty.mkdir()
    assert bench._archived_scaling_best(bench_dir=empty) is None


def test_archived_probe_floor_spans_runs_and_blocks(tmp_path):
    import json as _json
    d = tmp_path / "BENCH"
    d.mkdir()
    (d / "result_run_a.json").write_text(
        _json.dumps(_fake_full_run(0.828, 104.7, 10.5, 3.1, aligned=True)))
    (d / "result_run_b.json").write_text(
        _json.dumps(_fake_full_run(0.495, 266.8, 12.0, 2.9)))
    floor = bench._archived_probe_floor(bench_dir=d)
    # min across runs AND across flagship/aligned blocks within a run
    assert floor == {1: 10.5, 4: 2.9}


def test_cross_run_probe_floor_credits_all_degraded_run():
    # every window THIS run saw was ~2x degraded (probes 20/8 vs committed
    # floor 10/4, hitting c4 harder as measured): in-run paired can't see
    # it, the cross-run floor credits both levels back
    walls = {1: [200.0], 4: [125.0]}
    meta = {1: _meta([[20.0, 20.0]]), 4: _meta([[16.0, 16.0]])}
    in_run = bench._paired_normalized(walls, meta, [1, 4], n_docs=1000)
    assert in_run["deflation"] == {"1": 1.0, "4": 1.0}  # blind to it
    xrun = bench._paired_normalized(walls, meta, [1, 4], n_docs=1000,
                                    probe_floor={1: 10.0, 4: 4.0})
    assert xrun["deflation"] == {"1": 2.0, "4": 4.0}
    assert xrun["norm_wall_s"] == {"1": 100.0, "4": 31.25}
    assert xrun["paired_efficiency"] == 0.8


def test_cross_run_table_dedupes_spliced_current(tmp_path, monkeypatch):
    # an --aligned-scaling-only splice re-renders an archived run: the
    # current RESULT must not produce a duplicate row
    import json as _json
    (tmp_path / "BENCH").mkdir()
    run = _fake_run(346.72, 104.74, 6, 0.828, 0.855, 0.968)
    (tmp_path / "BENCH" / "result_run_20260819_zstd.json").write_text(
        _json.dumps(run))
    monkeypatch.setattr(bench, "REPO", tmp_path)
    monkeypatch.setitem(bench.RESULT, "er_scaling", run["er_scaling"])
    md = bench._cross_run_md()
    assert "1 full same-protocol runs" in md
    assert "this run" not in md


def test_cluster_leg_merge_extends_comparable_topology():
    # a re-run at the same topology/corpus/exec-mem folds old legs in
    prev = {"2->8": {
        "n_docs": 600, "mode": "local-cluster (… 1 core × 1024 MB each)",
        "all_walls": {"2": [150.0], "8": [70.0]},
        "leg_meta": {"2": [{"probe_walls": [5, 5]}],
                     "8": [{"probe_walls": [2, 2]}]},
    }}
    walls = {2: [160.0], 8: [65.0]}
    meta = {2: [{"probe_walls": [6, 6]}], 8: [{"probe_walls": [2, 2]}]}
    bench._merge_cluster_legs(prev, 2, 8, walls, meta,
                              n_docs=600, per_exec=1024)
    assert walls == {2: [150.0, 160.0], 8: [70.0, 65.0]}
    assert len(meta[2]) == 2 and len(meta[8]) == 2
    # min-wall estimator then takes the best leg regardless of which run
    assert min(walls[2]) == 150.0 and min(walls[8]) == 65.0


def test_cluster_leg_merge_skips_incomparable_legs():
    base = {
        "n_docs": 600, "mode": "local-cluster (… 1 core × 1024 MB each)",
        "all_walls": {"2": [150.0], "8": [70.0]},
        "leg_meta": {"2": [{}], "8": [{}]},
    }
    for bad in (
        {**base, "n_docs": 999},                       # corpus changed
        {**base, "mode": "… 1 core × 2048 MB each)"},  # exec mem changed
    ):
        walls = {2: [160.0], 8: [65.0]}
        meta = {2: [{}], 8: [{}]}
        bench._merge_cluster_legs({"2->8": bad}, 2, 8, walls, meta,
                                  n_docs=600, per_exec=1024)
        assert walls == {2: [160.0], 8: [65.0]}  # untouched
    # different topology key: also untouched
    walls = {1: [300.0], 4: [100.0]}
    meta = {1: [{}], 4: [{}]}
    bench._merge_cluster_legs({"2->8": base}, 1, 4, walls, meta,
                              n_docs=600, per_exec=1024)
    assert walls == {1: [300.0], 4: [100.0]}


def test_renderers_survive_the_real_bench_dir():
    """Every artifact-glob renderer must consume the repo's ACTUAL BENCH/
    directory without raising. Regression guard for the r6-continuation
    incident: an extra evidence file named stage_run_c4_interleave_r6b.json
    matched _stage_table_md's stage_run_c*.json glob and crashed a full
    frozen-protocol bench run at its final page render (KeyError: 'cores') —
    the exact failure class that makes a round unmeasurable. New BENCH/
    files must not collide with result_run_*, stage_run_x*, stage_run_c*,
    aligned_stage_run_c*, mem_ab_d*, or incremental_run_* unless they carry
    those schemas."""
    for render in (bench._stage_table_md, bench._mem_ab_md,
                   bench._aligned_md, bench._incremental_md,
                   bench._cluster_md, bench._triage_md, bench._cross_run_md):
        out = render()
        assert isinstance(out, str)


def test_renderers_skip_artifacts_missing_their_keys(tmp_path, monkeypatch,
                                                     capsys):
    """A glob-matched BENCH/ file without the keys a renderer reads is
    logged and skipped; the well-formed artifacts beside it still render."""
    bench_dir = tmp_path / "BENCH"
    bench_dir.mkdir()
    good = {"cores": 4, "n_docs": 100, "stage_walls": {"features": 1.5}}
    (bench_dir / "stage_run_c4.json").write_text(json.dumps(good))
    (bench_dir / "stage_run_x4.json").write_text(json.dumps(good))
    (bench_dir / "aligned_stage_run_c4.json").write_text(json.dumps(
        {**good, "stage_counts": {"features": 100}}))
    (bench_dir / "cluster_scaling.json").write_text(json.dumps({"runs": {
        "1->4": {"levels": [1, 4], "wall_s": {"1": 8.0, "4": 2.5},
                 "docs_per_sec": {"1": 12.5, "4": 40.0},
                 "scaling_efficiency": 0.8, "all_walls": {}, "leg_meta": {},
                 "run_date": "2026-01-01", "n_docs": 100}}}))
    stray = {"stage_walls": {"features": 9.9}}
    for name in ("stage_run_c9_x.json", "stage_run_x9_x.json",
                 "aligned_stage_run_c9_x.json", "mem_ab_d9_x.json",
                 "incremental_run_x.json"):
        (bench_dir / name).write_text(json.dumps(stray))
    monkeypatch.setattr(bench, "REPO", tmp_path)

    assert "| features | 1.5 |" in bench._stage_table_md()
    assert "| features | 1.5 | 100 |" in bench._aligned_md({})
    assert bench._mem_ab_md().startswith("No measured heap A/B")
    assert bench._incremental_md().startswith("No persisted incremental")
    assert "| features | 1.5 |" in bench._cluster_md()
    err = capsys.readouterr().err
    assert "skipping BENCH/stage_run_c9_x.json: no cores" in err
    assert "skipping BENCH/aligned_stage_run_c9_x.json: no cores" in err
    assert "skipping BENCH/stage_run_x9_x.json: no cores" in err
    assert "skipping BENCH/mem_ab_d9_x.json: no runs" in err
    assert "skipping BENCH/incremental_run_x.json: no variants" in err
