"""bench.py's round-over-round mover defense must be
environment-independent (round-9 verdict task 2): with no env var,
the previous artifact defaults to the NEWEST serialized
BENCH_LOCAL_r*.json next to the script, so a driver-style invocation
still emits a populated prev_comparison."""

from __future__ import annotations

import importlib.util
import os

_SPEC = importlib.util.spec_from_file_location(
    "bench_mod", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(bench)


def test_default_prev_picks_highest_round(tmp_path):
    for r in (7, 10, 9):
        (tmp_path / f"BENCH_LOCAL_r{r:02d}.json").write_text("{}")
    (tmp_path / "BENCH_LOCAL_notaround.json").write_text("{}")
    got = bench._default_prev(str(tmp_path))
    assert got.endswith("BENCH_LOCAL_r10.json")


def test_default_prev_empty_dir_is_safe(tmp_path):
    assert bench._default_prev(str(tmp_path)) == ""


def test_default_prev_resolves_in_this_repo():
    # the repo carries serialized artifacts from earlier rounds, so a
    # no-env invocation MUST find one (the driver-style path is live)
    assert bench._default_prev() != ""


def test_movers_flags_both_directions_above_floor():
    cur = {"a": 2.0, "b": 0.2, "c": 1.0, "d": 0.4}
    prev = {"a": 0.6, "b": 0.05, "c": 0.9, "d": 1.0}
    flagged, cmp_, drift = bench._movers(cur, prev)
    assert drift is None           # < ENV_DRIFT_MIN_SHARED queries
    assert "a" in flagged          # 3.3x up, above floor
    assert "b" not in flagged      # 4x up but under the 0.5s floor
    assert "c" not in flagged      # 1.1x: not a mover
    assert "d" in flagged          # 2.5x DOWN, above floor
    assert cmp_["a"]["mover"] and cmp_["d"]["mover"]
    assert set(cmp_) == {"a", "b", "c", "d"}


def test_movers_environment_drift_adjustment():
    """The r13 environment-control (r12 judge task 1): a uniformly
    3x-slower host day must flag NOTHING (the median ratio IS the
    drift, adj_ratio ≈ 1 everywhere), while a query that regressed
    3x ON TOP of the drift is still flagged; and on a drift-free day
    the adjustment is a no-op."""
    prev = {f"q{i:02d}": 1.0 for i in range(12)}
    # uniform 3x day: every query 3.0s vs prev 1.0s
    cur = {n: 3.0 for n in prev}
    flagged, cmp_, drift = bench._movers(cur, prev)
    assert drift == 3.0 and flagged == []
    assert all(c["adj_ratio"] == 1.0 for c in cmp_.values())
    # same day, but q00 regressed 3x on top of the drift
    cur["q00"] = 9.0
    flagged, cmp_, drift = bench._movers(cur, prev)
    assert drift == 3.0 and flagged == ["q00"]
    assert cmp_["q00"]["adj_ratio"] == 3.0 and cmp_["q00"]["mover"]
    # drift-free day: raw == adjusted
    cur = {n: 1.0 for n in prev}
    cur["q01"] = 4.0
    flagged, cmp_, drift = bench._movers(cur, prev)
    assert drift == 1.0 and flagged == ["q01"]
    assert cmp_["q01"]["adj_ratio"] == cmp_["q01"]["ratio"] == 4.0


def test_attach_lifecycle_prev(tmp_path, monkeypatch):
    """Task-8 pin: the lifecycle block carries the PREVIOUS round's
    serve numbers + cur/prev ratios inside the current artifact, with
    the same-SF guard the query mover check applies."""
    import json

    prev = {
        "sf": bench._sf_from_dir(bench.SF_DIR),
        "stress": {
            "lifecycle": {
                "text": {
                    "base": {"serve_sec": 0.5},
                    "stress": {"serve_sec": 0.6},
                    "serve_ratio": 1.2,
                },
            }
        },
    }
    p = tmp_path / "BENCH_LOCAL_prev.json"
    p.write_text(json.dumps(prev))
    monkeypatch.setattr(bench, "PREV_PATH", str(p))
    lc = {
        "text": {
            "base": {"serve_sec": 1.0},
            "stress": {"serve_sec": 1.5},
            "serve_ratio": 1.5,
        }
    }
    bench._attach_lifecycle_prev(lc)
    got = lc["text"]["prev"]
    assert got["base"] == {"serve_sec": 0.5, "serve_vs_prev": 2.0}
    assert got["stress"] == {"serve_sec": 0.6, "serve_vs_prev": 2.5}
    assert got["serve_ratio"] == 1.2
    # cross-SF prev: refused, block untouched
    prev["sf"] = 999.0
    p.write_text(json.dumps(prev))
    lc2 = {"text": {"base": {"serve_sec": 1.0}}}
    bench._attach_lifecycle_prev(lc2)
    assert "prev" not in lc2["text"]


def test_close_round_picks_full_artifact_not_summary(tmp_path):
    """tools/close_round.py records the last JSON line carrying
    "metric" — the full artifact bench.py prints last — and skips
    non-JSON lines and JSON lines without "metric"."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "close_round_mod",
        os.path.join(
            os.path.dirname(__file__), "..", "tools", "close_round.py"
        ),
    )
    cr = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cr)
    full = {"metric": "suite_median_wall_sec", "value": 1.0, "queries": {}}
    stdout = "\n".join(
        ["# noise", json.dumps({"not_metric": 1}), json.dumps(full), "# tail"]
    )
    assert cr.pick_artifact(stdout) == json.dumps(full)
    assert cr.pick_artifact("no json here\n{not json}") is None
    assert cr.pick_artifact(json.dumps({"value": 1.0})) is None


def test_adopt_solo_replaces_headline_and_keeps_old_number():
    """r13 verdict task 5: a contention-inflated median is replaced by
    the solo best-of in the headline map; the displaced number is
    returned (kept verbatim in the artifact); a solo that did NOT beat
    the median, a failed solo (None), and an unknown name are no-ops."""
    per_query = {"a": 5.05, "b": 0.3, "c": 1.0}
    solo = {"a": 0.26, "b": 0.4, "c": None, "ghost": 0.1}
    displaced = bench._adopt_solo(per_query, solo)
    assert per_query == {"a": 0.26, "b": 0.3, "c": 1.0}
    assert displaced == {"a": 5.05}
