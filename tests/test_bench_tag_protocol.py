"""The bench tag-baseline protocol's round-13 fixes (VERDICT r13 #2,
ADVICE r13): symmetric child-to-child classification, published-number
repair, tracked-artifact rev resolution, and marker-less-but-robust
child metrics parsing. Pure-Python tests — no Spark session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _require_git_history():
    """The artifact resolvers read committed BENCH_r*.json revisions; a
    tree exported without its history (``git archive``) has none."""
    if not os.path.exists(os.path.join(REPO, ".git")):
        pytest.skip("checkout has no git history (an export, not a clone)")


# ---------------------------------------------------------------------------
# _parse_child_metrics (ADVICE r13: 'last line starting with {' fragility)
# ---------------------------------------------------------------------------


def _metrics_line(**over):
    doc = {"metric": "headline_total", "value": 1.5, "cold_total": 4.0,
           "queries": {"q1": 0.5}}
    doc.update(over)
    return json.dumps(doc)


def test_parse_child_metrics_happy_path():
    doc, tail = bench._parse_child_metrics("noise\n" + _metrics_line() + "\n")
    assert tail is None and doc["value"] == 1.5


def test_parse_child_metrics_skips_trailing_brace_garbage():
    """A diagnostic line that happens to start with '{' after the metrics
    line must not discard the measurement (the r13 failure mode: the
    broad except turned it into an opaque error after an hour-long run)."""
    out = _metrics_line() + "\n{this is not json\n"
    doc, tail = bench._parse_child_metrics(out)
    assert tail is None and doc["value"] == 1.5


def test_parse_child_metrics_skips_other_json():
    """A later VALID json line that isn't the headline metric (e.g. a
    stray progress record) is skipped, not mistaken for the metrics."""
    out = _metrics_line() + "\n" + json.dumps({"progress": 0.9}) + "\n"
    doc, tail = bench._parse_child_metrics(out)
    assert tail is None and doc["metric"] == "headline_total"


def test_parse_child_metrics_truncated_line_returns_tail():
    out = "some stdout\n" + _metrics_line()[:40]  # truncated final line
    doc, tail = bench._parse_child_metrics(out)
    assert doc is None and tail and "some stdout" in tail


# ---------------------------------------------------------------------------
# _tag_baseline_rev (ADVICE r13: newest artifact may be uncommitted)
# ---------------------------------------------------------------------------


def test_tag_rev_skips_uncommitted_newest_artifact():
    """With an uncommitted BENCH_r999.json present (exactly the state the
    driver leaves the tree in mid-round), the resolver must fall back to
    the newest COMMITTED artifact's commit instead of returning None."""
    _require_git_history()
    fake = os.path.join(REPO, "BENCH_r999.json")
    committed = subprocess.run(
        ["git", "log", "-1", "--format=%H", "--", "BENCH_r13.json"],
        cwd=REPO, capture_output=True, text=True,
    ).stdout.strip()
    assert committed, "fixture assumption: BENCH_r13.json is committed"
    try:
        with open(fake, "w") as fh:
            fh.write("{}")
        rev = bench._tag_baseline_rev()
        assert rev, "resolver returned None with committed artifacts present"
        # the fake uncommitted artifact must NOT have produced an empty rev;
        # the resolved rev must be a real commit
        ok = subprocess.run(["git", "cat-file", "-e", rev], cwd=REPO)
        assert ok.returncode == 0
    finally:
        os.unlink(fake)


def test_tag_rev_honors_off():
    old = os.environ.get("SPARK_GRAFT_TAG_BASELINE")
    try:
        os.environ["SPARK_GRAFT_TAG_BASELINE"] = "off"
        assert bench._tag_baseline_rev() is None
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_TAG_BASELINE", None)
        else:
            os.environ["SPARK_GRAFT_TAG_BASELINE"] = old


# ---------------------------------------------------------------------------
# _apply_tag_verdicts (VERDICT r13 #2: symmetric child-to-child compare)
# ---------------------------------------------------------------------------


def _env(name, now, prev):
    return {name: {"prev": prev, "now": now, "delta": round(now - prev, 3),
                   "classification": "outside_envelope"}}


def test_degraded_session_is_environment_not_code_change():
    """The r13 driver-artifact scenario: the in-session reading is 3×
    the tag child's, but the HEAD child agrees with the tag child — the
    old asymmetric compare stamped this code_change; child-to-child must
    say environment, and the published number must be the fresh-child
    reading."""
    envelopes = _env("cdc_apply_sequential", now=2.732, prev=0.751)
    timings = {"cdc_apply_sequential": 2.732}
    bench._apply_tag_verdicts(
        envelopes, ["cdc_apply_sequential"],
        tag_baseline={"queries": {"cdc_apply_sequential": 0.76}},
        head_fresh={"queries": {"cdc_apply_sequential": 0.79}},
        timings=timings,
    )
    e = envelopes["cdc_apply_sequential"]
    assert e["tag_classification"] == "environment"
    assert e["tag_basis"] == "head_fresh_child"
    assert e["published"] == "head_fresh_child"
    assert e["in_session_now"] == 2.732
    assert timings["cdc_apply_sequential"] == 0.79


def test_real_code_regression_still_flags():
    """A genuine plan regression survives the fresh-child re-run — the
    HEAD child reads it just as slow as the session did — and must keep
    its code_change stamp."""
    envelopes = _env("q9_product_profit", now=1.90, prev=0.60)
    timings = {"q9_product_profit": 1.90}
    bench._apply_tag_verdicts(
        envelopes, ["q9_product_profit"],
        tag_baseline={"queries": {"q9_product_profit": 0.62}},
        head_fresh={"queries": {"q9_product_profit": 1.85}},
        timings=timings,
    )
    e = envelopes["q9_product_profit"]
    assert e["tag_classification"] == "code_change"
    assert timings["q9_product_profit"] == 1.85


def test_head_child_failure_falls_back_to_in_session():
    """If the HEAD child died, classification still happens against the
    in-session number and SAYS SO — no silent pretence of symmetry."""
    envelopes = _env("q1", now=1.0, prev=0.5)
    timings = {"q1": 1.0}
    bench._apply_tag_verdicts(
        envelopes, ["q1"],
        tag_baseline={"queries": {"q1": 0.95}},
        head_fresh={"error": "child died"},
        timings=timings,
    )
    e = envelopes["q1"]
    assert e["tag_basis"] == "head_in_session"
    assert e["tag_classification"] == "environment"
    assert timings["q1"] == 1.0  # nothing repaired without a reading


def test_missing_tag_reading_recorded():
    envelopes = _env("new_query_this_round", now=1.0, prev=0.5)
    timings = {"new_query_this_round": 1.0}
    bench._apply_tag_verdicts(
        envelopes, ["new_query_this_round"],
        tag_baseline={"queries": {}},
        head_fresh={"queries": {"new_query_this_round": 0.9}},
        timings=timings,
    )
    e = envelopes["new_query_this_round"]
    assert e["tag_classification"] == "no_tag_reading"
    # the fresh-child repair still applies even without a tag reading
    assert timings["new_query_this_round"] == 0.9


# ---------------------------------------------------------------------------
# _newest_committed_bench_artifact (VERDICT r14 #6: the envelope-triage
# baseline must never resolve to the current round's uncommitted artifact)
# ---------------------------------------------------------------------------


def test_previous_round_baseline_skips_uncommitted_artifact(monkeypatch):
    """A mid-round re-run with an uncommitted BENCH_r999.json in the tree
    must triage against the newest COMMITTED artifact, not HEAD's own
    round's numbers (which would suppress every envelope flag)."""
    _require_git_history()
    fake = os.path.join(REPO, "BENCH_r999.json")
    monkeypatch.delenv("SPARK_GRAFT_PREV_BENCH", raising=False)
    try:
        with open(fake, "w") as fh:
            fh.write(json.dumps({"sf": 0.1, "queries": {"q1": 99.0}}))
        found = bench._newest_committed_bench_artifact()
        assert found is not None
        path, rev = found
        assert not path.endswith("BENCH_r999.json")
        assert rev
        tracked = subprocess.run(
            ["git", "log", "-1", "--format=%H", "--", os.path.basename(path)],
            cwd=REPO, capture_output=True, text=True,
        ).stdout.strip()
        assert tracked == rev
        # and the triage consumer rides the same resolution: the fake's
        # poisoned q1=99.0 must not be what _previous_round_queries reads
        doc = json.load(open(path))
        parsed = doc.get("parsed") if isinstance(doc.get("parsed"), dict) else doc
        if parsed.get("sf") == 0.1:
            q = bench._previous_round_queries(0.1)
            assert q.get("q1") != 99.0
    finally:
        os.remove(fake)


def test_tag_rev_and_prev_queries_share_resolution():
    """Both consumers must name the same committed artifact (the shared
    helper is the fix — two parallel walks is how the r13 asymmetry
    happened in the first place)."""
    _require_git_history()
    found = bench._newest_committed_bench_artifact()
    assert found is not None
    assert bench._tag_baseline_rev() == found[1]


def test_apply_tag_verdicts_repairs_query_stats_median():
    """ADVICE r14: full['queries'] and full['query_stats'] must agree for
    flagged queries after the fresh-child repair."""
    envelopes = _env("q1", now=2.0, prev=0.5)
    timings = {"q1": 2.0}
    stats = {"q1": {"min": 1.9, "median": 2.0, "max": 2.2, "n": 5}}
    bench._apply_tag_verdicts(
        envelopes, ["q1"],
        tag_baseline={"queries": {"q1": 0.55}},
        head_fresh={"queries": {"q1": 0.6}},
        timings=timings, stats=stats,
    )
    assert timings["q1"] == 0.6
    assert stats["q1"]["median"] == 0.6
    assert stats["q1"]["published"] == "head_fresh_child"
    assert stats["q1"]["minmax_basis"] == "in_session_envelope"
