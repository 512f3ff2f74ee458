"""One change feed per epoch: the applier publishes the outbox segment
first and every view folds that segment, so ``IceliteTable.changes`` runs
once per applied epoch. A view that is not at the segment's base (a
bootstrap, a view left behind by a crash) computes its own feed, and
every view still equals its from-scratch recompute."""

import re

import pytest

from nifi_processors_spark.operators.apply import ChangeApplier
from nifi_processors_spark.plans.ivm import MaterializedView, grouped_agg
from nifi_processors_spark.plans.table import IceliteTable
from nifi_processors_spark.sources.genlog import GenLogConfig, write_change_log

from .oracle import sha256
from .test_outbox import _fingerprint, _replay

VIEWS = {"by_language": (["language"], ["size_bytes"]),
         "by_repo": (["repo"], [])}
EPOCHS = 4


@pytest.fixture()
def changelog(spark, tmp_path):
    cl = str(tmp_path / "cl")
    write_change_log(spark, GenLogConfig(n_events=1600, n_epochs=EPOCHS,
                                         evolve_at_epoch=0), cl)
    return cl


@pytest.fixture()
def changes_calls(monkeypatch):
    """The ranges ``IceliteTable.changes`` was asked for, in call order."""
    calls = []
    real = IceliteTable.changes

    def spy(self, frm, to):
        calls.append((frm, to))
        return real(self, frm, to)

    monkeypatch.setattr(IceliteTable, "changes", spy)
    return calls


def _applier(spark, tmp_path, changelog, **kw):
    return ChangeApplier(spark, str(tmp_path / "t"), changelog, str(tmp_path / "s"),
                         n_buckets=4, merge_mode="mor", compact_every=2, **kw)


def _record_refreshes(ap) -> list[dict]:
    """Wrap the applier's ``refresh_views``; returns the records it gave."""
    out = []
    real = ap.refresh_views

    def recording(feed=None):
        out.append(real(feed))
        return out[-1]

    ap.refresh_views = recording
    return out


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _assert_views_recompute(ap):
    state = ap.state()
    for name, (group_cols, value_cols) in ap.views.items():
        cols = group_cols + ["n_rows"] + [f"sum_{c}" for c in value_cols]
        view = ap.view(name).read()
        assert _rows(view, cols) == _rows(grouped_agg(state, group_cols, value_cols), cols)
        assert view.count() > 0


def _assert_outbox_replays_state(ap):
    """Segments cover contiguous, non-overlapping snapshot ranges, and
    replaying them in order gives the state."""
    ranges = [tuple(map(int, re.fullmatch(r"seg_(\d+)_(\d+)", s).groups()))
              for s in ap.outbox.segments()]
    assert all(a < b for a, b in ranges)
    assert all(prev[1] == nxt[0] for prev, nxt in zip(ranges, ranges[1:]))
    replayed = {k: sha256(v) for k, v in _replay(ap.spark, ap.outbox).items()}
    assert replayed == _fingerprint(ap.state()) and replayed


def test_one_feed_per_epoch(spark, tmp_path, changelog, changes_calls):
    ap = _applier(spark, tmp_path, changelog, expire_snapshots_every=2,
                  views=VIEWS, outbox=True)
    refreshes = _record_refreshes(ap)
    recs = ap.run()
    assert len(recs) == EPOCHS
    assert len(changes_calls) == EPOCHS
    # epoch 1 bootstraps the views; every later epoch folds the segment
    assert {r["mode"] for r in refreshes[0].values()} == {"bootstrap"}
    for per_view in refreshes[1:]:
        assert {(r["mode"], r["feed"]) for r in per_view.values()} == {("delta", "outbox")}
    _assert_views_recompute(ap)
    _assert_outbox_replays_state(ap)
    assert len(ap.outbox.segments()) == EPOCHS


def test_views_only_and_outbox_only_compute_their_own_feed(
        spark, tmp_path, changelog, changes_calls):
    views = _applier(spark, tmp_path / "v", changelog, views=VIEWS)
    views.run()
    # views bootstrap at epoch 1, then each view computes its own feed
    assert len(changes_calls) == (EPOCHS - 1) * len(VIEWS)
    _assert_views_recompute(views)
    changes_calls.clear()
    outbox = _applier(spark, tmp_path / "o", changelog, outbox=True)
    outbox.run()
    assert len(changes_calls) == EPOCHS
    _assert_outbox_replays_state(outbox)


@pytest.mark.parametrize("crash_epoch", [2, EPOCHS])
def test_view_crash_after_outbox_hand_off(spark, tmp_path, changelog, changes_calls,
                                          monkeypatch, crash_epoch):
    """The view refresh fails once, after the outbox pointer has moved: a
    fresh applier's ``run()`` — with epochs still pending, or with none —
    lets each view compute its feed from its own base, leaves it equal to
    its recompute, and the outbox emits no range twice."""
    real = MaterializedView.refresh
    calls = []

    def refresh_fails_once(self, table, feed=None):
        calls.append(1)
        if len(calls) == (crash_epoch - 1) * len(VIEWS) + 1:
            raise RuntimeError("injected view crash")
        return real(self, table, feed)

    monkeypatch.setattr(MaterializedView, "refresh", refresh_fails_once)
    crashed = _applier(spark, tmp_path, changelog, views=VIEWS, outbox=True)
    with pytest.raises(RuntimeError, match="injected view crash"):
        crashed.run()
    t = IceliteTable(spark, str(tmp_path / "t"))
    assert crashed.outbox.pointer()["snapshot_id"] == t.current_snapshot_id()
    bases = {name: crashed.view(name).pointer()["snapshot_id"] for name in VIEWS}
    assert all(b < t.current_snapshot_id() for b in bases.values())
    monkeypatch.setattr(MaterializedView, "refresh", real)

    changes_calls.clear()
    fresh = _applier(spark, tmp_path, changelog, views=VIEWS, outbox=True)
    refreshes = _record_refreshes(fresh)
    assert len(fresh.run()) == EPOCHS - crash_epoch
    cur = refreshes[0]["by_language"]["snapshot_id"]
    assert {name: (r["feed"], r["from_snapshot"]) for name, r in refreshes[0].items()} == {
        name: ("changes", b) for name, b in bases.items()}
    # one catch-up feed per view from its own base, then one outbox feed
    # per applied epoch that the views fold
    assert all((b, cur) in changes_calls for b in bases.values())
    assert len(changes_calls) == len(VIEWS) + EPOCHS - crash_epoch
    for per_view in refreshes[1:]:
        assert {(r["mode"], r["feed"]) for r in per_view.values()} == {("delta", "outbox")}
    _assert_views_recompute(fresh)
    _assert_outbox_replays_state(fresh)
