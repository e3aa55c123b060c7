"""Model-based check of manifest.branch_replay: the parent-pointer
visibility state, the made-current history and each id's state must
match a naive reference model (full visible-list copies) over
arbitrary snapshot/stage/publish/abort/rollback sequences."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from libgiddy_spark.manifest import branch_replay


class _NaiveModel:
    """O(n^2) reference: store the full visible list at every event."""

    def __init__(self):
        self.chain = []
        self.visible = []
        self.vis_at = {}       # sid -> visible list right after join
        self.staged = {}       # sid -> visible list at stage point
        self.aborted = set()
        self.seen = set()
        self.has_rollback = False
        self.history = []      # sid each time one became current

    def apply(self, e):
        k = e["kind"]
        if k == "snapshot":
            sid = e["snapshot_id"]
            if sid in self.seen:
                return
            self.seen.add(sid)
            if e.get("staged"):
                self.staged[sid] = list(self.visible)
            else:
                self._join(sid)
        elif k == "publish":
            sid = e["snapshot_id"]
            if sid not in self.staged or sid in self.aborted:
                return
            if e.get("abort"):
                self.aborted.add(sid)
            else:
                self._join(sid)
            self.staged.pop(sid)
        elif k == "rollback":
            to = e["to"]
            if to in self.vis_at:
                self.visible = list(self.vis_at[to])
                self.has_rollback = True
                self.history.append(to)

    def _join(self, sid):
        self.chain.append(sid)
        self.visible.append(sid)
        self.vis_at[sid] = list(self.visible)
        self.history.append(sid)

    def state(self, sid):
        if sid in self.staged:
            return "staged"
        if sid in self.aborted:
            return "aborted"
        if sid not in self.vis_at:
            return None
        if self.visible and sid == self.visible[-1]:
            return "current"
        return "ancestor" if sid in self.visible else "orphaned"


def _ops_strategy():
    sid = st.integers(0, 11).map(lambda i: f"s{i}")
    snapshot = st.tuples(st.just("snapshot"), sid, st.booleans()).map(
        lambda t: {"kind": t[0], "snapshot_id": t[1], "staged": t[2]})
    publish = st.tuples(st.just("publish"), sid, st.booleans()).map(
        lambda t: {"kind": t[0], "snapshot_id": t[1], "abort": t[2]})
    rb = st.tuples(st.just("rollback"), sid).map(
        lambda t: {"kind": t[0], "to": t[1]})
    noise = st.just({"kind": "chunk", "chunk_dir": "x"})
    return st.lists(st.one_of(snapshot, publish, rb, noise), max_size=40)


@settings(max_examples=400, deadline=None)
@given(_ops_strategy())
def test_branch_replay_matches_naive_model(ops):
    model = _NaiveModel()
    for e in ops:
        model.apply(e)
    st_ = branch_replay(ops)
    assert st_.chain == model.chain
    assert st_.visible() == model.visible
    assert st_.aborted == model.aborted
    assert set(st_.staged_parent) == set(model.staged)
    assert st_.has_rollback == model.has_rollback
    for sid, vis in model.vis_at.items():
        assert st_.vis_at(sid) == vis, sid
    for sid, vis in model.staged.items():
        assert st_.vis_at(st_.staged_parent[sid]) == vis, sid
    assert [sid for _ts, sid in st_.history] == model.history
    for sid in (f"s{i}" for i in range(12)):
        assert st_.state(sid) == model.state(sid), sid
