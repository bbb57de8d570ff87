"""The bucketed streaming concat fold (``_bucket_fold``) against a
row-at-a-time sequential reference, a per-key restatement of the reference
concator loop (``internal/tagfilters/concator_f.go:140-207``): several
interleaved (tag, container) keys in one state group, head/tail
interleavings, lone tails, max_len / max_merged overflow eviction,
unconfigured tags, sessions carried across random micro-batch cuts, idle
gap flushes and the final timeout flush.  The fold is driven through a fake
``GroupState`` with a settable processing time, so every test but the last
runs without a SparkSession; the last folds the sf0.001 ingest rows and
compares with the batch operator on the unsplit frame."""

from __future__ import annotations

import json
import random
import re
import zlib

import pandas as pd
from hypothesis import given, settings, strategies as st

from go_fluentd_spark.streaming.stream_pipeline import _STATE_COLS, _bucket_fold

_RX = {"test": re.compile(r"^H")}
GAP = 5000


class FakeState:
    """Mimics pyspark GroupState for driving the fold directly."""

    def __init__(self, now: int = 0):
        self._v = None
        self.now = now
        self.timed_out = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    @property
    def hasTimedOut(self):
        return self.timed_out

    def getCurrentProcessingTimeMs(self):
        return self.now

    def update(self, v):
        # what Spark pickles to the JVM must be plain Python: a numpy value
        # fails json too
        self._v = tuple(json.loads(json.dumps(list(v))))

    def remove(self):
        self._v = None
        self.timeout_ms = None

    def setTimeoutDuration(self, ms):
        assert isinstance(ms, int) and ms > 0
        self.timeout_ms = ms

    def sessions(self) -> dict:
        return dict(zip(_STATE_COLS, self._v)) if self.exists else {}


def _row_tuple(r) -> tuple:
    return (
        r.tag, r.container_id, int(r.id), r.source, int(r.n_merged),
        tuple(int(x) for x in r.ext_ids),
    )


def _fold(state: FakeState, rows: list[dict], compiled=_RX, max_len=100,
          max_merged=10) -> list[tuple]:
    """One fold call over ``rows`` (none: a timeout call)."""
    pdfs = [pd.DataFrame(rows)] if rows else []
    out = pd.concat(
        list(
            _bucket_fold(
                (0,), iter(pdfs), state, compiled=compiled, max_len=max_len,
                max_merged=max_merged, gap_ms=GAP,
            )
        )
    )
    return [_row_tuple(r) for r in out.itertuples(index=False)]


def _mk_rows(specs: list[tuple[str, str, str]]) -> list[dict]:
    """(tag, container_id, source) per row; ids ascend in list order."""
    return [
        {
            "doc_id": f"d{i}", "tokens": [i, i + 1], "n_tok": 2,
            "source": src, "tag": tag, "container_id": cid, "id": i,
            "env": "prod", "tag_base": tag.split(".")[0],
        }
        for i, (tag, cid, src) in enumerate(specs)
    ]


def _sequential(rows, batches, max_len, max_merged):
    """Reference fold, one row at a time per key.  ``batches`` is a list of
    ((lo, hi), processing time).  Before a batch, a key that brings no rows
    and whose session sat idle for GAP flushes; the end of input is a final
    gap flush.  Returns the flushed rows."""
    out, open_, last = [], {}, {}

    def flush(s):
        out.append(
            (s["tag"], s["container_id"], s["id"], s["source"],
             1 + len(s["ext_ids"]), tuple(s["ext_ids"]))
        )

    for (lo, hi), now in batches:
        busy = {(r["tag"], r["container_id"]) for r in rows[lo:hi]}
        for k in [k for k in open_ if k not in busy and now - last[k] >= GAP]:
            flush(open_.pop(k))
        for r in rows[lo:hi]:
            k = (r["tag"], r["container_id"])
            last[k] = now
            row = dict(r, ext_ids=[])
            rx = _RX.get(r["tag_base"])
            sess = open_.get(k)
            if rx is None:
                flush(row)
            elif rx.match(r["source"]):
                if sess is not None:
                    flush(sess)
                open_[k] = row
            elif sess is None:
                flush(row)
            elif (
                len(sess["source"]) >= max_len
                or 1 + len(sess["ext_ids"]) >= max_merged
            ):
                flush(open_.pop(k))
                flush(row)
            else:
                sess["source"] += r["source"]
                sess["ext_ids"].append(r["id"])
    for s in open_.values():
        flush(s)
    return sorted(out)


def _bucketed(rows, batches, max_len, max_merged):
    state, got = FakeState(), []
    for (lo, hi), now in batches:
        state.now = now
        got += _fold(state, rows[lo:hi], max_len=max_len, max_merged=max_merged)
        if state.exists:  # the group timeout is the earliest deadline
            assert state.timeout_ms == min(state.sessions()["last_ms"]) + GAP - now
    if state.exists:  # fire the gap timeout
        state.now += GAP
        state.timed_out = True
        got += _fold(state, [], max_len=max_len, max_merged=max_merged)
    assert not state.exists
    return sorted(got)


@given(
    specs=st.lists(
        st.tuples(
            st.sampled_from(["test.prod", "test.sit", "junk.prod"]),
            st.sampled_from(["c0", "c1", "c2"]),
            st.text(alphabet="Htx", min_size=1, max_size=6),
        ),
        min_size=1,
        max_size=40,
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=40), max_size=5),
    steps=st.lists(st.integers(min_value=0, max_value=3), min_size=6, max_size=6),
    max_len=st.integers(min_value=1, max_value=12),
    max_merged=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=300, deadline=None)
def test_vectorized_fold_matches_sequential(specs, cuts, steps, max_len, max_merged):
    rows = _mk_rows(specs)
    pts = sorted({0, len(rows), *[min(c, len(rows)) for c in cuts]})
    # processing time advances 0-3 s per batch, so quiet keys cross the gap
    times = [2000 * sum(steps[: i + 1]) for i in range(len(pts) - 1)]
    batches = list(zip(zip(pts, pts[1:]), times))
    assert _bucketed(rows, batches, max_len, max_merged) == _sequential(
        rows, batches, max_len, max_merged
    )


def test_unconfigured_tag_passthrough():
    rows = _mk_rows([("junk.prod", "c0", s) for s in ["Ha", "tb", "tc"]])
    state = FakeState()
    out = _fold(state, rows, compiled={})
    assert len(out) == 3
    assert all(r[4] == 1 for r in out)
    assert not state.exists


def test_timeout_with_no_carry_emits_empty():
    state = FakeState()
    state.timed_out = True
    assert _fold(state, []) == []
    assert not state.exists


def test_quiet_key_flushes_after_gap_in_busy_group():
    """ConcatorWait is per session: key A's session flushes once A has been
    quiet for the gap, although key B keeps its group busy every trigger."""
    a, b = ("test.prod", "A"), ("test.prod", "B")
    rows = _mk_rows([(*a, "Ha"), (*b, "Hb"), (*b, "t1"), (*b, "t2"), (*b, "t3")])
    state = FakeState(now=0)
    assert _fold(state, rows[0:2]) == []
    assert state.timeout_ms == GAP
    state.now = 3000
    assert _fold(state, rows[2:3]) == []
    assert state.timeout_ms == 2000  # A's deadline comes first
    state.now = 5000
    got = _fold(state, rows[3:4])
    assert got == [("test.prod", "A", 0, "Ha", 1, ())]
    assert state.sessions()["container_id"] == ["B"]
    assert state.timeout_ms == GAP
    # B's rows reach B's session however long it sat: rows beat timeouts
    state.now = 20000
    assert _fold(state, rows[4:5]) == []
    state.now, state.timed_out = 25000, True
    assert _fold(state, []) == [("test.prod", "B", 1, "Hbt1t2t3", 4, (2, 3, 4))]
    assert not state.exists


def test_late_rows_below_the_carried_head():
    """A row whose id is below its key's carried head id sorts before that
    head, as in the batch operator over all rows: a late tail is a lone
    tail, a late head opens a session the carried head closes at once, and
    the carried session stays open and keeps only its own later tails."""
    k = ("test.prod", "c0")
    late = _mk_rows([(*k, "t5"), (*k, "H6"), (*k, "t7")])  # ids 0, 1, 2
    carried = [dict(r, id=r["id"] + 10) for r in _mk_rows([(*k, "H10"), (*k, "t11")])]
    after = [dict(r, id=13) for r in _mk_rows([(*k, "t13")])]
    state = FakeState()
    assert _fold(state, carried) == []
    got = _fold(state, late + after)
    assert sorted(got) == [
        ("test.prod", "c0", 0, "t5", 1, ()),
        ("test.prod", "c0", 1, "H6t7", 2, (2,)),
    ]
    state.now, state.timed_out = GAP, True
    assert _fold(state, []) == [("test.prod", "c0", 10, "H10t11t13", 3, (11, 13))]


def test_split_invariance_matches_batch_concat(spark, sf_dir):
    """Folding the sf0.001 ingest rows, hashed to 4 state groups as the
    streaming query does, over every-row and random micro-batch splits
    gives the rows ``concat_sessions`` gives on the unsplit frame."""
    from go_fluentd_spark.config import CONCAT_CONFIGS, DEFAULT_CONFIG as cfg
    from go_fluentd_spark.operators.concat import concat_sessions
    from go_fluentd_spark.sources.synth import sequences_df, with_ingest_columns

    ing = with_ingest_columns(sequences_df(spark, sf_dir))
    want = sorted(
        _row_tuple(r)
        for r in concat_sessions(ing, max_len=cfg.concat_max_len).collect()
    )
    rows = ing.toPandas().sort_values("id").to_dict("records")
    for r in rows:
        r["_g"] = zlib.crc32(f"{r['tag']}/{r['container_id']}".encode()) % 4
    compiled = {b: re.compile(c["head_regexp"]) for b, c in CONCAT_CONFIGS.items()}
    rng = random.Random(7)
    splits = [list(range(len(rows) + 1))] + [
        sorted({0, len(rows), *rng.sample(range(len(rows)), k)}) for k in (3, 40)
    ]
    for pts in splits:
        states, got = [FakeState() for _ in range(4)], []
        for lo, hi in zip(pts, pts[1:]):
            for g, state in enumerate(states):
                batch = [r for r in rows[lo:hi] if r["_g"] == g]
                if batch:  # a group without rows and due no timeout sleeps
                    got += _fold(state, batch, compiled, cfg.concat_max_len,
                                 cfg.concat_max_merged)
        for state in states:
            state.now = GAP
            got += _fold(state, [], compiled)
        assert sorted(got) == want, f"{len(pts) - 1} batches"
