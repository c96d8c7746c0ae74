"""Structured Streaming tests (streaming/): the append-mode window-count
sink's emission boundary, stateful sessionization against its batch twin,
and watermarked dedup across runs."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_stream_counts_emission_boundary(spark, tmp_path):
    """Append-mode parquet sink emits exactly the watermark-FINALIZED
    windows: end <= final watermark (INCLUSIVE — the [03:00,04:00) window
    whose end equals wm = max_ts − 1h IS emitted), and the max-ts window
    never is.  This is the frozen semantic the stream_counts oracle
    states."""
    from openie_spark.streaming.ingest import stream_counts_to_parquet

    rows = [
        (1, "2024-01-01 00:30:00", "a"),
        (2, "2024-01-01 01:30:00", "a"),
        (3, "2024-01-01 02:30:00", "b"),
        (4, "2024-01-01 03:30:00", "a"),
        (5, "2024-01-01 05:00:00", "b"),  # max ts → wm = 04:00
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, event_type string"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
    in_dir = str(tmp_path / "sc_in")
    df.coalesce(1).write.parquet(in_dir)
    q = stream_counts_to_parquet(
        spark, in_dir, df.schema, str(tmp_path / "sc_ck"), str(tmp_path / "sc_out")
    )
    assert q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "sc_out")).collect())
    )
    h = 3_600_000_000
    base = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in micros
    assert got == [
        (base + 0 * h, "a", 1),
        (base + 1 * h, "a", 1),
        (base + 2 * h, "b", 1),
        (base + 3 * h, "a", 1),  # end == wm: emitted (inclusive boundary)
    ]


def test_stateful_sessionize_matches_batch_twin(spark, tmp_path):
    """applyInPandasWithState sessionization: the closed-session set must
    equal the batch twin (same gap rule, each user's last session open),
    and state must carry sessions across two incremental availableNow runs
    on the same checkpoint."""
    from openie_spark.streaming.stateful import (
        closed_sessions_batch,
        stream_sessions,
    )

    events = spark.read.parquet(f"{SF}/events.parquet").select("user_id", "ts")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = events.select(
        F.percentile_approx(ts_us, 0.5).alias("p")
    ).collect()[0]["p"]
    first = events.where(ts_us <= cut)
    second = events.where(ts_us > cut)

    in_dir = str(tmp_path / "sess_in")
    ck = str(tmp_path / "sess_ck")
    out_dir = str(tmp_path / "sess_out")
    first.coalesce(2).write.mode("overwrite").parquet(in_dir)
    q = stream_sessions(spark, in_dir, first.schema, ck, out_dir)
    q.awaitTermination(120)
    out1 = set(map(tuple, spark.read.parquet(out_dir).collect()))

    second.coalesce(2).write.mode("append").parquet(in_dir)
    q2 = stream_sessions(spark, in_dir, first.schema, ck, out_dir)
    q2.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out_dir).collect()))

    want = sorted(map(tuple, closed_sessions_batch(events).collect()))
    assert got == want
    assert len(want) > 0
    # a session spanning the split must have merged through state: run 2
    # closed at least one session that STARTED before the cut
    run2_only = set(got) - out1
    assert any(s[1] <= cut for s in run2_only)


def test_stateful_sessionize_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout: an idle user's final session must emit once the
    watermark passes its gap horizon (fired in the trailing no-data batch
    of the availableNow run), matching the timeout-aware batch twin; a
    session whose horizon is still ahead of the watermark stays open."""
    import datetime

    from openie_spark.streaming.stateful import (
        closed_sessions_batch,
        stream_sessions,
    )

    base = datetime.datetime(2024, 1, 1)

    def t(mins):
        return base + datetime.timedelta(minutes=mins)

    rows = [
        (1, t(0)), (1, t(5)),       # session A — closed by gap (session B)
        (1, t(120)), (1, t(125)),   # session B — horizon past watermark? no
        (2, t(10)),                 # idle user — closed ONLY by timeout
        (3, t(124)),                # near stream end — must stay open
    ]
    events = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    ind, ck, out = (str(tmp_path / x) for x in ("in", "ck", "out"))
    events.write.parquet(ind)
    q = stream_sessions(
        spark, ind, events.schema, ck, out, timeout_delay_ms=60_000
    )
    assert q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, closed_sessions_batch(events, 60_000).collect()))
    assert got == want
    users_closed = {r[0] for r in got}
    assert 2 in users_closed      # idle session closed by the timeout
    assert 3 not in users_closed  # still open: horizon ahead of watermark
    assert len([r for r in got if r[0] == 1]) == 1  # only session A closed


def test_stateful_sessionize_timeout_matches_twin_on_corpus(spark, tmp_path):
    """Timeout path over the real events table: stream == timeout-aware
    batch twin, and strictly MORE sessions close than under NoTimeout
    (the idle-final-session population)."""
    from openie_spark.streaming.stateful import (
        closed_sessions_batch,
        stream_sessions,
    )

    events = spark.read.parquet(f"{SF}/events.parquet").select("user_id", "ts")
    ind, ck, out = (str(tmp_path / x) for x in ("in", "ck", "out"))
    events.coalesce(2).write.parquet(ind)
    q = stream_sessions(
        spark, ind, events.schema, ck, out, timeout_delay_ms=60_000
    )
    assert q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, closed_sessions_batch(events, 60_000).collect()))
    assert got == want
    n_notimeout = closed_sessions_batch(events).count()
    assert len(got) > n_notimeout


def test_stream_dedup_within_watermark_across_runs(spark, tmp_path):
    """Streaming exact dedup: duplicates arriving in a LATER availableNow
    run on the same checkpoint are dropped (state carries), new content
    passes, and the watermark bound is what makes state finite."""
    import datetime

    from openie_spark.streaming.dedup import stream_dedup_to_parquet

    base = datetime.datetime(2024, 1, 1)

    def t(mins):
        return base + datetime.timedelta(minutes=mins)

    ind, ck, out = (str(tmp_path / x) for x in ("in", "ck", "out"))
    first = spark.createDataFrame(
        [(1, "alpha text", t(0)), (2, "beta text", t(1)), (3, "alpha text", t(2))],
        "doc_id bigint, text string, ts timestamp",
    )
    first.coalesce(1).write.mode("overwrite").parquet(ind)
    q = stream_dedup_to_parquet(spark, ind, first.schema, ck, out)
    assert q.awaitTermination(120)
    got1 = {(r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()}
    assert {txt for _, txt in got1} == {"alpha text", "beta text"}
    assert len(got1) == 2  # in-batch duplicate of 'alpha text' dropped

    # run 2: a cross-run duplicate within the watermark window + new content
    second = spark.createDataFrame(
        [(4, "beta text", t(3)), (5, "gamma text", t(4))],
        "doc_id bigint, text string, ts timestamp",
    )
    second.coalesce(1).write.mode("append").parquet(ind)
    q2 = stream_dedup_to_parquet(spark, ind, first.schema, ck, out)
    assert q2.awaitTermination(120)
    got2 = {(r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()}
    texts = sorted(txt for _, txt in got2)
    assert texts == ["alpha text", "beta text", "gamma text"]
    assert (4, "beta text") not in got2  # cross-run duplicate dropped


def test_stateful_fn_late_event_before_open_session_closes_separately():
    """Round-2 advice case: a cross-batch late event older than
    start - gap must form its own CLOSED session, not be absorbed into the
    open one (which would produce a session with an internal gap larger
    than SESSION_GAP_US)."""
    import pandas as pd

    from openie_spark.streaming.stateful import SESSION_GAP_US, _session_fn

    class FakeState:
        def __init__(self, v=None):
            self._v = v
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutTimestamp(self, ms):
            raise RuntimeError("NoTimeout mode")

    big = 10 * SESSION_GAP_US
    st = FakeState((big, big + 1_000_000, 3))  # open session far in the future
    late = 1_000  # ancient late event, way before start - gap
    out = list(_session_fn((9,), iter([pd.DataFrame({"ts_us": [late]})]), st))
    assert len(out) == 1
    assert out[0].iloc[0].tolist() == [9, late, late, 1]  # own closed session
    assert st.get == (big, big + 1_000_000, 3)  # open session untouched


def test_stateful_fn_monotone_merge_on_late_events():
    """Cross-batch late events inside the open session must merge without
    moving the session end backwards (the state-corruption case: end <
    start spans / false gap splits)."""
    import pandas as pd

    from openie_spark.streaming.stateful import SESSION_GAP_US, _session_fn

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutTimestamp(self, ms):
            raise RuntimeError("NoTimeout mode")  # mirrors the real API

    st = FakeState()
    mkpdf = lambda ts: pd.DataFrame({"ts_us": ts})
    # batch 1: open session spanning [0, 600s]
    out1 = list(_session_fn((7,), iter([mkpdf([0, 600_000_000])]), st))
    assert out1 == [] and st.get == (0, 600_000_000, 2)
    # batch 2: a LATE event at 300s (inside the open span) plus an event
    # past the gap — the closed session must cover the true span [0, 600s]
    late, nxt = 300_000_000, 600_000_000 + SESSION_GAP_US + 1
    out2 = list(_session_fn((7,), iter([mkpdf([late, nxt])]), st))
    assert len(out2) == 1
    assert out2[0].iloc[0].tolist() == [7, 0, 600_000_000, 3]
    assert st.get == (nxt, nxt, 1)


def test_stream_dedup_composite_key_keeps_per_lang_survivors(spark, tmp_path):
    """stream_dedup_to_parquet with a (content_hash, lang) key: the same
    text in two langs survives once PER LANG, while a same-lang duplicate
    is dropped — the determinism contract the stream_dedup oracle needs."""
    import datetime as dt

    from openie_spark.streaming.dedup import stream_dedup_to_parquet

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (t0, "en", "same words", 10),
        (t0 + dt.timedelta(seconds=30), "en", "same words", 10),  # dup: dropped
        (t0, "de", "same words", 10),  # other lang: kept
        (t0, "en", "other words", 11),
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, lang string, text string, n_chars bigint"
    )
    ind, ck, out = (str(tmp_path / k) for k in ("in", "ck", "out"))
    df.coalesce(1).write.parquet(ind)
    q = stream_dedup_to_parquet(
        spark, ind, df.schema, ck, out, keys=["content_hash", "lang"]
    )
    assert q.awaitTermination(300)
    got = sorted(
        (r["lang"], r["text"]) for r in spark.read.parquet(out).collect()
    )
    assert got == [("de", "same words"), ("en", "other words"), ("en", "same words")]

