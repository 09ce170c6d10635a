"""Batch-stream equivalence tests (SURVEY.md §5.2(5))."""

from __future__ import annotations

from pyspark.sql import functions as F

from ssn_college_software_architecture_assignments__spark.catalog import Catalog
from ssn_college_software_architecture_assignments__spark.streaming.windows import (
    t1_tumbling_window,
    t5_streaming_dedup,
)


def _t1_rows(df):
    return {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in df.collect()
    }


def _t1_batch(spark, sf_dir):
    ev = Catalog(spark, sf_dir).events
    return {
        (r["ws"], r["event_type"]): (r["n"], r["sum_value"])
        for r in ev.groupBy(
            F.window("ts", "10 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
        .collect()
    }


def test_tumbling_stream_equals_batch(spark, sf_dir):
    assert _t1_rows(t1_tumbling_window(spark, sf_dir)) == _t1_batch(spark, sf_dir)


def test_t1_dispatch_leaves_no_stream_scratch(spark, sf_dir):
    """run_to_memory drops the memory sink's temp view once the returned
    frame has resolved it, and removes its checkpoint dir once the stream
    terminates; the frame still collects the sink's rows afterwards."""
    import os
    import tempfile

    from ssn_college_software_architecture_assignments__spark import registry

    def scratch():
        views = {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("stream_out_")
        }
        ckpts = {
            d
            for d in os.listdir(tempfile.gettempdir())
            if d.startswith("ssn_stream_ckpt_")
        }
        return views, ckpts

    before = scratch()
    df = registry.load_all()["t1_tumbling_window"].fn(spark, sf_dir)
    assert scratch() == before
    assert _t1_rows(df) == _t1_batch(spark, sf_dir)


def test_streaming_dedup_removes_double_delivery(spark, sf_dir):
    deduped = {
        r["event_type"]: r["n_unique"]
        for r in t5_streaming_dedup(spark, sf_dir).collect()
    }
    ev = Catalog(spark, sf_dir).events
    expected = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert deduped == expected


def test_stream_and_batch_read_identical_timestamps(spark, sf_dir):
    """The streamed events table must carry exactly the batch Catalog's
    timestamps and types. Guards against parquet TIMESTAMP(NANOS) read
    drift across Spark builds — a declared-schema mismatch once silently
    compressed every streamed ts 1000x into 1970 (t9 overcounted 320x)."""
    from pyspark.sql import functions as F

    from ssn_college_software_architecture_assignments__spark.catalog import Catalog
    from ssn_college_software_architecture_assignments__spark.streaming.core import (
        run_to_memory,
        stream_events,
    )

    streamed = run_to_memory(
        stream_events(spark, sf_dir).select("event_id", "ts"), "append"
    )
    batch = Catalog(spark, sf_dir).events.select(
        "event_id", F.col("ts").alias("ts_batch")
    )
    # identical type after normalization (watermark-eligible TIMESTAMP)
    assert streamed.schema["ts"].dataType.typeName() == "timestamp"
    assert batch.schema["ts_batch"].dataType.typeName() == "timestamp"
    # identical values, row for row
    diff = (
        streamed.join(batch, "event_id")
        .filter(~F.col("ts").eqNullSafe(F.col("ts_batch")))
        .count()
    )
    assert diff == 0
    # and the values are in the fixture's real epoch, not 1970
    mn = streamed.agg(F.min("ts").alias("m")).collect()[0]["m"]
    assert mn.year >= 2000, f"stream timestamps collapsed to {mn}"


# ---- T6b: Spark 4 native stateful API (transformWithStateInPandas) ------------


class _FakeValueState:
    """Stand-in for the protobuf-backed ValueState: same get/exists/
    update surface, plain Python storage (the injected-fake pattern the
    MongoDB writer branch uses)."""

    def __init__(self):
        self._value = None

    def exists(self):
        return self._value is not None

    def get(self):
        return self._value

    def update(self, value):
        self._value = tuple(value)


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())


def test_t6b_processor_batch_equivalence():
    """T6b law, runtime-independent: feeding a key's rows through
    AccumulateProcessor in ANY micro-batch split yields the same end
    state and final emission as one batch — the cross-batch
    accumulation contract transformWithStateInPandas executes."""
    import pandas as pd

    from ssn_college_software_architecture_assignments__spark.streaming.stateful import (
        AccumulateProcessor,
    )

    values = [1.5, 2.25, 3.0, 4.5, 0.75, 10.0]
    splits = [
        [values],                        # one batch
        [values[:2], values[2:]],        # two micro-batches
        [[v] for v in values],           # one row per batch
    ]
    finals = []
    for batches in splits:
        proc = AccumulateProcessor()
        proc.init(_FakeHandle())
        last = None
        for batch in batches:
            out = list(
                proc.handleInputRows(
                    (7,), iter([pd.DataFrame({"value": batch})]), None
                )
            )
            assert len(out) == 1
            last = out[0]
        proc.close()
        finals.append(
            (int(last["user_id"][0]), int(last["n_events"][0]),
             float(last["total_value"][0]))
        )
    assert finals[0] == finals[1] == finals[2]
    assert finals[0] == (7, len(values), round(sum(values), 2))


def test_t6b_end_to_end_when_protobuf_present(spark, sf_dir):
    """Real transformWithStateInPandas run vs the batch aggregate —
    executable only where protobuf (the v2 state wire format) ships."""
    import pytest

    from ssn_college_software_architecture_assignments__spark.streaming.stateful import (
        HAS_PROTOBUF,
        t6b_transform_with_state,
    )

    if not HAS_PROTOBUF:
        pytest.skip("protobuf not installed — v2 state runtime unavailable")
    got = t6b_transform_with_state(spark, sf_dir).collect()
    expected = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in Catalog(spark, sf_dir)
        .events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
    }
    assert {(r["user_id"], r["n_events"], r["total_value"]) for r in got} == expected


# ---- T6c: event-time TTL expiry (timers) --------------------------------------


def test_ttl_timeout_strictness_is_exclusive(spark):
    """The t6c oracle law's load-bearing detail, pinned against the real
    engine: an EventTimeTimeout timer fires iff timeoutTimestamp is
    STRICTLY below the watermark. Key A arms its timer exactly AT the
    final watermark (99000 = 100000ms max - 1s delay) and must NOT
    fire; key B arms 1ms below and must. A `<=` engine would emit both
    and the t6c oracle would need `<=` too."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from ssn_college_software_architecture_assignments__spark.scratch import (
        scratch_dir,
    )
    from ssn_college_software_architecture_assignments__spark.streaming.core import (
        run_to_memory,
    )

    base = scratch_dir(prefix="ssn_ttl_strict_")
    df = spark.createDataFrame(
        [("A", 98000), ("B", 97999), ("C", 100000)], "k string, ms long"
    ).select("k", F.timestamp_millis(F.col("ms")).alias("ts"), "ms")
    df.coalesce(1).write.mode("overwrite").parquet(f"{base}/src")
    schema = spark.read.parquet(f"{base}/src").schema
    stream = spark.readStream.schema(schema).parquet(f"{base}/src")

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            yield pd.DataFrame({"k": [key[0]], "fired": [True]})
            state.remove()
        else:
            last = 0
            for pdf in pdfs:
                last = max(last, int(pdf["ms"].max()))
            state.update((last,))
            state.setTimeoutTimestamp(last + 1000)

    out = (
        stream.withWatermark("ts", "1 second")
        .groupBy("k")
        .applyInPandasWithState(
            fn,
            "k string, fired boolean",
            "last long",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    fired = sorted(r["k"] for r in run_to_memory(out, "append").collect())
    assert fired == ["B"]


def test_ttl_expiry_v1_v2_law_sync():
    """Law-sync across the two stateful APIs: feeding the same two
    micro-batches (with a watermark advance and timer firing between
    them) through the v1 ``_ttl_expire`` state machine and the v2
    ``TTLExpiryProcessor`` yields IDENTICAL emissions — including the
    re-armed-timer case where batch-2 activity pushes a key's expiry
    out, the expiry case where the watermark passes a key's timer, and
    the WATERMARK-CLAMP case: a key first seen after the watermark has
    already overtaken its last + TTL must arm at watermark + 1 (an
    unclamped setTimeoutTimestamp below the watermark throws in the
    real engine) and then fire at the next watermark advance."""
    import pandas as pd

    from ssn_college_software_architecture_assignments__spark.streaming.stateful import (
        _T6C_TTL_MS,
        TTLExpiryProcessor,
        _ttl_expire,
    )

    ttl = _T6C_TTL_MS
    d_ms = 3_600_000  # the 1-hour delay, in the watermark's ms clock
    # two data micro-batches + flush over three keys (us timestamps),
    # engine order preserved: each batch feeds its data FIRST, then the
    # post-batch watermark fires timers — so a key re-armed by batch-2
    # data (u2) survives even though its OLD timer sits below wm2:
    # - (1,"d1") active only in batch 1, old -> expires at the flush wm
    # - (2,"d1") active in BOTH batches -> timer re-armed, no expiry
    # - (3,"d2") recent -> timer armed above the flush wm, no expiry
    b1 = {
        (1, "d1"): [1_000_000_000, 2_000_000_000],
        (2, "d1"): [1_500_000_000],
    }
    wm1_ms = 2_000_000 - d_ms  # negative: nothing can fire at batch 2
    x_ms = ttl + d_ms + 3_000_000  # u2's batch-2 activity = stream max
    y_ms = ttl + d_ms + 2_500_000
    b2 = {
        (2, "d1"): [x_ms * 1000],
        (3, "d2"): [y_ms * 1000],
    }
    wm2_ms = x_ms - d_ms  # flush watermark: above u1's timer only
    # batch 3 feeds AFTER the watermark reached wm2_ms: u9's only event
    # is so old that last_ms + ttl < wm2_ms — the clamp case
    b3 = {(9, "d0"): [1_000_000_000]}
    assert 1_000_000_000 // 1000 + ttl < wm2_ms  # last_ms + ttl < wm2
    wm3_ms = wm2_ms + 10  # one more advance: fires u9's clamped timer

    # ---- v1: fake GroupState per key
    class _S:
        def __init__(self):
            self.v = None
            self.hasTimedOut = False
            self.timeout = None
            self.wm = 0

        def getCurrentWatermarkMs(self):
            return self.wm

        @property
        def exists(self):
            return self.v is not None

        @property
        def get(self):
            return self.v

        def update(self, v):
            self.v = tuple(v)

        def remove(self):
            self.v = None
            self.timeout = None

        def setTimeoutTimestamp(self, ms):
            self.timeout = ms

    v1_states: dict = {}
    v1_rows = []

    def v1_feed(batch, wm_ms):
        # the engine's clock: the watermark visible DURING a batch is
        # the one computed after the previous batch, floored at 0
        for key, uss in batch.items():
            st = v1_states.setdefault(key, _S())
            st.wm = max(wm_ms, 0)
            list(_ttl_expire(key, iter([pd.DataFrame({"us": uss})]), st))

    def v1_fire(wm_ms):
        for key, st in v1_states.items():
            if st.v is not None and st.timeout is not None and st.timeout < wm_ms:
                st.hasTimedOut = True
                for out in _ttl_expire(key, iter(()), st):
                    v1_rows.append(tuple(out.iloc[0]))
                st.hasTimedOut = False

    v1_feed(b1, 0)
    v1_fire(wm1_ms)
    v1_feed(b2, wm1_ms)
    v1_fire(wm2_ms)  # the flush watermark: u1's timer only
    v1_feed(b3, wm2_ms)  # stale key fed past its own last + ttl
    u9_armed = v1_states[(9, "d0")].timeout  # captured before the fire
    v1_fire(wm3_ms)

    # ---- v2: fake handle with named timers
    class _VS:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = tuple(v)

        def clear(self):
            self.v = None

    class _H:
        def __init__(self):
            self.states: dict = {}
            self.timers: set = set()

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.states.setdefault(name, _VS())

        def registerTimer(self, ms):
            self.timers.add(ms)

        def deleteTimer(self, ms):
            self.timers.discard(ms)

        def deleteIfExists(self, name):
            self.states.pop(name, None)

    class _TV:
        def __init__(self, wm_ms):
            self.wm = max(wm_ms, 0)

        def getCurrentWatermarkInMs(self):
            return self.wm

    v2: dict = {}
    v2_rows = []

    def v2_feed(batch, wm_ms):
        for key, uss in batch.items():
            if key not in v2:
                proc, handle = TTLExpiryProcessor(), _H()
                proc.init(handle)
                v2[key] = (proc, handle)
            proc, handle = v2[key]
            list(
                proc.handleInputRows(
                    key, iter([pd.DataFrame({"us": uss})]), _TV(wm_ms)
                )
            )

    def v2_fire(wm_ms):
        for key, (proc, handle) in v2.items():
            for t in sorted(handle.timers):
                if t < wm_ms:
                    handle.deleteTimer(t)
                    for out in proc.handleExpiredTimer(key, None, None):
                        v2_rows.append(tuple(out.iloc[0]))

    v2_feed(b1, 0)
    v2_fire(wm1_ms)
    v2_feed(b2, wm1_ms)
    v2_fire(wm2_ms)
    v2_feed(b3, wm2_ms)
    v2_fire(wm3_ms)

    assert sorted(v1_rows) == sorted(v2_rows)
    # exactly u1 (flush expiry) and u9 (clamped re-arm, next advance)
    assert sorted(r[0] for r in v1_rows) == [1, 9]
    # the clamp law: u9's armed timer was watermark + 1, not the
    # (already-passed) last + ttl
    assert u9_armed == wm2_ms + 1
    # u2's re-armed v2 timer replaced the old one (delete+register law)
    _, h2 = v2[(2, "d1")]
    assert len(h2.timers) == 1


def test_streaming_dedup_state_spans_micro_batches(spark, tmp_path):
    """T5 law the single-batch test can't see: a duplicate that arrives
    in a LATER micro-batch (redelivery after a source retry) must be
    suppressed by dedup STATE carried across batches, not just within
    one batch. Two parquet batches via maxFilesPerTrigger=1: batch 2
    redelivers both batch-1 events and adds one new one; exactly the
    three distinct event_ids survive."""
    from datetime import datetime, timedelta

    from ssn_college_software_architecture_assignments__spark.streaming.core import (
        run_to_memory,
    )

    base = datetime(2024, 5, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp"
    src = str(tmp_path / "src")
    b1 = [(1, base), (2, base + timedelta(minutes=1))]
    b2 = [(1, base), (2, base + timedelta(minutes=1)),
          (3, base + timedelta(minutes=2))]
    for n, rows in ((1, b1), (2, b2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{src}/batch={n}")

    from pyspark.sql.types import StructType

    ev = (
        spark.readStream.schema(StructType.fromDDL(schema))
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/batch=*")
        .withWatermark("ts", "1 hour")
    )
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"])
    counted = deduped.groupBy().agg(
        F.count("*").alias("n"), F.sum("event_id").alias("id_sum")
    )
    out = run_to_memory(counted, "complete").collect()
    assert (out[0]["n"], out[0]["id_sum"]) == (3, 6)


def test_t10_matches_w11_batch_face(spark, sf_dir):
    """t10/w11 cross-operator law: the streaming first-seen state must
    reproduce the batch first-seen rewrite exactly — same new-user days,
    same per-day new_users, and the same cumulative count wherever both
    emit a day (w11 additionally emits zero-new-user active days, whose
    cum must equal the last preceding t10 value)."""
    from ssn_college_software_architecture_assignments__spark.operators.windows import (
        w11_cumulative_distinct,
    )
    from ssn_college_software_architecture_assignments__spark.streaming.windows import (
        t10_streaming_cumulative_distinct,
    )

    t10 = {
        r["day"]: (r["new_users"], r["cum_users"])
        for r in t10_streaming_cumulative_distinct(spark, sf_dir).collect()
    }
    w11 = w11_cumulative_distinct(spark, sf_dir).collect()
    assert t10, "fixture must produce at least one day"
    seen_days = set()
    running = 0
    for r in sorted(w11, key=lambda r: r["day"]):
        if r["new_users"] > 0:
            assert r["day"] in t10, r["day"]
            assert t10[r["day"]] == (r["new_users"], r["cum_users"])
            seen_days.add(r["day"])
            running = r["cum_users"]
        else:
            assert r["cum_users"] == running
    assert seen_days == set(t10)


def test_t11_merge_across_multiple_micro_batches(spark, tmp_path):
    """t11's cross-generation path driven for real: a 2-file source
    with maxFilesPerTrigger=1 forces TWO micro-batches, so the second
    merge must union the first generation with its own batch — the
    final serving table equals the batch latest-per-user truth, one
    generation directory exists per batch, and a RESTART that
    redelivers the last batch (a FRESH merge builder, as after a
    driver crash, with the same batch id) rewrites its generation
    identically from the durable previous generation — the
    at-least-once contract the review found driver-memory tracking
    would break."""
    import datetime
    import os

    from pyspark.sql import functions as F

    from ssn_college_software_architecture_assignments__spark.streaming.windows import (
        existing_generations,
        foreachbatch_latest_merge,
    )

    base = datetime.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    f1 = [(1, base, 7, "click", 1.0, "{}"),
          (2, base + datetime.timedelta(minutes=5), 8, "view", 2.0, "{}")]
    f2 = [(3, base + datetime.timedelta(minutes=9), 7, "purchase", 9.0, "{}"),
          (4, base + datetime.timedelta(minutes=1), 8, "click", 4.0, "{}")]
    src = str(tmp_path / "src")
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(src)
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_files >= 2

    lake = str(tmp_path / "serve")
    merge = foreachbatch_latest_merge(lake)
    seen_batches = []

    def recording_merge(batch_df, batch_id):
        seen_batches.append((batch_id, batch_df.collect()))
        merge(batch_df, batch_id)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(recording_merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    gens = existing_generations(lake)
    assert len(gens) == n_files, "one generation per micro-batch"

    got = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in spark.read.parquet(f"{lake}/gen_{gens[-1]}").collect()
    }
    # user 7: event 3 is later; user 8: event 2 (minute 5) beats 4 (minute 1)
    assert got == {7: (3, "purchase"), 8: (2, "view")}

    # restart idempotence: a FRESH merge builder (driver memory gone,
    # exactly the post-crash state) redelivered the last batch with its
    # recorded id and input must rewrite that generation identically
    # from the durable gen_<id-1> — never restart from nothing
    last_id, last_rows = seen_batches[-1]
    restarted = foreachbatch_latest_merge(lake)
    restarted(spark.createDataFrame(last_rows, schema), last_id)
    replay = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in spark.read.parquet(f"{lake}/gen_{last_id}").collect()
    }
    assert replay == got
    assert existing_generations(lake) == gens


def test_t12_contamination_across_batches_and_restart(spark, tmp_path):
    """t12's batch-split independence driven for real: a 2-file doc
    source with maxFilesPerTrigger=1 forces TWO micro-batches; each
    batch's verdicts land in their own batch_<id> directory, the union
    equals the batch contamination report over the same corpus, and a
    restart that redelivers the last batch (fresh probe builder, same
    batch id) rewrites its directory identically — the t11 contract on
    the decontamination sink."""
    import os

    from pyspark.sql import functions as F

    from ssn_college_software_architecture_assignments__spark.streaming.windows import (
        existing_generations,
        foreachbatch_contamination,
    )

    bench_text = "a b c d e f g h"  # exactly one 8-gram
    schema = "doc_id long, text string"
    f1 = [
        (0, bench_text),                      # benchmark doc (id % 50 == 0)
        (1, bench_text + " x"),               # contaminated: shares the gram
        (2, "p q r s t u v w y z"),           # clean
    ]
    f2 = [
        (3, "z " + bench_text),               # contaminated via suffix copy
        (4, "m n o p q r s"),                 # sub-8-token: no grams at all
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(src)
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_files >= 2

    out = str(tmp_path / "verdicts")
    probe = foreachbatch_contamination(src, out)
    seen = []

    def recording_probe(batch_df, batch_id):
        seen.append((batch_id, batch_df.collect()))
        probe(batch_df, batch_id)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(recording_probe)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = existing_generations(out, prefix="batch_")
    assert len(batches) == n_files, "one verdict directory per micro-batch"

    paths = [f"{out}/batch_{b}" for b in batches]
    got = {
        r["train_doc_id"]: (r["n_shared_grams"], r["n_benchmark_docs"])
        for r in spark.read.parquet(*paths).collect()
    }
    # docs 1 and 3 each share the single benchmark gram; 2/4 never appear
    assert got == {1: (1, 1), 3: (1, 1)}

    # restart idempotence: a FRESH probe builder redelivered the last
    # batch must rewrite its directory to identical verdicts
    last_id, last_rows = seen[-1]
    before = sorted(
        map(tuple, spark.read.parquet(f"{out}/batch_{last_id}").collect())
    )
    fresh = foreachbatch_contamination(src, out)
    fresh(spark.createDataFrame(last_rows, spark.read.parquet(src).schema), last_id)
    after = sorted(
        map(tuple, spark.read.parquet(f"{out}/batch_{last_id}").collect())
    )
    assert before == after
