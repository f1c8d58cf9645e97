"""The exact stream tier's state contract (streaming/pipeline.py _dedup_fn).

The state function keeps, per shard, the sorted seen-hash buffer and each
hash's first-seen event time; it expires hashes itself against the
watermark and drops late rows itself, with no event-time timeout:

* a checkpoint written with the earlier one-field state layout is refused;
* a copy arriving after its first copy's hash expired is emitted again, and
  the shard's state shrinks;
* a row at or behind the watermark is dropped, counted as ``late_rows`` in
  the sink's ``_metrics.jsonl`` record, and never enters the seen set;
* inside one micro-batch the smallest doc_seq wins, across files too;
* no micro-batch runs for a watermark move alone.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from dataflow_spark.streaming.pipeline import (
    _DEDUP_OUT_SCHEMA,
    file_stream_source,
    idempotent_parquet_sink,
    run_dedup_filter_stream,
)
from tests.test_streaming import dirs, make_rows, toks, write_file  # noqa: F401 (dirs: fixture)

HOUR = 3600


def _drain(q):
    """processAllAvailable, then wait until the query sits idle, so a
    micro-batch queued after the last data batch shows in recentProgress."""
    q.processAllAvailable()
    calm, deadline = 0, time.time() + 15
    while calm < 5 and time.time() < deadline:
        st = q.status
        idle = not st["isTriggerActive"] and st["message"].startswith("Waiting for data")
        calm = calm + 1 if idle else 0
        time.sleep(0.1)
    progress = q.recentProgress
    q.stop()
    return progress


def _sink_seqs(spark, out_dir):
    return sorted(r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect())


def _state_bytes(spark, ckpt, batch_id):
    """Bytes of every shard's seen-hash buffer after ``batch_id``."""
    st = spark.read.format("statestore").option("batchId", batch_id).load(ckpt)
    return sum(len(r.value.groupState.seen_hashes) for r in st.collect())


def test_old_state_layout_checkpoint_refused(spark, dirs):
    corpus_dir, out_dir, ckpt = dirs

    def one_field_fn(key, pdf_iter, state):
        for pdf in pdf_iter:
            yield pdf.drop(columns=["_th", "_ev_ms"]).assign(_seen_total=0)
        state.update((b"",))

    write_file(spark, make_rows([(1, toks(1, 2), "cc", 0)]), corpus_dir)
    # the earlier layout: one binary field, event-time timeout
    stream = file_stream_source(spark, corpus_dir)
    old = (
        stream.withColumn("_th", F.xxhash64(F.col("tokens")))
        .withColumn("shard", F.pmod(F.col("_th"), F.lit(8)).cast("int"))
        .withColumn("_ev_ms", F.unix_millis(F.col("event_time")))
        .withWatermark("event_time", "10 minutes")
        .groupBy("shard")
        .applyInPandasWithState(
            one_field_fn,
            outputStructType=_DEDUP_OUT_SCHEMA,
            stateStructType=T.StructType([T.StructField("seen_hashes", T.BinaryType())]),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    q = old.writeStream.foreachBatch(idempotent_parquet_sink(out_dir)).option(
        "checkpointLocation", ckpt
    ).start()
    q.processAllAvailable()
    q.stop()

    write_file(spark, make_rows([(2, toks(3), "cc", 5)]), corpus_dir)
    q2 = run_dedup_filter_stream(spark, corpus_dir, out_dir, ckpt)
    try:
        with pytest.raises(Exception, match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"):
            q2.processAllAvailable()
    finally:
        q2.stop()


def test_expired_copy_reemitted_and_state_shrinks(spark, dirs):
    corpus_dir, out_dir, ckpt = dirs
    write_file(spark, make_rows([(s, toks(s, 1, 2), "cc", s) for s in range(1, 30)]), corpus_dir)
    # moves the watermark to 2 h - 10 min: every hash above is now more
    # than the 1 h TTL behind it
    write_file(spark, make_rows([(100, toks(100), "cc", 2 * HOUR)]), corpus_dir)
    write_file(spark, make_rows([(200, toks(1, 1, 2), "cc", 2 * HOUR + 1)]), corpus_dir)
    q = run_dedup_filter_stream(spark, corpus_dir, out_dir, ckpt, n_shards=1)
    _drain(q)

    # doc 200 copies doc 1, whose hash expired: emitted again
    assert _sink_seqs(spark, out_dir) == list(range(1, 30)) + [100, 200]
    assert _state_bytes(spark, ckpt, 1) == 30 * 8
    assert _state_bytes(spark, ckpt, 2) == 2 * 8  # docs 100 and 200


def test_late_row_dropped_and_counted(spark, dirs):
    corpus_dir, out_dir, ckpt = dirs
    write_file(spark, make_rows([(1, toks(1), "cc", 2 * HOUR), (2, toks(2), "web", 2 * HOUR + 1)]), corpus_dir)
    # doc 3 is 2 h behind the watermark; doc 4 is on time
    write_file(spark, make_rows([(3, toks(9, 9), "cc", 0), (4, toks(4), "cc", 2 * HOUR + 10)]), corpus_dir)
    # doc 5 carries doc 3's tokens: doc 3 never entered the seen set
    write_file(spark, make_rows([(5, toks(9, 9), "cc", 2 * HOUR + 20)]), corpus_dir)
    q = run_dedup_filter_stream(spark, corpus_dir, out_dir, ckpt, n_shards=4)
    progress = _drain(q)

    assert _sink_seqs(spark, out_dir) == [1, 2, 4, 5]
    with open(os.path.join(out_dir, "_metrics.jsonl")) as fh:
        late = {r["batch_id"]: r["late_rows"] for r in map(json.loads, fh)}
    assert late == {0: 0, 1: 1, 2: 0}
    assert sum(p["observedMetrics"]["exact_dedup"]["late_rows"] for p in progress) == 1


def test_two_files_one_trigger_smaller_doc_seq_survives(spark, dirs):
    corpus_dir, out_dir, ckpt = dirs
    # the larger file lands first; the smaller, later file holds the copy
    # with the smaller doc_seq
    write_file(
        spark,
        make_rows([(10, toks(7, 7, 7), "cc", 10)] + [(s, toks(s, 3), "web", s) for s in range(11, 40)]),
        corpus_dir,
    )
    write_file(spark, make_rows([(1, toks(7, 7, 7), "cc", 1)]), corpus_dir)
    q = run_dedup_filter_stream(spark, corpus_dir, out_dir, ckpt, max_files_per_trigger=2, n_shards=4)
    progress = _drain(q)

    assert [p["numInputRows"] for p in progress if p["numInputRows"]] == [31]
    got = _sink_seqs(spark, out_dir)
    assert 1 in got and 10 not in got
    assert got == [1] + list(range(11, 40))


def test_drain_runs_no_watermark_only_batch(spark, dirs):
    corpus_dir, out_dir, ckpt = dirs
    # every file moves the watermark forward
    for k in range(3):
        write_file(spark, make_rows([(k, toks(k, 5), "cc", k * 1000)]), corpus_dir)
    q = run_dedup_filter_stream(spark, corpus_dir, out_dir, ckpt, n_shards=4)
    progress = _drain(q)

    batches = [p for p in progress if "addBatch" in p["durationMs"]]
    assert len(batches) == 3
    assert all(p["numInputRows"] > 0 for p in batches)
    assert all(
        op["allRemovalsTimeMs"] == 0 for p in batches for op in p["stateOperators"]
    )
