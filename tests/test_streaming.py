"""Structured-Streaming smoke: incremental documents ingest through the
detect DAG via foreachBatch, and the watermarked corrections window agg."""

import os

import pandas as pd
import pytest

from gliner_transbronchialbiopsy_spark.sources import corpus
from gliner_transbronchialbiopsy_spark.streaming import stream


# hang protection is the bounded awaitTermination(timeout) on every
# query below (asserted to have actually terminated) — NOT a
# pytest.mark.timeout, which is inert here (pytest-timeout isn't
# installed; pytest would report it as an unknown mark)
def test_incremental_pipeline_availableNow(spark, tmpdir_path):
    docs_pd, _ = corpus.generate_corpus(n_docs=60, seed=42)
    in_dir = os.path.join(tmpdir_path, "in")
    os.makedirs(in_dir)
    # two 'upload batches' as separate files
    docs_pd.iloc[:30].to_parquet(os.path.join(in_dir, "batch1.parquet"), index=False)
    docs_pd.iloc[30:].to_parquet(os.path.join(in_dir, "batch2.parquet"), index=False)

    out_dir = os.path.join(tmpdir_path, "out")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    from gliner_transbronchialbiopsy_spark.functions import patterns as pat

    q = stream.run_incremental_pipeline(
        spark, in_dir, out_dir, ckpt, catalog=pat.MEDICAL_PATTERNS
    )
    assert q.awaitTermination(240), "stream did not terminate in 240s"

    got = spark.read.parquet(out_dir)
    assert got.count() > 0
    assert {"repo", "path", "label", "text", "content_sha256"} <= set(got.columns)

    # exactly-once on restart: availableNow with same checkpoint adds nothing
    n = got.count()
    q2 = stream.run_incremental_pipeline(
        spark, in_dir, out_dir, ckpt, catalog=pat.MEDICAL_PATTERNS
    )
    assert q2.awaitTermination(240), "restarted stream did not terminate"
    assert spark.read.parquet(out_dir).count() == n

    # the legacy-layout guard: a root-level part file in output_dir
    # (pre-epoch flat-append sink) must fail fast with a clear message
    open(os.path.join(out_dir, "part-00000-legacy.parquet"), "wb").close()
    with pytest.raises(ValueError, match="pre-epoch"):
        stream.run_incremental_pipeline(
            spark, in_dir, out_dir, os.path.join(tmpdir_path, "ckpt2"),
            catalog=pat.MEDICAL_PATTERNS,
        )


def test_incremental_pipeline_same_key_uploads_keep_lineage(spark, tmpdir_path):
    """Two uploads in one micro-batch share (repo, path, commit) but
    carry different contents: each span must be emitted once, tagged
    with the sha of the content it came from (a fan-out keyed on the
    document key would cross the two and double the rows)."""
    import hashlib

    from gliner_transbronchialbiopsy_spark.functions import patterns as pat

    contents = [
        "CONCLUSION : Biopsies transbronchiques (LID) : 7 fragments. A0 B0.",
        "CONCLUSION : Biopsies transbronchiques (LM) : 3 fragments. A2 B1.",
    ]
    in_dir = os.path.join(tmpdir_path, "in")
    os.makedirs(in_dir)
    pd.DataFrame(
        {
            "repo": ["r", "r"], "path": ["p", "p"], "commit": ["c", "c"],
            "lang": ["txt", "txt"], "content": contents,
        }
    ).to_parquet(os.path.join(in_dir, "upload.parquet"), index=False)
    out_dir = os.path.join(tmpdir_path, "out")
    q = stream.run_incremental_pipeline(
        spark, in_dir, out_dir, os.path.join(tmpdir_path, "ckpt"),
        catalog=pat.MEDICAL_PATTERNS,
    )
    assert q.awaitTermination(240), "stream did not terminate in 240s"

    by_sha = {hashlib.sha256(c.encode()).hexdigest(): c for c in contents}
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["content_sha256"] in by_sha
        src = by_sha[r["content_sha256"]]
        assert src[r["start_idx"]:r["end_idx"]] == r["text"], r
    assert {r["text"] for r in rows} == {
        "LID", "7", "A0", "B0", "LM", "3", "A2", "B1",
    }


def test_corrections_streaming_window(spark, tmpdir_path):
    rows = pd.DataFrame(
        {
            "document": ["d1", "d1", "d2"],
            "entity_type": ["Site", "Site", "Grade A"],
            "original_value": ["LID", "LID", "A0"],
            "corrected_value": ["LM", "LSD", "A1"],
            "timestamp": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 11:00", "2024-01-02 09:00"]
            ),
            "user": ["u", "u", "v"],
            "notes": [None, None, None],
        }
    )
    src = os.path.join(tmpdir_path, "corr")
    os.makedirs(src)
    # pandas defaults to ns timestamps, which Spark's parquet reader
    # rejects for TimestampType — coerce to micros
    rows.to_parquet(
        os.path.join(src, "log.parquet"),
        index=False,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )

    cstream = (
        spark.readStream.schema(stream.CORRECTIONS_SCHEMA)
        .parquet(src)
    )
    agg = stream.corrections_running_counts(cstream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("corr_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {
        (r["entity_type"], str(r["day_start"])[:10]): r["n_corrections"]
        for r in spark.sql("SELECT * FROM corr_counts").collect()
    }
    assert out[("Site", "2024-01-01")] == 2
    assert out[("Grade A", "2024-01-02")] == 1


def test_stateful_running_label_totals(spark, tmpdir_path):
    import os

    rows = pd.DataFrame(
        {
            "label": ["Site", "Site", "Grade A", "Site", "Grade A", "DAD"],
            "text": ["LID", "LM", "A0", "LSD", "A1", "DAD"],
        }
    )
    src = os.path.join(tmpdir_path, "mstream")
    os.makedirs(src)
    rows.iloc[:3].to_parquet(os.path.join(src, "b1.parquet"), index=False)
    rows.iloc[3:].to_parquet(os.path.join(src, "b2.parquet"), index=False)

    mstream = (
        spark.readStream.schema("label string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = stream.running_label_totals(mstream)
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("label_totals")
        .option("checkpointLocation", os.path.join(tmpdir_path, "st_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT label, max(total_mentions) AS total FROM label_totals GROUP BY label"
    ).collect()
    totals = {r["label"]: r["total"] for r in out}
    assert totals == {"Site": 3, "Grade A": 2, "DAD": 1}


def test_streaming_cross_batch_dedup(spark, tmpdir_path):
    """Duplicate contents arriving in DIFFERENT micro-batches are
    dropped by the stateful dedup; only first arrivals flow."""
    rows = pd.DataFrame(
        {
            "path": ["a", "b", "c", "d"],
            "content": ["texte un", "texte deux", "texte un", "texte deux"],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:01",
                 "2024-01-01 10:02", "2024-01-01 10:03"]
            ),
        }
    )
    src = os.path.join(tmpdir_path, "ddsrc")
    os.makedirs(src)
    for i, sl in enumerate((slice(0, 2), slice(2, 4))):
        rows.iloc[sl].to_parquet(
            os.path.join(src, f"b{i}.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    dstream = (
        spark.readStream.schema("path string, content string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = stream.dedup_documents_stream(dstream, ts_col="ts")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", os.path.join(tmpdir_path, "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT path, content FROM dd_out").collect()
    assert sorted(r["path"] for r in got) == ["a", "b"]
    assert {r["content"] for r in got} == {"texte un", "texte deux"}


def test_corrections_latest_state_streaming_lww(spark, tmpdir_path):
    """Across micro-batches, each (document, entity_type) converges to
    the LATEST correction; an older replay in a later batch is ignored."""
    b1 = pd.DataFrame(
        {
            "document": ["d1", "d2"],
            "entity_type": ["Site", "Site"],
            "original_value": ["LID", "LM"],
            "corrected_value": ["LM", "LSD"],
            "timestamp": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 10:05"]),
            "user": ["u", "u"],
            "notes": pd.array([None, None], dtype="string"),
        }
    )
    b2 = pd.DataFrame(
        {
            "document": ["d1", "d1"],
            "entity_type": ["Site", "Site"],
            "original_value": ["LID", "LID"],
            "corrected_value": ["LSG", "STALE"],
            # newer correction + an out-of-order replay OLDER than b1's
            "timestamp": pd.to_datetime(["2024-01-01 11:00", "2024-01-01 09:00"]),
            "user": ["u", "u"],
            "notes": pd.array([None, None], dtype="string"),
        }
    )
    src = os.path.join(tmpdir_path, "lwwsrc")
    os.makedirs(src)
    for name, pdf in (("b1", b1), ("b2", b2)):
        pdf.to_parquet(
            os.path.join(src, f"{name}.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    cstream = (
        spark.readStream.schema(stream.CORRECTIONS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    live = stream.corrections_latest_state(cstream)
    q = (
        live.writeStream.outputMode("update")
        .format("memory")
        .queryName("lww_live")
        .option("checkpointLocation", os.path.join(tmpdir_path, "lww_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT document, corrected_value, last_updated FROM lww_live"
    ).collect()
    latest = {}
    for r in rows:  # keep the final update per doc
        cur = latest.get(r["document"])
        if cur is None or r["last_updated"] >= cur[1]:
            latest[r["document"]] = (r["corrected_value"], r["last_updated"])
    assert latest["d1"][0] == "LSG"   # newest wins; STALE replay ignored
    assert latest["d2"][0] == "LSD"


def test_stream_stage_snapshots_incremental_resume(spark, tmpdir_path):
    """VERDICT r3 #8: a streaming consumer over a batch checkpoint
    stage dir sees exactly the appended partition on resume — batch
    snapshots and streaming share one resume story."""
    from pyspark.sql import functions as F

    from gliner_transbronchialbiopsy_spark.sources.checkpoint import (
        CheckpointManager,
    )

    workdir = os.path.join(tmpdir_path, "work")
    ckpt = CheckpointManager(workdir)
    first = spark.createDataFrame(
        [(f"d{i}", f"text {i}") for i in range(10)], "doc_id string, text string"
    )
    ckpt.write("sectionized", first)

    sink = os.path.join(tmpdir_path, "seen")
    ckpt_dir = os.path.join(tmpdir_path, "stream_ckpt")

    def run_pass() -> None:
        src = stream.stream_stage_snapshots(spark, workdir, "sectionized")
        q = (
            src.writeStream.foreachBatch(
                lambda df, epoch: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_pass()
    seen1 = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert seen1 == {f"d{i}" for i in range(10)}

    # batch side appends a new partition to the SAME stage dir (the
    # resume_filter discipline); the stream's checkpoint must deliver
    # only the new files on the next pass
    second = spark.createDataFrame(
        [(f"n{i}", f"new {i}") for i in range(3)], "doc_id string, text string"
    )
    second.write.mode("append").parquet(os.path.join(workdir, "sectionized", "data"))
    run_pass()
    rows = spark.read.parquet(sink).collect()
    seen2 = [r["doc_id"] for r in rows]
    # every original row exactly once (not reprocessed), plus the 3 new
    assert len(seen2) == 13
    assert set(seen2) == seen1 | {"n0", "n1", "n2"}


def test_streaming_sessions_gap_and_timeout_closure(spark, tmpdir_path):
    """In-batch gap closure AND watermark-timeout closure: batch1 has
    user 1 with an in-data gap (two sessions, first closed by gap) and
    user 2 mid-session; batch2's much-later event advances the
    watermark past user 1/2's timeout -> their open sessions emit via
    EventTimeTimeout. User 3's final session stays open (never
    emitted), matching ranges.sessionize on the closed prefix."""
    src = os.path.join(tmpdir_path, "sess_in")
    os.makedirs(src)
    b1 = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 10:00:00",
                    "2024-01-01 10:05:00",
                    "2024-01-01 12:00:00",  # >30min gap -> new session
                    "2024-01-01 10:30:00",
                ]
            ),
        }
    )
    b2 = pd.DataFrame(
        {
            "user_id": [3],
            "ts": pd.to_datetime(["2024-01-03 00:00:00"]),
        }
    )
    for name, pdf in (("b1", b1), ("b2", b2)):
        pdf.to_parquet(
            os.path.join(src, f"{name}.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    src_stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream.streaming_sessions(
        src_stream, "user_id", "ts", timeout_sec=1800
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option(
            "checkpointLocation", os.path.join(tmpdir_path, "sess_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "session stream did not terminate"
    got = {
        (r["user_id"], r["sess_start"], r["sess_end"], r["n_events"])
        for r in spark.sql("select * from sessions_out").collect()
    }
    import calendar

    ep = lambda s: calendar.timegm(  # noqa: E731
        pd.Timestamp(s).to_pydatetime().timetuple()
    )
    expected = {
        # user 1 session 1: closed IN-DATA by the 12:00 event's gap
        (1, ep("2024-01-01 10:00:00"), ep("2024-01-01 10:05:00"), 2),
        # user 1 session 2 + user 2: closed by WATERMARK TIMEOUT
        # after batch2 advances event time to 2024-01-03
        (1, ep("2024-01-01 12:00:00"), ep("2024-01-01 12:00:00"), 1),
        (2, ep("2024-01-01 10:30:00"), ep("2024-01-01 10:30:00"), 1),
    }
    assert got == expected  # user 3's open session is NOT emitted
