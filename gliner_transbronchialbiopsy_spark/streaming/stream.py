"""Structured-Streaming face of the engine (incremental ingest).

The reference is strictly batch/interactive (SURVEY.md §2.9); its
incremental behaviors are skip-already-seen files (app.py:345) and the
append-only corrections log (corrections_manager.py). Those map to:

- `stream_documents`: readStream over a documents directory (new
  parquet files = new upload batches); the batch path's validate →
  kg_pipeline.detect DAG runs per micro-batch via foreachBatch into an
  epoch-keyed idempotent sink — effectively-once (foreachBatch alone
  is at-least-once).
- `corrections_latest_state`: a streaming last-writer-wins over the
  corrections event log with a watermark, mirroring
  corrections_manager.latest_state (:85-97) as a live view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)

CORRECTIONS_SCHEMA = T.StructType(
    [
        T.StructField("document", T.StringType()),
        T.StructField("entity_type", T.StringType()),
        T.StructField("original_value", T.StringType()),
        T.StructField("corrected_value", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("user", T.StringType()),
        T.StructField("notes", T.StringType()),
    ]
)


def stream_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    """Incremental documents source: one new parquet file per 'upload'."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def run_incremental_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    catalog: dict[str, str] | None = None,
):
    """Per-micro-batch batch DAG via foreachBatch. foreachBatch itself is
    only at-least-once (a retried epoch re-runs process_batch), so the
    sink is made IDEMPOTENT by keying each write to an epoch=<id>
    partition directory with overwrite: a replayed epoch replaces its
    own output instead of appending duplicate mention rows — end-to-end
    effectively-once. Readers `spark.read.parquet(output_dir)` and get
    an extra `epoch` partition column. Returns the StreamingQuery.

    Fails fast if output_dir holds a pre-epoch layout (root-level part
    files from the old flat-append sink): mixing root files with
    epoch=<id> subdirectories breaks parquet partition discovery
    (conflicting directory structures), so a resumed stream needs a
    fresh output_dir rather than a confusing read-side error later."""
    import os

    from ..plans import kg_pipeline

    if os.path.isdir(output_dir):
        legacy = [
            f for f in os.listdir(output_dir)
            if f.endswith(".parquet") and not f.startswith(("epoch=", "_", "."))
        ]
        if legacy:
            raise ValueError(
                f"output_dir {output_dir!r} contains {len(legacy)} root-level "
                "parquet files from a pre-epoch (flat-append) run; the "
                "epoch-partitioned sink cannot coexist with them (parquet "
                "partition discovery fails on the mixed layout). Point the "
                "stream at a fresh output_dir, or move the legacy files "
                "into an epoch=<n> subdirectory first."
            )

    stream = stream_documents(spark, input_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        validated = kg_pipeline.validate_documents(batch_df)
        sectionized = validated.select(
            "repo", "path", "commit", "lang", "content_sha256",
            F.col("content").alias("conclusion"),
        )
        # detect() fans out on content_sha256, so two uploads sharing a
        # (repo, path, commit) key each keep their own spans and sha;
        # the epoch write below is the single consumer (no barrier)
        mentions = kg_pipeline.detect(
            sectionized, catalog=catalog, materialize=False
        )
        try:
            # idempotent per-epoch sink: overwrite THIS epoch's directory only
            mentions.write.mode("overwrite").parquet(
                f"{output_dir}/epoch={int(epoch_id)}"
            )
        finally:
            kg_pipeline.release_doc_cache(mentions)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_stage_snapshots(
    spark: SparkSession,
    workdir: str,
    stage: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over a CheckpointManager stage's snapshot directory —
    batch and streaming share ONE resume story (the Iceberg
    incremental-scan pattern of SURVEY.md S1, on the local snapshot
    layout): the batch side appends stage partitions under
    <workdir>/<stage>/data, and a streaming consumer with a checkpoint
    sees each appended file exactly once. The schema comes from the
    stage's persisted _schema.json (the batch reader's own source of
    truth), so the two faces can never drift.

    Scope: file sources track files BY NAME in the streaming
    checkpoint, so this covers append-style stage growth (the
    resume_filter discipline, foreachBatch epoch dirs). A full
    mode('overwrite') snapshot rewrite is a NEW dataset — replaced
    files keep their names and are not re-emitted; consume a rewritten
    snapshot with a fresh streaming checkpoint."""
    import json
    from pathlib import Path

    from pyspark.sql.types import StructType

    d = Path(workdir) / stage
    if schema is None:
        schema = StructType.fromJson(
            json.loads((d / "_schema.json").read_text())
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(str(d / "data"))


def dedup_documents_stream(
    doc_stream: DataFrame,
    content_col: str = "content",
    ts_col: str | None = None,
    delay: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup across micro-batches — the streaming face
    of the M3 dedup-before-expensive-work discipline: only the FIRST
    arrival of each distinct content flows downstream (to detection /
    the KG DAG); replays and re-uploads are dropped by Spark's stateful
    dedup operator, checkpoint-backed across restarts.

    With ts_col, state is bounded: dropDuplicatesWithinWatermark GC's a
    content hash once the watermark passes `delay` behind it (a re-
    upload later than `delay` is treated as new — the right trade at
    10^12 docs, where unbounded dedup state cannot live in executors;
    pair with the batch exact_duplicates() sweep for full-history
    dedup). Without ts_col, state grows with distinct-content count —
    only for bounded backfills."""
    from ..functions import spark_fns

    hashed = doc_stream.withColumn(
        "content_sha256", spark_fns.content_sha256(F.col(content_col))
    )
    if ts_col is None:
        return hashed.dropDuplicates(["content_sha256"])
    return hashed.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        ["content_sha256"]
    )


def running_label_totals(mentions_stream: DataFrame):
    """Custom stateful operator (applyInPandasWithState): running
    per-label mention totals + distinct-surface high-water marks across
    micro-batches. State = (n_mentions, n_batches); emits one updated
    row per label per trigger.

    This is the streaming generalization of A4/A6 counters
    (dashboard.py:114-126) with exactly-once state via the streaming
    checkpoint."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        (label,) = key
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
        if state.exists:
            total, batches = state.get
        else:
            total, batches = 0, 0
        total += n_new
        batches += 1
        state.update((total, batches))
        yield pd.DataFrame(
            {"label": [label], "total_mentions": [total], "n_batches": [batches]}
        )

    return mentions_stream.groupBy("label").applyInPandasWithState(
        update,
        outputStructType="label string, total_mentions long, n_batches int",
        stateStructType="total long, batches int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def corrections_latest_state(corrections_stream: DataFrame):
    """Streaming last-writer-wins over the corrections event log: one
    live row per (document, entity_type) carrying the current corrected
    value — corrections_manager.latest_state (:85-97) as a continuously
    maintained view instead of a batch fold. State per key is a single
    (timestamp, correction_id, corrected_value) triple (not the event
    history), so state size is bounded by the number of DISTINCT
    corrected cells, and a late or replayed event older than the stored
    (timestamp, correction_id) is ignored — the same deterministic
    tie-break as the batch fold's ORDER BY ts DESC, correction_id DESC
    (stats.last_writer_wins). Streams without a correction_id column
    fall back to -1 (equal-timestamp ties then resolve by arrival
    order, which IS nondeterministic — give events an id)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        document, entity_type = key
        if state.exists:
            best_ts, best_id, best_val = state.get
        else:
            best_ts, best_id, best_val = None, None, None
        for pdf in pdfs:
            ids = (
                pdf["correction_id"]
                if "correction_id" in pdf.columns
                else [-1] * len(pdf)
            )
            for ts, cid, val in zip(pdf["timestamp"], ids, pdf["corrected_value"]):
                cid = -1 if pd.isna(cid) else int(cid)
                if best_ts is None or (ts, cid) >= (best_ts, best_id):
                    best_ts, best_id, best_val = ts, cid, val
        state.update((best_ts, best_id, best_val))
        yield pd.DataFrame(
            {
                "document": [document],
                "entity_type": [entity_type],
                "corrected_value": [best_val],
                "last_updated": [best_ts],
            }
        )

    return corrections_stream.groupBy("document", "entity_type").applyInPandasWithState(
        update,
        outputStructType=(
            "document string, entity_type string, "
            "corrected_value string, last_updated timestamp"
        ),
        stateStructType="ts timestamp, cid long, val string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def corrections_running_counts(corrections_stream: DataFrame) -> DataFrame:
    """Streaming A9/A10 analogue: corrections per entity_type per day
    window with a late-data watermark."""
    return (
        corrections_stream.withWatermark("timestamp", "1 day")
        .groupBy(
            F.window("timestamp", "1 day").alias("day"),
            "entity_type",
        )
        .agg(F.count("*").alias("n_corrections"))
        .select(
            F.col("day.start").alias("day_start"), "entity_type", "n_corrections"
        )
    )


def streaming_sessions(
    events_stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    timeout_sec: int = 1800,
    watermark_delay_sec: int | None = None,
):
    """Streaming inactivity-gap sessionization — the stateful session
    operator (applyInPandasWithState + EventTimeTimeout) that
    maintains one OPEN session per key and emits each session exactly
    once when it CLOSES: either a new event arrives past the gap
    (in-data closure) or the event-time watermark passes
    last_event + timeout (timeout closure, the piece the batch
    operator ranges.sessionize cannot express — batch sees the whole
    log; a stream must decide with only the watermark's lateness
    bound).

    Semantics match ranges.sessionize on the same closed log: gap >
    timeout_sec starts a new session (batch rows are folded in event-
    time order). Late rows inside the open session merge into it
    (extending sess_start backwards if needed); rows later than the
    watermark are dropped by Spark upstream — watermark_delay_sec
    (default = timeout_sec) is that lateness budget. State per key is
    ONE (start, last, n) triple — bounded by live keys, not history,
    and the timeout clears it, so an idle key costs nothing forever.

    Output (append mode): (key, sess_start, sess_end, n_events),
    epoch seconds. The still-open session at end-of-stream is
    intentionally NOT emitted (it isn't closed — a restart from the
    checkpoint resumes it).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    delay = (
        watermark_delay_sec
        if watermark_delay_sec is not None
        else timeout_sec
    )

    def update(key_t, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        (kid,) = key_t
        if state.hasTimedOut:
            if state.exists:
                s0, last, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        key: [kid],
                        "sess_start": [s0],
                        "sess_end": [last],
                        "n_events": [n],
                    }
                )
            return
        ts = []
        for pdf in pdfs:
            # ns -> floor epoch seconds (deterministic, tz-agnostic:
            # only differences matter for gap logic)
            ts += [int(v) // 1_000_000_000 for v in pdf[ts_col].astype("int64")]
        ts.sort()
        if state.exists:
            s0, last, n = state.get
        else:
            s0 = last = None
            n = 0
        closed = []
        for t in ts:
            if s0 is None:
                s0, last, n = t, t, 1
            elif t - last > timeout_sec:
                closed.append((s0, last, n))
                s0, last, n = t, t, 1
            else:
                n += 1
                if t > last:
                    last = t
                elif t < s0:
                    s0 = t  # late in-session row extends the start
        state.update((s0, last, n))
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max((last + timeout_sec) * 1000, wm_ms + 1)
        )
        if closed:
            yield pd.DataFrame(
                {
                    key: [kid] * len(closed),
                    "sess_start": [c[0] for c in closed],
                    "sess_end": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    # derive the key field's DDL type from the input schema — the
    # docstring imposes no key-type contract, so a string device id
    # must work as well as a long user id
    key_ddl = events_stream.schema[key].dataType.simpleString()
    return (
        events_stream.withWatermark(ts_col, f"{delay} seconds")
        .groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=(
                f"{key} {key_ddl}, sess_start long, sess_end long, "
                "n_events long"
            ),
            stateStructType="s0 long, last long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
