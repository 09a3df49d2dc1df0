"""Structured Streaming tests: availableNow drain equals the batch path;
restart with the same checkpoint emits nothing new (exactly-once)."""

import shutil
import tempfile

import pytest

from material_parsers_spark.pipeline.session import build_session
from material_parsers_spark.pipeline.transcripts import generate_turns
from material_parsers_spark.streaming.turn_stream import run_stream_once


@pytest.fixture(scope="module")
def spark():
    return build_session(app_name="streaming-tests", master="local[4]",
                         shuffle_partitions=4)


def test_stream_drain_matches_batch_and_is_exactly_once(spark):
    workdir = tempfile.mkdtemp(prefix="stream-test-")
    input_dir = f"{workdir}/in"
    output_dir = f"{workdir}/out"
    checkpoint = f"{workdir}/ckpt"
    try:
        turns = generate_turns(spark, 150, partitions=3)
        turns.write.mode("overwrite").parquet(input_dir)

        run_stream_once(spark, input_dir, output_dir, checkpoint)
        first = spark.read.parquet(output_dir)
        n_expected = turns.where("text is not null and length(text) > 0") \
            .count()
        assert first.count() == n_expected
        assert first.select("conv_id", "turn_idx").distinct().count() == \
            n_expected

        # restart with the same checkpoint: no new input -> no new rows
        run_stream_once(spark, input_dir, output_dir, checkpoint)
        assert spark.read.parquet(output_dir).count() == n_expected

        # new files arrive -> only the delta is processed
        more = generate_turns(spark, 40, partitions=1).withColumn(
            "conv_id", more_prefix())
        more.write.mode("append").parquet(input_dir)
        run_stream_once(spark, input_dir, output_dir, checkpoint)
        assert spark.read.parquet(output_dir).count() > n_expected
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def more_prefix():
    from pyspark.sql import functions as F
    return F.concat(F.lit("late-"), F.col("conv_id"))


def test_windowed_counts_schema(spark):
    from material_parsers_spark.pipeline.extraction import run_extraction
    from material_parsers_spark.streaming.turn_stream import (
        windowed_span_counts)
    # windowed agg plan compiles against the streaming schema (batch DF with
    # identical schema exercises the same analyzer path)
    turns = generate_turns(spark, 50, partitions=1)
    out = windowed_span_counts(run_extraction(turns))
    rows = out.collect()
    assert sum(r.n_turns for r in rows) == 50
    assert all(r.window_start is not None for r in rows)


def test_stateful_conversation_counters_accumulate(spark, tmp_path):
    """applyInPandasWithState accumulates per-conversation state ACROSS
    micro-batches: with one input file per trigger, the final update row
    per conversation equals the batch groupBy over all files."""
    from pyspark.sql import functions as F

    from material_parsers_spark.pipeline.transcripts import generate_turns
    from material_parsers_spark.streaming.turn_stream import (
        conversation_state_updates, read_turn_stream)

    input_dir = tmp_path / "in"
    turns = generate_turns(spark, 120, partitions=2).cache()
    # three files -> three micro-batches under maxFilesPerTrigger=1
    for index, part in enumerate([(0, 40), (40, 80), (80, 120)]):
        (turns.where((F.col("ts").cast("long") - 1700000000)
                     .between(part[0], part[1] - 1))
         .coalesce(1).write.mode("overwrite")
         .parquet(str(input_dir / f"batch-{index}")))

    stream = read_turn_stream(spark, str(input_dir / "batch-*"),
                              max_files_per_trigger=1)
    updates = conversation_state_updates(stream)
    query = (
        updates.writeStream.format("memory").queryName("conv_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    rows = spark.sql("SELECT * FROM conv_state").collect()
    assert rows, "stateful stream produced no updates"
    # last update per conversation == batch rollup over the same input
    latest = {}
    for row in rows:
        if not row.closed:
            current = latest.get(row.conv_id)
            if current is None or row.n_turns >= current.n_turns:
                latest[row.conv_id] = row
    expected = {
        r["conv_id"]: r
        for r in turns.groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"),
             F.sum(F.length("text")).alias("n_chars"))
        .collect()
    }
    assert set(latest) == set(expected)
    for conv_id, row in latest.items():
        assert row.n_turns == expected[conv_id]["n_turns"], conv_id
        assert row.n_chars == expected[conv_id]["n_chars"], conv_id


def test_streaming_web_extraction_drain_matches_batch(spark):
    """The HTML-strip + extraction operator runs unchanged under a
    streaming plan: an availableNow drain over HTML turns produces the
    same rows as the batch web path."""
    import json as _json

    from material_parsers_spark.pipeline.web import (
        extract_materials_from_html,
        wrap_turns_in_html,
    )
    from material_parsers_spark.streaming.turn_stream import read_turn_stream

    workdir = tempfile.mkdtemp(prefix="stream-web-")
    try:
        turns = wrap_turns_in_html(generate_turns(spark, 120, partitions=3))
        turns.write.mode("overwrite").parquet(f"{workdir}/in")

        stream = extract_materials_from_html(
            read_turn_stream(spark, f"{workdir}/in"))
        assert stream.isStreaming
        query = (stream.writeStream.format("parquet")
                 .option("path", f"{workdir}/out")
                 .option("checkpointLocation", f"{workdir}/ckpt")
                 .trigger(availableNow=True).start())
        query.awaitTermination()

        batch = extract_materials_from_html(turns)
        key = lambda r: (r["conv_id"], r["turn_idx"])
        got = sorted((r.asDict(recursive=True)
                      for r in spark.read.parquet(f"{workdir}/out")
                      .collect()), key=key)
        want = sorted((r.asDict(recursive=True) for r in batch.collect()),
                      key=key)
        assert _json.loads(_json.dumps(got)) == _json.loads(_json.dumps(want))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_streaming_exact_dedup_drains_to_batch_distinct(spark, tmp_path):
    """dropDuplicatesWithinWatermark over the turn stream: an
    availableNow drain emits exactly one row per distinct turn text
    (the synthetic corpus cycles templates, so real duplicates exist),
    matching the batch distinct-hash count; no hash is emitted twice."""
    from pyspark.sql import functions as F

    from material_parsers_spark.pipeline.transcripts import generate_turns
    from material_parsers_spark.streaming.turn_stream import (
        read_turn_stream, streaming_exact_dedup)

    input_dir = tmp_path / "in"
    turns = generate_turns(spark, 300, partitions=2).cache()
    for index, part in enumerate([(0, 100), (100, 200), (200, 300)]):
        (turns.where((F.col("ts").cast("long") - 1700000000)
                     .between(part[0], part[1] - 1))
         .coalesce(1).write.mode("overwrite")
         .parquet(str(input_dir / f"batch-{index}")))

    deduped = streaming_exact_dedup(
        read_turn_stream(spark, str(input_dir / "batch-*"),
                         max_files_per_trigger=1))
    query = (
        deduped.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    rows = spark.sql("SELECT text_hash FROM dedup_stream").collect()
    assert rows, "dedup stream produced no rows"
    hashes = [r.text_hash for r in rows]
    assert len(hashes) == len(set(hashes)), "a hash was emitted twice"
    expected = (turns.where(F.col("text").isNotNull())
                .select("text").distinct().count())
    assert len(hashes) == expected
    assert turns.count() > expected, "corpus has no duplicate texts"


def test_simhash64_bag_of_words_semantics(spark):
    """The fingerprint is invariant to word order, repetition, and the
    empty tokens double spaces produce — and flips on a changed word."""
    from material_parsers_spark.streaming.turn_stream import simhash64_col

    rows = [(1, "hello brave new world"),
            (2, "world new brave hello"),
            (3, "hello hello brave brave new world world"),
            (4, "hello brave  new world"),      # double space
            (5, "hello brave new planet")]      # changed word
    df = spark.createDataFrame(rows, "id int, text string") \
        .select("id", simhash64_col("text").alias("fp"))
    fps = {r.id: r.fp for r in df.collect()}
    # order, repetition AND re-whitespacing are all invariant: empty
    # tokens from runs of whitespace are filtered before hashing
    assert fps[1] == fps[2] == fps[3] == fps[4]
    assert fps[5] != fps[1]
    assert all(isinstance(v, int) for v in fps.values())


def test_streaming_near_dedup_drains_to_batch_fingerprint_distinct(
        spark, tmp_path):
    """The near-dedup drain emits exactly one row per distinct
    bag-of-words fingerprint, never repeats one, and collapses at least
    as much as exact text dedup (bag-identity is coarser than
    byte-identity)."""
    from pyspark.sql import functions as F

    from material_parsers_spark.pipeline.transcripts import generate_turns
    from material_parsers_spark.streaming.turn_stream import (
        read_turn_stream, simhash64_col, streaming_near_dedup)

    input_dir = tmp_path / "in"
    turns = generate_turns(spark, 300, partitions=2).cache()
    for index, part in enumerate([(0, 150), (150, 300)]):
        (turns.where((F.col("ts").cast("long") - 1700000000)
                     .between(part[0], part[1] - 1))
         .coalesce(1).write.mode("overwrite")
         .parquet(str(input_dir / f"batch-{index}")))

    deduped = streaming_near_dedup(
        read_turn_stream(spark, str(input_dir / "batch-*"),
                         max_files_per_trigger=1))
    query = (
        deduped.writeStream.format("memory").queryName("near_dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    rows = spark.sql("SELECT simhash64 FROM near_dedup_stream").collect()
    assert rows, "near-dedup stream produced no rows"
    fps = [r.simhash64 for r in rows]
    assert len(fps) == len(set(fps)), "a fingerprint was emitted twice"
    batch = turns.where(F.col("text").isNotNull()) \
        .select(simhash64_col("text").alias("fp"))
    expected = batch.distinct().count()
    assert len(fps) == expected
    n_exact = (turns.where(F.col("text").isNotNull())
               .select("text").distinct().count())
    assert expected <= n_exact
