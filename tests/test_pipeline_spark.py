"""Spark pipeline tests: per-turn parity with the pure kernel, stable
ordering, skew-safe aggregation, checkpoint/resume."""

import json
import shutil
import tempfile

import pytest

from material_parsers_spark.kernel.gazetteer import TokenTrieMatcher
from material_parsers_spark.kernel.turns import extract_turn
from material_parsers_spark.pipeline.checkpoint import run_with_checkpoint
from material_parsers_spark.pipeline.extraction import (
    build_default_patterns,
    extract_ordered,
    run_extraction,
    span_counts_per_conversation,
)
from material_parsers_spark.pipeline.session import build_session
from material_parsers_spark.pipeline.transcripts import generate_turns

N_TURNS = 300


@pytest.fixture(scope="module")
def spark():
    session = build_session(app_name="pipeline-tests", master="local[4]",
                            shuffle_partitions=8)
    yield session


@pytest.fixture(scope="module")
def turns(spark):
    return generate_turns(spark, N_TURNS, partitions=4).cache()


def test_generator_is_deterministic(spark):
    a = generate_turns(spark, 100, partitions=4).collect()
    b = generate_turns(spark, 100, partitions=2).collect()
    key = lambda r: (r.conv_id, r.turn_idx)
    assert sorted(a, key=key) == sorted(b, key=key)


def test_generator_schema_matches_input_hint(turns):
    assert [(f.name, f.dataType.simpleString()) for f in turns.schema.fields] == [
        ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
        ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
    ]


def test_turn_idx_dense_per_conversation(turns):
    from pyspark.sql import functions as F
    bad = (
        turns.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.max("turn_idx").alias("mx"),
             F.min("turn_idx").alias("mn"),
             F.countDistinct("turn_idx").alias("nd"))
        .where((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1)
               | (F.col("nd") != F.col("n")))
        .count()
    )
    assert bad == 0


def test_skew_present(spark):
    from pyspark.sql import functions as F
    big = generate_turns(spark, 5000, partitions=8)
    sizes = big.groupBy("conv_id").count().collect()
    largest = max(r["count"] for r in sizes)
    median = sorted(r["count"] for r in sizes)[len(sizes) // 2]
    assert largest > 3 * median  # heavy tail exists


def test_replay_conversations_are_byte_exact(spark):
    """The planted replay conversations (transcripts.py REPLAY_*) must
    reproduce their source conversation's (turn_idx, role, text, tool)
    sequence byte-exactly — only conv_id and ts differ. Uniform conv 25
    (conv-00000029) replays uniform conv 0 (conv-00000004)."""
    from pyspark.sql import functions as F
    rows = generate_turns(spark, 1000, partitions=4) \
        .where(F.col("conv_id").isin("conv-00000004", "conv-00000029")) \
        .collect()
    by_conv = {}
    for r in sorted(rows, key=lambda r: r.turn_idx):
        by_conv.setdefault(r.conv_id, []).append(
            (r.turn_idx, r.role, r.text, r.tool))
    assert by_conv["conv-00000004"] == by_conv["conv-00000029"]
    assert len(by_conv["conv-00000004"]) > 0


def test_pipeline_matches_pure_kernel_per_turn(spark, turns):
    """The north-rule invariant: per-turn extraction equality under stable
    (conv_id, turn_idx) ordering — Spark vs driver-side kernel."""
    result = extract_ordered(turns).orderBy("conv_id", "turn_idx").collect()

    raw = turns.orderBy("conv_id", "turn_idx").collect()
    from material_parsers_spark.pipeline.extraction import load_full_patterns
    matcher = TokenTrieMatcher(load_full_patterns())  # production trie size

    assert len(result) == len([r for r in raw if r.text])
    by_key = {(r.conv_id, r.turn_idx): r for r in result}
    for row in raw:
        expected = extract_turn(row.text, matcher)
        got = by_key[(row.conv_id, row.turn_idx)]
        got_spans = [s.asDict(recursive=True) for s in got.spans]
        exp_spans = json.loads(json.dumps(expected["spans"]))
        assert got_spans == exp_spans, (row.conv_id, row.turn_idx, row.text)
        got_tokens = [t.asDict() for t in got.tokens]
        assert got_tokens == expected["tokens"]
        got_materials = [m.asDict(recursive=True) for m in got.materials]
        exp_materials = json.loads(json.dumps(expected["materials"]))
        assert got_materials == exp_materials


def test_turn_rank_follows_turn_idx(spark, turns):
    out = extract_ordered(turns)
    from pyspark.sql import functions as F
    bad = out.where(F.col("turn_rank") != F.col("turn_idx") + 1).count()
    assert bad == 0


def test_span_counts_salted_agg_matches_direct(spark, turns):
    from pyspark.sql import functions as F

    from material_parsers_spark.pipeline.extraction import extract_ordered
    extracted = extract_ordered(turns, include_tokens=False).cache()
    salted = span_counts_per_conversation(extracted, salt_buckets=8)
    direct = (
        extracted.groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"),
             F.sum(F.size("spans")).alias("n_spans"),
             F.sum(F.size("materials")).alias("n_materials"))
    )
    assert sorted(salted.collect()) == sorted(direct.collect())
    extracted.unpersist()


def test_checkpoint_resume_no_duplicates(spark, turns):
    workdir = tempfile.mkdtemp(prefix="ckpt-test-")
    out_dir = f"{workdir}/out"
    manifest_dir = f"{workdir}/manifest"
    try:
        first = run_with_checkpoint(turns, out_dir, manifest_dir,
                                    run_id="run1", n_buckets=8)
        assert first["turns_processed"] == N_TURNS
        assert first["buckets_skipped"] == []

        # resume: everything checkpointed -> nothing re-processed
        second = run_with_checkpoint(turns, out_dir, manifest_dir,
                                     run_id="run2", n_buckets=8)
        assert second["turns_processed"] == 0
        assert sorted(second["buckets_skipped"]) == sorted(
            first["buckets_processed"])

        # output has exactly one row per turn — no dupes, none missing
        written = spark.read.parquet(out_dir)
        assert written.count() == N_TURNS
        assert written.select("conv_id", "turn_idx").distinct().count() == N_TURNS
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_plan_has_pushed_filter_and_pruned_schema(spark, turns, tmp_path):
    """Scan-level checks: the text-notnull filter reaches the parquet scan
    and only needed columns are read."""
    path = str(tmp_path / "turns.parquet")
    turns.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    pipeline = run_extraction(df).select("conv_id", "turn_idx", "extraction")
    plan = pipeline._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(text)" in plan
    assert "role" not in plan.split("ReadSchema")[1][:200]


def test_extraction_plans_have_one_python_node_and_no_exchange(
        spark, turns, tmp_path):
    """Over a parquet scan, the direct and the web extraction plans, alone
    and under a downstream explode of ``materials``, evaluate the kernel
    in exactly one Arrow-batched Python node and never shuffle. The
    explode is the case the UDF's non-deterministic flag guards: an
    inferred size(materials) > 0 filter must not clone the Python
    stage."""
    from pyspark.sql import functions as F

    from material_parsers_spark.pipeline.web import (
        extract_materials_from_html,
        wrap_turns_in_html,
    )

    path = str(tmp_path / "turns.parquet")
    pages_path = str(tmp_path / "pages.parquet")
    turns.write.mode("overwrite").parquet(path)
    wrap_turns_in_html(turns).write.mode("overwrite").parquet(pages_path)
    direct = extract_ordered(spark.read.parquet(path), include_tokens=False)
    web = extract_materials_from_html(spark.read.parquet(pages_path))
    for out in (direct, web):
        exploded = out.select("conv_id", "turn_idx",
                              F.explode("materials").alias("material"))
        for df in (out, exploded):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("ArrowEvalPython") == 1, plan
            assert "BatchEvalPython" not in plan, plan
            assert "Exchange" not in plan, plan


def test_checkpoint_crash_window_reconciles_orphans(spark, turns):
    """Crash between the parquet commit and the manifest write: the
    orphan bucket data must be deleted and reprocessed on resume — the
    final output has no duplicate and no missing turns."""
    import os

    from material_parsers_spark.pipeline.checkpoint import reconcile_orphans

    workdir = tempfile.mkdtemp(prefix="ckpt-crash-")
    out_dir = f"{workdir}/out"
    manifest_dir = f"{workdir}/manifest"
    try:
        first = run_with_checkpoint(turns, out_dir, manifest_dir,
                                    run_id="run1", n_buckets=8)
        assert first["orphans_reconciled"] == []

        # simulate the crash: delete ONE bucket's manifest after its
        # parquet committed — exactly the window ADVICE flagged
        victims = [n for n in os.listdir(manifest_dir)
                   if n.startswith("bucket-")][:2]
        victim_buckets = sorted(
            int(v[len("bucket-"):-len(".json")]) for v in victims)
        for victim in victims:
            os.remove(os.path.join(manifest_dir, victim))

        resumed = run_with_checkpoint(turns, out_dir, manifest_dir,
                                      run_id="run2", n_buckets=8)
        assert resumed["orphans_reconciled"] == victim_buckets
        assert sorted(resumed["buckets_processed"]) == victim_buckets

        written = spark.read.parquet(out_dir)
        assert written.count() == N_TURNS
        assert written.select("conv_id", "turn_idx").distinct().count() \
            == N_TURNS
        # reconcile is idempotent once manifests are complete
        assert reconcile_orphans(out_dir, manifest_dir) == []
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_extraction_survives_pathological_inputs(spark):
    """Arrow batching + kernel robustness on adversarial turns: nulls,
    empty strings, unicode confusables, emoji, unterminated markup, a
    100 KB turn, and a 40-dopant formula (the kernel's documented
    RuntimeError guard must be contained per turn, not crash the job)."""
    from pyspark.sql import functions as F

    from material_parsers_spark.pipeline.extraction import extract_ordered

    monster = "La " + " ".join(f"Fe 0.0{i} " for i in range(40)) + "O 7"
    rows = [
        ("c1", 0, None),
        ("c1", 1, ""),
        ("c1", 2, "  − "),
        ("c1", 3, "T c = 39 K for MgB 2 \U0001f9ea under pressure"),
        ("c1", 4, "<material>unterminated <rs markup 39 K"),
        ("c1", 5, "x" * 100_000),
        ("c1", 6, monster),
        ("c2", 0, "The Tc of the BaClE2 is 30K."),
    ]
    turns = spark.createDataFrame(
        [(c, i, t, None, None) for c, i, t in rows],
        "conv_id string, turn_idx int, text string, role string, "
        "tool string")
    out = extract_ordered(turns, include_tokens=False).collect()
    # null/empty rows are filtered by the JVM-side guard; the rest survive
    assert len(out) == 6
    by_key = {(r.conv_id, r.turn_idx): r for r in out}
    assert len(by_key[("c2", 0)].spans) >= 2
    assert by_key[("c1", 5)].spans == []
    # per-turn equality against the driver-side kernel on the monsters
    from material_parsers_spark.kernel.gazetteer import TokenTrieMatcher
    from material_parsers_spark.kernel.turns import extract_turn
    from material_parsers_spark.pipeline.extraction import (
        load_full_patterns)
    matcher = TokenTrieMatcher(load_full_patterns())
    for (conv_id, turn_idx), row in by_key.items():
        text = dict(((c, i), t) for c, i, t in rows)[(conv_id, turn_idx)]
        expected = extract_turn(text, matcher, include_tokens=False)
        got = [s.asDict(recursive=True) for s in row.spans]
        assert json.loads(json.dumps(expected["spans"])) == got, \
            (conv_id, turn_idx)


def test_frame_sample_is_relational_and_matches_decode_seam(spark):
    """The registered multimodal_frame_sample must be pure column algebra
    (zero Python nodes in the physical plan); the mapInPandas decode seam
    must produce byte-identical rows on the same input."""
    from material_parsers_spark.queries import (
        SPARK_QUERIES,
        multimodal_frame_sample_decoded,
    )

    sf_dir = "/root/testdata/sf0.001"
    relational = SPARK_QUERIES["multimodal_frame_sample"](spark, sf_dir)
    plan = relational._jdf.queryExecution().executedPlan().toString()
    for python_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython",
                        "PythonMapInArrow"):
        assert python_node not in plan
    seam = multimodal_frame_sample_decoded(spark, sf_dir)
    key = lambda r: (r.doc_id, r.frame_idx)
    assert sorted(relational.collect(), key=key) == \
        sorted(seam.collect(), key=key)


def test_checkpoint_resume_with_reused_run_id_counts_only_new_work(spark, turns):
    """A resume that reuses the prior attempt's run_id must not count that
    attempt's already-committed buckets as processed again: counters read
    back only the pending buckets, and no bucket appears in both
    buckets_processed and buckets_skipped."""
    import os

    from pyspark.sql import functions as F

    workdir = tempfile.mkdtemp(prefix="ckpt-reuse-")
    out_dir = f"{workdir}/out"
    manifest_dir = f"{workdir}/manifest"
    try:
        from material_parsers_spark.pipeline.checkpoint import with_bucket

        bucketed = with_bucket(turns, n_buckets=8)
        subset_buckets = [0, 1, 2]
        partial = bucketed.where(
            F.col("bucket").isin(subset_buckets)).drop("bucket")
        first = run_with_checkpoint(partial, out_dir, manifest_dir,
                                    run_id="attempt", n_buckets=8)
        assert sorted(first["buckets_processed"]) == subset_buckets

        resumed = run_with_checkpoint(turns, out_dir, manifest_dir,
                                      run_id="attempt", n_buckets=8)
        assert set(resumed["buckets_processed"]).isdisjoint(
            resumed["buckets_skipped"])
        assert sorted(resumed["buckets_skipped"]) == subset_buckets
        first_turns = bucketed.where(
            F.col("bucket").isin(subset_buckets)).count()
        assert resumed["turns_processed"] == N_TURNS - first_turns

        written = spark.read.parquet(out_dir)
        assert written.count() == N_TURNS
        assert written.select("conv_id", "turn_idx").distinct().count() \
            == N_TURNS
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_conversation_documents_are_ordered(spark):
    """The materialized document must list turns in turn_idx order."""
    from material_parsers_spark.queries import (
        SPARK_QUERIES,
        clear_turns_cache,
    )

    import os
    os.environ["SPARK_GRAFT_TURNS"] = "300"
    try:
        docs = {r.conv_id: r for r in SPARK_QUERIES[
            "conversation_documents"](spark, "/root/testdata/sf0.001")
            .collect()}
        all_rows = generate_turns(spark, 300, partitions=4).collect()
        for conv_id in list(docs)[:5]:
            rows = sorted([r for r in all_rows if r.conv_id == conv_id],
                          key=lambda r: r.turn_idx)
            expected = "\n".join(
                f"{r.role or '?'}: {r.text or ''}" for r in rows)
            assert docs[conv_id].document == expected, conv_id
            assert docs[conv_id].n_turns == len(rows)
    finally:
        del os.environ["SPARK_GRAFT_TURNS"]
        clear_turns_cache()


def test_conversation_fingerprints_are_injective(spark):
    """Identical transcripts share a fingerprint; a transcript whose turn
    TEXT embeds a 'role: text' newline rendering of another must NOT
    collide with it (the JSON framing is injective — a line-joined
    rendering would hash these two the same)."""
    from material_parsers_spark.queries import conversation_fingerprints

    rows = [
        # conv a == conv b (true duplicates)
        ("a", 0, "user", "hi", None, None),
        ("a", 1, "assistant", "ok", None, None),
        ("b", 0, "user", "hi", None, None),
        ("b", 1, "assistant", "ok", None, None),
        # conv c: ONE turn whose text renders like a+b's document
        ("c", 0, "user", "hi\nassistant: ok", None, None),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    fps = {r.conv_id: r.conv_hash
           for r in conversation_fingerprints(turns).collect()}
    assert fps["a"] == fps["b"]
    assert fps["c"] != fps["a"]


def test_conversation_near_dedup_clusters_mutated_canned_sessions(spark):
    """Stress fixture (round-4 ask): a canned session replayed
    byte-identically AND replayed with a few edited turns. Exact dedup
    (conversation_fingerprints) catches only the identical replay;
    near-dup clusters all three, while a genuinely different
    conversation stays unclustered."""
    from pyspark.sql import functions as F

    from material_parsers_spark.queries import (
        conversation_fingerprints,
        near_dup_conversation_clusters,
    )

    base = [f"Turn {i}: the material MgB 2 superconducts at {20 + i} K "
            f"in run {i} of the canned demo session." for i in range(30)]
    mutated = list(base)
    mutated[7] = "Turn 7: an operator EDITED this line after the replay."
    mutated[19] = "Turn 19: and this one too, slightly."
    other = [f"Completely unrelated conversation line {i} about weather "
             f"patterns and {i} geese." for i in range(30)]

    rows = []
    for conv_id, texts in (("canned-a", base), ("canned-b", base),
                           ("canned-c", mutated), ("other-x", other)):
        for i, text in enumerate(texts):
            rows.append((conv_id, i, "user" if i % 2 else "assistant",
                         text, None, None))
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")

    # exact: only the byte-identical replay pair collides
    fps = {r.conv_id: r.conv_hash
           for r in conversation_fingerprints(turns).collect()}
    assert fps["canned-a"] == fps["canned-b"]
    assert fps["canned-c"] != fps["canned-a"]

    # near-dup: rendered documents -> minhash components
    rendered = turns.groupBy("conv_id").agg(
        F.concat_ws("\n", F.transform(
            F.sort_array(F.collect_list(F.struct(
                "turn_idx",
                F.concat_ws(": ", "role", "text").alias("line")))),
            lambda s: s.getField("line"))).alias("text"))
    clusters = {r.conv_id: r.cluster_id
                for r in near_dup_conversation_clusters(
                    rendered.select(F.col("conv_id").alias("doc_id"),
                                    "text")).collect()}
    assert clusters["canned-a"] == clusters["canned-b"] \
        == clusters["canned-c"] == "canned-a"
    assert "other-x" not in clusters


def test_conversation_dedup_finds_seeded_duplicates(spark):
    """ADVICE r3/r4: the generator PLANTS replay conversations (every
    REPLAY_EVERY-th uniform conversation repeats the one REPLAY_SHIFT
    earlier, transcripts.py REPLAY_*) so conversation_dedup is
    non-vacuous at every scale — including the sf0.001 drift-gate scale
    whose golden used to be empty. The three expected sf0.001 pairs are
    pinned exactly."""
    from material_parsers_spark.queries import (
        SPARK_QUERIES,
        clear_turns_cache,
    )

    clear_turns_cache()
    rows = SPARK_QUERIES["conversation_dedup"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows, "expected planted duplicate conversations at sf0.001"
    assert all(r.n_convs > 1 for r in rows)
    # replay pairs: uniform conv 25 replays 0, 75 replays 50, 125
    # replays 100 -> conv numbers offset by N_HOT_CONVS=4
    firsts = sorted(r.first_conv for r in rows)
    assert firsts == ["conv-00000004", "conv-00000054", "conv-00000104"]


def test_chunked_conversation_documents_parity_and_bounds(spark):
    """conversation_documents_chunked: (a) with a generous knob every
    conversation is one chunk equal to the unchunked document; (b) with
    a small knob chunks are size-bounded and concatenate back to the
    unchunked document in chunk_id order."""
    from pyspark.sql import functions as F

    from material_parsers_spark.queries import (
        SPARK_QUERIES,
        clear_turns_cache,
        conversation_documents_chunked,
    )

    import os
    os.environ["SPARK_GRAFT_TURNS"] = "2000"
    try:
        clear_turns_cache()
        sf = "/root/testdata/sf0.001"
        unchunked = {r.conv_id: r for r in SPARK_QUERIES[
            "conversation_documents"](spark, sf).collect()}
        turns = SPARK_QUERIES["conversation_documents"].__globals__[
            "_turns_for"](spark, sf)

        # (a) generous knob: exact parity
        one = conversation_documents_chunked(turns, max_chars=10**9) \
            .collect()
        assert len(one) == len(unchunked)
        for r in one:
            assert r.chunk_id == 0
            assert r.document == unchunked[r.conv_id].document
            assert r.n_turns == unchunked[r.conv_id].n_turns
            assert r.n_chars == unchunked[r.conv_id].n_chars

        # (b) small knob: bounded rows that reassemble exactly
        max_chars = 2048
        chunks = conversation_documents_chunked(turns, max_chars=max_chars) \
            .collect()
        max_line = max(
            len(f"{r.role or '?'}: {r.text or ''}")
            for r in turns.collect())
        by_conv: dict = {}
        for r in chunks:
            assert len(r.document) <= max_chars + max_line + 1, r.conv_id
            by_conv.setdefault(r.conv_id, []).append(r)
        assert any(len(v) > 1 for v in by_conv.values())  # genuinely split
        for conv_id, rows in by_conv.items():
            rows.sort(key=lambda r: r.chunk_id)
            assert [r.chunk_id for r in rows] == list(range(len(rows)))
            # contiguous, non-overlapping turn ranges
            for prev, cur in zip(rows, rows[1:]):
                assert cur.turn_lo == prev.turn_hi + 1
            assembled = "\n".join(r.document for r in rows)
            assert assembled == unchunked[conv_id].document, conv_id
            assert sum(r.n_turns for r in rows) == \
                unchunked[conv_id].n_turns
    finally:
        del os.environ["SPARK_GRAFT_TURNS"]
        clear_turns_cache()


def test_chunked_conversation_documents_pathological_conversation(spark):
    """Stress (round-4 ask): ONE 100k-turn conversation must come back
    as many bounded chunks — never a single multi-MB aggregate row."""
    from pyspark.sql import functions as F

    from material_parsers_spark.queries import (
        conversation_documents_chunked,
    )

    n = 100_000
    turns = (
        spark.range(n)
        .select(
            F.lit("pathological").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.lit("assistant").alias("role"),
            F.concat(F.lit("step "), F.col("id"),
                     F.lit(" of the endless agent loop run")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    max_chars = 1 << 20   # 1 MiB row bound
    chunks = conversation_documents_chunked(turns, max_chars=max_chars) \
        .collect()
    assert len(chunks) > 1
    assert all(len(r.document) <= max_chars + 128 for r in chunks)
    assert sum(r.n_turns for r in chunks) == n
    lo = min(r.turn_lo for r in chunks)
    hi = max(r.turn_hi for r in chunks)
    assert (lo, hi) == (0, n - 1)


def test_chunked_conversation_documents_dense_ids_across_giant_turn(spark):
    """A single turn longer than max_chars skips raw offset buckets;
    chunk_id must still be DENSE (0..n-1) so pagination by chunk_id
    never misses chunks on exactly the skewed conversations."""
    from pyspark.sql import functions as F

    from material_parsers_spark.queries import (
        conversation_documents_chunked,
    )

    texts = ["short opening turn", "x" * 50_000, "short closing turn",
             "another short turn to land in the last chunk"]
    rows = [("conv-g", i, "user", t, None, None)
            for i, t in enumerate(texts)]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    chunks = sorted(
        conversation_documents_chunked(turns, max_chars=16384).collect(),
        key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in chunks] == list(range(len(chunks)))
    assert len(chunks) >= 2
    # the documented row bound: max_chars + the longest single turn
    assert all(len(r.document) <= 16384 + 50_000 + 64 for r in chunks)
    for prev, cur in zip(chunks, chunks[1:]):
        assert cur.turn_lo == prev.turn_hi + 1
    assembled = "\n".join(r.document for r in chunks)
    expected = "\n".join(f"user: {t}" for t in texts)
    assert assembled == expected


def test_pack_training_sequences_tiles_exactly(spark):
    """Packing manifest invariants: within every sequence the spans
    tile [0, seq_len) with no gaps or overlaps (except the shard's
    final partial sequence, which tiles [0, tail)); per document the
    doc_from offsets cover [0, n_tokens) contiguously in seq order."""
    from pyspark.sql import functions as F

    from material_parsers_spark.queries import (
        _PACK_SEQ_LEN,
        _PACK_SHARDS,
        SPARK_QUERIES,
    )

    df = SPARK_QUERIES["pack_training_sequences"](
        spark, "/root/testdata/sf0.001").collect()
    by_seq = {}
    by_doc = {}
    for r in df:
        assert 0 <= r.seq_begin < r.seq_end <= _PACK_SEQ_LEN
        by_seq.setdefault(r.seq_id, []).append((r.seq_begin, r.seq_end))
        by_doc.setdefault(r.doc_id, []).append(
            (r.seq_id, r.doc_from, r.seq_end - r.seq_begin))
    assert by_seq, "packing produced no spans"
    last_seq_per_shard = {}
    for seq_id in by_seq:
        shard = seq_id % _PACK_SHARDS
        last_seq_per_shard[shard] = max(
            last_seq_per_shard.get(shard, -1), seq_id)
    for seq_id, spans in by_seq.items():
        spans.sort()
        # contiguous from 0
        assert spans[0][0] == 0
        for (b1, e1), (b2, e2) in zip(spans, spans[1:]):
            assert e1 == b2, f"gap/overlap in seq {seq_id}"
        if seq_id != last_seq_per_shard[seq_id % _PACK_SHARDS]:
            assert spans[-1][1] == _PACK_SEQ_LEN, \
                f"non-final sequence {seq_id} not full"
    # per-document coverage: doc_from spans tile [0, n_tokens)
    for doc_id, spans in by_doc.items():
        spans.sort()
        assert spans[0][1] == 0
        covered = 0
        for _, doc_from, width in spans:
            assert doc_from == covered
            covered += width
        assert covered > 0


def test_curation_funnels_monotone_and_nonvacuous(spark):
    """Both curation funnels: counts are cumulative (non-increasing by
    stage), stage 1 equals the input row count, and the conversation
    funnel's every stage from exact_dedup on genuinely drops rows on
    the synthetic corpus (replays, eval sample, planted PII)."""
    from material_parsers_spark.queries import SPARK_QUERIES, _read

    sf = "/root/testdata/sf0.001"
    rows = (SPARK_QUERIES["curation_funnel"](spark, sf)
            .orderBy("stage_idx").collect())
    counts = [r.n_surviving for r in rows]
    assert len(rows) == 7
    assert counts[0] == _read(spark, sf, "documents").count()
    assert all(a >= b for a, b in zip(counts, counts[1:]))

    crows = (SPARK_QUERIES["conversation_curation_funnel"](spark, sf)
             .orderBy("stage_idx").collect())
    ccounts = [r.n_surviving for r in crows]
    assert len(crows) == 6
    assert all(a >= b for a, b in zip(ccounts, ccounts[1:]))
    # exact_dedup (idx 4) must drop the planted replays, the decon
    # stage must drop the eval sample, and PII must drop flagged
    # conversations — and survivors must remain
    assert ccounts[3] < ccounts[2]
    assert ccounts[4] < ccounts[3]
    assert ccounts[5] < ccounts[4]
    assert ccounts[5] > 0
