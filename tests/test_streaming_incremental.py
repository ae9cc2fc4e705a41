"""Structured-Streaming incremental indexing."""

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts,
)
from sonar_tantivy_spark.streaming.incremental import start_incremental_indexing


def test_incremental_stream_matches_batch(spark, tmp_path):
    corpus = generate_transcripts(400)
    half = len(corpus) // 2
    src = tmp_path / "stream_src"
    ckpt = str(tmp_path / "ckpt")
    sdf_all = spark.createDataFrame(corpus)

    # batch reference
    cat = IndexCatalog(spark, str(tmp_path / "idx"))
    ref = cat.create_index("batch", TRANSCRIPT_SCHEMA)
    ref.add_df(sdf_all, order_cols=["conv_id", "turn_idx"], num_segments=1)
    want = {(r["docid"], round(r["score"], 6))
            for r in ref.query_df("hello", limit=50)
            .selectExpr("docid_g as docid", "score").collect()}

    # streaming: two files arriving over time → two micro-batches
    inc = cat.create_index("inc", TRANSCRIPT_SCHEMA)
    spark.createDataFrame(corpus.iloc[:half]).coalesce(1).write.mode(
        "overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema(sdf_all.schema).option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = start_incremental_indexing(
        stream, inc, order_cols=["conv_id", "turn_idx"], checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
        assert len(inc.segment_info()) >= 1
        spark.createDataFrame(corpus.iloc[half:]).coalesce(1).write.mode(
            "append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    assert sum(s["max_doc"] for s in inc.segment_info()) == len(corpus)
    # same doc set + scores (docids differ by arrival order → compare by
    # scores joined to stored keys)
    got_rows = inc.query("hello", limit=50)
    want_rows = ref.query("hello", limit=50)
    key = lambda r: (r["doc"]["conv_id"][0], r["doc"]["turn_idx"][0])  # noqa: E731
    assert {key(r) for r in got_rows} == {key(r) for r in want_rows}
    gs = {key(r): round(r["score"], 6) for r in got_rows}
    ws = {key(r): round(r["score"], 6) for r in want_rows}
    assert gs == ws
    assert want  # batch reference non-empty


def test_incremental_auto_compact_and_replay_ledger(spark, tmp_path):
    """LogMergePolicy analog: the stream sink compacts when the manifest
    grows past the threshold, results stay identical to the batch build,
    and the retired-epochs ledger still recognizes replayed batches
    whose segments were merged away."""
    from sonar_tantivy_spark.streaming.incremental import epoch_committed

    corpus = generate_transcripts(400)
    quarters = [corpus.iloc[i::4].sort_values(["conv_id", "turn_idx"])
                for i in range(4)]
    src = tmp_path / "ac_src"
    ckpt = str(tmp_path / "ac_ckpt")
    sdf_all = spark.createDataFrame(corpus)

    cat = IndexCatalog(spark, str(tmp_path / "ac_idx"))
    ref = cat.create_index("ac_batch", TRANSCRIPT_SCHEMA)
    ref.add_df(sdf_all, order_cols=["conv_id", "turn_idx"], num_segments=1)

    inc = cat.create_index("ac_inc", TRANSCRIPT_SCHEMA)
    spark.createDataFrame(quarters[0]).coalesce(1).write.parquet(str(src))
    stream = (
        spark.readStream.schema(sdf_all.schema)
        .option("maxFilesPerTrigger", "1").parquet(str(src))
    )
    q = start_incremental_indexing(
        stream, inc, order_cols=["conv_id", "turn_idx"],
        checkpoint_dir=ckpt, auto_compact_above=2)
    try:
        q.processAllAvailable()
        for part in quarters[1:]:
            spark.createDataFrame(part).coalesce(1).write.mode(
                "append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(inc.segment_info()) <= 2  # auto-compaction kicked in
    assert sum(s["max_doc"] for s in inc.segment_info()) == len(corpus)
    # replay ledger survives compaction: every batch epoch still counts
    for b in range(4):
        assert epoch_committed(inc, f"b{b}"), b
    assert not epoch_committed(inc, "b99")

    key = lambda r: (r["doc"]["conv_id"][0], r["doc"]["turn_idx"][0])  # noqa: E731
    got = {key(r): round(r["score"], 6) for r in inc.query("hello", limit=50)}
    want = {key(r): round(r["score"], 6) for r in ref.query("hello", limit=50)}
    assert got == want and want
