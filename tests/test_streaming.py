"""Stateless operators run unchanged on a stream: draining a
``readStream`` through them selects exactly the batch result."""

from __future__ import annotations

from aws_etl_dados_publicos_cnpj_spark.operators import load_table

from conftest import SF_SMALL


def test_streaming_corpus_ops_equal_batch(spark, tmp_path):
    """The EXT corpus operators are stateless map-side plans, so they
    run UNCHANGED on a stream: draining documents through readStream +
    stratified_sample / train_val_test_split must select exactly the
    batch result (content-hash determinism extends to streams)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.corpus import (
        stratified_sample,
        train_val_test_split,
    )

    docs_dir = str(tmp_path / "docs_stream")
    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    docs.coalesce(2).write.mode("overwrite").parquet(docs_dir)
    schema = "doc_id long, text string, lang string, source string"

    batch_sample = sorted(
        r.doc_id for r in stratified_sample(spark.read.schema(schema).parquet(docs_dir)).collect()
    )
    stream = spark.readStream.schema(schema).format("parquet").load(docs_dir)
    q = (
        stratified_sample(stream)
        .select("doc_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_sample")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_sample = sorted(
        r.doc_id for r in spark.sql("SELECT * FROM t_stream_sample").collect()
    )
    assert stream_sample == batch_sample and len(batch_sample) > 0

    batch_split = {
        r.doc_id: r.split
        for r in train_val_test_split(spark.read.schema(schema).parquet(docs_dir)).collect()
    }
    q2 = (
        train_val_test_split(stream)
        .select("doc_id", "split")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_split")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    stream_split = {
        r.doc_id: r.split for r in spark.sql("SELECT * FROM t_stream_split").collect()
    }
    assert stream_split == batch_split


def test_streaming_redaction_and_quantization_equal_batch(spark, tmp_path):
    """PII redaction and int8 quantization are stateless map passes, so
    the same plan runs on readStream unchanged — the streaming-ingest
    shape of a cleaning/embedding pipeline."""
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import (
        quantize_embeddings,
    )
    from aws_etl_dados_publicos_cnpj_spark.operators.text import redact_pii

    docs_dir = str(tmp_path / "docs_redact_stream")
    spark.createDataFrame(
        [
            (1, "ping admin@host.org at 10.0.0.1"),
            (2, "plain text"),
        ],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(docs_dir)
    schema = "doc_id long, text string"
    batch = sorted(
        tuple(r) for r in redact_pii(spark.read.schema(schema).parquet(docs_dir)).collect()
    )
    stream = spark.readStream.schema(schema).format("parquet").load(docs_dir)
    q = (
        redact_pii(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_redact")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM t_stream_redact").collect())
    assert got == batch and batch[0][1] == "ping <EMAIL> at <IP>"

    emb_dir = str(tmp_path / "emb_quant_stream")
    load_table(spark, SF_SMALL, "embeddings").limit(50).write.mode("overwrite").parquet(emb_dir)
    eschema = "vec_id long, embedding array<float>, label int"
    ebatch = sorted(
        (r.vec_id, r.scale, tuple(r.qvec))
        for r in quantize_embeddings(spark.read.schema(eschema).parquet(emb_dir)).collect()
    )
    estream = spark.readStream.schema(eschema).format("parquet").load(emb_dir)
    q2 = (
        quantize_embeddings(estream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_quant")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    egot = sorted(
        (r.vec_id, r.scale, tuple(r.qvec))
        for r in spark.sql("SELECT * FROM t_stream_quant").collect()
    )
    assert egot == ebatch and len(egot) == 50
