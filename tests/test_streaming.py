"""Streaming = batch parity: the same composed quality plan over a file
stream must produce exactly the batch results; windowed metrics aggregate
with a watermark; the checkpointed sink is exactly-once across restarts."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from datatrove_spark.plans.pipeline import compose
from datatrove_spark.sources.pages import generate_pages
from datatrove_spark.streaming import quality_stream as qs
from tests.test_pipeline_runtime import STAGES


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_in"))
    generate_pages(spark, 300).write.mode("overwrite").parquet(d)
    return d


def test_stream_equals_batch(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = qs.read_pages_stream(spark, pages_dir, max_files_per_trigger=2)
    annotated = compose(stream, STAGES).select("url", "keep", "drop_reason")
    q = qs.write_stream(annotated, out, ckpt)
    q.awaitTermination(120)

    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    batch = compose(spark.read.parquet(pages_dir), STAGES).select("url", "keep", "drop_reason")
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want

    # restart with same checkpoint + no new input -> no duplicate output
    q2 = qs.write_stream(
        compose(qs.read_pages_stream(spark, pages_dir), STAGES).select(
            "url", "keep", "drop_reason"
        ),
        out,
        ckpt,
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == len(want)


def test_windowed_metrics(spark, pages_dir, tmp_path):
    stream = qs.read_pages_stream(spark, pages_dir)
    metrics = qs.windowed_metrics(compose(stream, STAGES), window="6 hours")
    q = (
        metrics.writeStream.format("memory")
        .queryName("m1")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM m1").collect()
    assert rows
    total = sum(r.n for r in rows)
    assert total == 300
    # windows are 6h-aligned and within the generator's 30-day range
    assert all(r.window_start.hour % 6 == 0 for r in rows)


def test_stream_dedup_within_watermark(spark, pages_dir, tmp_path):
    """Exact duplicates arriving within the watermark horizon are dropped;
    result matches batch dropDuplicates on the same key."""
    dup_dir = str(tmp_path / "dup_in")
    base = spark.read.parquet(pages_dir)
    # duplicate every page (same text, same event time) across two files
    base.write.mode("overwrite").parquet(dup_dir)
    base.write.mode("append").parquet(dup_dir)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = qs.read_pages_stream(spark, dup_dir)
    q = qs.write_stream(qs.dedup_stream(stream).select("url", "text"), out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = base.select("url", "text").dropDuplicates(["text"])
    assert got.count() == want.count()
    assert got.select("text").distinct().count() == got.count()
