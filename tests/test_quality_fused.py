"""Fused kernel == the fused battery's DuckDB oracle on the generated pages
corpus."""

from __future__ import annotations

import duckdb
import pyarrow as pa

from datatrove_spark.registry import _oracle_quality_pipeline, quality_pipeline
from datatrove_spark.sources.pages import generate_pages


def test_fused_equals_oracle(spark):
    # materialize: a pandas UDF directly over the generator's expression tree
    # trips a Spark 4.1 interpreted-eval internal error (also the reason
    # bench.py stages generated pages through parquet)
    pages = generate_pages(spark, 600).localCheckpoint(eager=True)
    fused = {
        r.url: (r.keep, r.drop_reason, r.final_text)
        for r in quality_pipeline(pages).select("url", "keep", "drop_reason", "final_text").collect()
    }
    urls, texts = zip(*sorted((r.url, r.text) for r in pages.select("url", "text").collect()))
    con = duckdb.connect()
    con.register("documents", pa.table({"doc_id": list(range(len(urls))), "text": list(texts)}))
    oracle = {
        urls[d]: (k, rsn, txt)
        for d, k, rsn, txt in con.execute(
            f"SELECT doc_id, keep, drop_reason, final_text FROM ({_oracle_quality_pipeline(fused=True)})"
        ).fetchall()
    }
    assert fused == oracle
