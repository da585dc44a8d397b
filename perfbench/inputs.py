"""Seeded benchmark inputs, generated untimed and cached on disk.

A fixed page pool is generated once per checkout with the program's own
``sources.pages.generate_pages`` and labelled with the curation flow's drop
reason. Each (workload, seed, size) input is then drawn from the pool with a
seeded generator and written as plain parquet files; the program only ever
sees those files. Generating pages per seed would cost ~0.7 ms/doc of
Spark time, so the pool is what keeps a run inside its time budget.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POOL_SEED = 42
POOL_DOCS = 36_000
# pages per curate_long doc: ~40x the pages median of ~700 chars
LONG_PAGES = 40
INPUT_FILES = 8
PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def _write_atomic(table: pa.Table, out_dir: str, n_files: int, props: dict | None = None) -> None:
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(tmp, f"part-{i:05d}.parquet"))
    if props is not None:
        with open(os.path.join(tmp, "_props.json"), "w") as f:
            json.dump(props, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def _pages_table(path: str) -> pa.Table:
    t = pq.read_table(path)
    # pyarrow keeps nanosecond timestamps, which Spark cannot read
    i = t.schema.get_field_index("warc_ts")
    return t.set_column(i, "warc_ts", t.column(i).cast(pa.timestamp("us", tz="UTC")))


def pool_path(work: str) -> str:
    return os.path.join(work, f"pool-s{POOL_SEED}-n{POOL_DOCS}", "pool.parquet")


def ensure_pool(spark, work: str) -> str:
    """Generate and label the page pool once; returns its parquet path."""
    from datatrove_spark.plans.pipeline import canonical_stages, run_pipeline
    from datatrove_spark.sources.pages import generate_pages

    if os.path.exists(pool_path(work)):
        return pool_path(work)
    pool = os.path.dirname(pool_path(work))
    gen = os.path.join(work, "pool-gen")
    generate_pages(spark, POOL_DOCS, seed=POOL_SEED).write.mode("overwrite").parquet(gen)
    run_pipeline(spark, spark.read.parquet(gen), canonical_stages(), os.path.join(work, "pool-label"), resume=False)
    labels = (
        spark.read.parquet(os.path.join(work, "pool-label", "data"))
        .selectExpr("url", "coalesce(drop_reason, 'keep') AS label")
        .toPandas()
    )
    pages = _pages_table(gen).to_pandas()
    pages = pages.merge(labels, on="url", validate="one_to_one")
    pages["pool_id"] = pages["url"].str.extract(r"/page/(\d+)$")[0].astype("int64")
    pages = pages.sort_values("pool_id").reset_index(drop=True)
    table = pa.Table.from_pandas(pages[PAGE_COLUMNS + ["label"]], preserve_index=False)
    tmp = pool + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "pool.parquet"))
    shutil.rmtree(pool, ignore_errors=True)
    os.rename(tmp, pool)
    shutil.rmtree(gen, ignore_errors=True)
    shutil.rmtree(os.path.join(work, "pool-label"), ignore_errors=True)
    return pool_path(work)


def _long_docs(pool: pa.Table, n_docs: int, rng: np.random.Generator) -> tuple[pa.Table, dict]:
    """Each long doc joins LONG_PAGES pages that all share one pool label,
    with the label drawn at the pool's label shares. Joining random pages
    instead gets nearly every doc dropped at gopher_repetition (the bullet
    and repeated-line pages stack up), which would leave PII and the sink
    idle; per-label composition keeps the keep share near curate's."""
    labels = np.asarray(pool.column("label").to_pylist())
    names, counts = np.unique(labels, return_counts=True)
    drawn = rng.choice(names, size=n_docs, p=counts / counts.sum())
    by_label = {n: rng.permutation(np.flatnonzero(labels == n)) for n in names}
    used = Counter()
    texts, urls, ts, langs = [], [], [], []
    text_col, url_col = pool.column("text"), pool.column("url")
    for lab in drawn:
        ids = by_label[lab]
        start = used[lab] * LONG_PAGES
        pick = ids[np.arange(start, start + LONG_PAGES) % len(ids)]
        used[lab] += 1
        texts.append("\n\n".join(text_col[int(i)].as_py() for i in pick))
        first = int(pick[0])
        urls.append(url_col[first].as_py() + "/long")
        ts.append(pool.column("warc_ts")[first].as_py())
        langs.append(pool.column("lang")[first].as_py())
    html = [f"<html><body><p>{t}</p></body></html>".encode() for t in texts]
    table = pa.table(
        {"url": urls, "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")), "html": html,
         "text": texts, "lang": langs}
    )
    return table, {"composed_label_share": {k: round(v / n_docs, 4) for k, v in sorted(Counter(drawn).items())}}


def _props(table: pa.Table) -> dict:
    from datatrove_spark.config import EMAIL_RE, IPV4_RE

    texts = table.column("text").to_pylist()
    pii = re.compile(f"(?:{EMAIL_RE})|(?:{IPV4_RE})")
    groups = Counter(hashlib.sha256(t.encode()).digest() for t in texts)
    n = len(texts)
    return {
        "docs": n,
        "text_bytes": sum(len(t.encode()) for t in texts),
        "median_chars": float(np.median([len(t) for t in texts])),
        "pii_share": round(sum(1 for t in texts if pii.search(t)) / n, 4),
        "exact_dup_share": round((n - len(groups)) / n, 4),
        "max_exact_group": max(groups.values()),
    }


def ensure_input(pool_file: str, workload: str, seed: int, n_docs: int) -> tuple[str, dict]:
    """Parquet input dir for (workload, seed, size) plus its measured
    properties; curate and dedup share the same pages for a seed."""
    name = "long" if workload == "curate_long" else "pages"
    out = os.path.join(os.path.dirname(pool_file), "inputs", f"{name}-s{seed}-n{n_docs}")
    props_path = os.path.join(out, "_props.json")
    if not os.path.exists(props_path):
        pool = pq.read_table(pool_file)
        rng = np.random.default_rng([seed, 0 if workload != "curate_long" else 1])
        if workload == "curate_long":
            table, extra = _long_docs(pool, n_docs, rng)
        else:
            idx = rng.choice(pool.num_rows, size=n_docs, replace=False)
            table, extra = pool.take(pa.array(idx)).select(PAGE_COLUMNS), {}
        props = {**_props(table), **extra, "seed": seed}
        _write_atomic(table, out, INPUT_FILES, props)
    with open(props_path) as f:
        return out, json.load(f)


def ensure_sample(input_dir: str, n_sample: int) -> tuple[str, pa.Table]:
    """Every k-th doc of an input, written as its own small input (the
    warm-up run's input, cross-checked against the DuckDB oracle)."""
    table = pq.read_table(input_dir)
    step = max(1, table.num_rows // n_sample)
    sample = table.take(pa.array(range(0, table.num_rows, step)[:n_sample]))
    out = input_dir + "-sample"
    if not os.path.exists(out):
        _write_atomic(sample, out, 4)
    return out, sample


def ensure_fixed_sample(pool_file: str, workload: str) -> tuple[str, dict]:
    """A seed-independent oracle sample with its expected output, computed
    once per checkout because the DuckDB oracles are slow on these inputs:
    the MinHash oracle takes ~0.25 s per page, the quality oracle ~8 s per
    long doc. dedup: the first pool pages labelled dup_line_frac (bullet
    walls, repeated and trailing-off lines, which share signatures) plus
    the first kept pages. curate_long: four long docs."""
    from perfbench import checks

    out = os.path.join(os.path.dirname(pool_file), f"{workload}-oracle-sample")
    expected_path = os.path.join(out, "_expected.json")
    if not os.path.exists(expected_path):
        pool = pq.read_table(pool_file)
        if workload == "dedup":
            labels = pool.column("label").to_pylist()
            pick = [i for i, lab in enumerate(labels) if lab == "dup_line_frac"][:12]
            pick += [i for i, lab in enumerate(labels) if lab == "keep"][:20]
            sample = pool.take(pa.array(sorted(pick))).select(PAGE_COLUMNS)
            expected = checks.dedup_oracle(with_doc_id(sample))
        else:
            sample, _ = _long_docs(pool, 4, np.random.default_rng(POOL_SEED))
            expected = checks.curate_oracle(with_doc_id(sample))
        _write_atomic(sample, out, 4)
        with open(expected_path, "w") as f:
            json.dump(sorted(expected.items()), f)
    with open(expected_path) as f:
        return out, {k: tuple(v) for k, v in json.load(f)}


def doc_id_of(url: str) -> int:
    """The page id in a generated url (``.../page/<id>[/long]``)."""
    return int(re.search(r"/page/(\d+)", url).group(1))


def with_doc_id(table: pa.Table) -> pa.Table:
    ids = pa.array([doc_id_of(u) for u in table.column("url").to_pylist()], pa.int64())
    return table.append_column("doc_id", ids)


def exact_groups(table: pa.Table, min_words: int = 20) -> list[list[int]]:
    """doc_id groups (size > 1) of byte-identical texts long enough to have
    MinHash shingles; shorter docs have no signature and are never deduped."""
    groups: dict[bytes, list[int]] = {}
    for url, text in zip(table.column("url").to_pylist(), table.column("text").to_pylist()):
        if len(text.split()) >= min_words:
            groups.setdefault(hashlib.sha256(text.encode()).digest(), []).append(doc_id_of(url))
    return [sorted(g) for g in groups.values() if len(g) > 1]
