"""Output checks: per-url digests of a sink, structural checks, and the
DuckDB oracle cross-check on a deterministic sample.

A check returns a list of problems; an empty list means the output is
correct. Sinks are read with pyarrow, so checking adds no Spark job.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.dataset as ds

MAX_PROBLEMS = 5


def read_sink(data_dir: str, columns: list[str]) -> pa.Table:
    """Rows of a ``keep=``-partitioned parquet sink (keep as a bool)."""
    part = ds.partitioning(pa.schema([("keep", pa.string())]), flavor="hive")
    t = ds.dataset(data_dir, format="parquet", partitioning=part).to_table(columns=columns + ["keep"])
    keep = pa.array([v == "true" for v in t.column("keep").to_pylist()], pa.bool_())
    return t.set_column(t.schema.get_field_index("keep"), "keep", keep)


def _sha(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()


def curate_records(data_dir: str) -> dict[str, tuple]:
    """url -> (keep, drop_reason, sha256(text)): the north rule's
    byte-identity per url."""
    t = read_sink(data_dir, ["url", "drop_reason", "text"])
    out: dict[str, tuple] = {}
    for url, keep, reason, text in zip(*(t.column(c).to_pylist() for c in ("url", "keep", "drop_reason", "text"))):
        out[url] = (keep, reason, _sha(text)) if url not in out else ("duplicate url",)
    return out


def dedup_records(data_dir: str) -> dict[int, tuple]:
    """doc_id (parsed from the url) -> (keep, dup_of)."""
    t = read_sink(data_dir, ["doc_id", "dup_of"])
    out: dict[int, tuple] = {}
    for doc, keep, dup in zip(*(t.column(c).to_pylist() for c in ("doc_id", "keep", "dup_of"))):
        out[doc] = (keep, dup) if doc not in out else ("duplicate doc_id",)
    return out


def digest(records: dict) -> str:
    h = hashlib.sha256()
    for k in sorted(records):
        h.update(repr((k, records[k])).encode())
    return h.hexdigest()


def compare(expected: dict, actual: dict, what: str) -> list[str]:
    problems = []
    if expected.keys() != actual.keys():
        problems.append(f"{what}: {len(expected.keys() ^ actual.keys())} keys differ")
    for k in sorted(expected.keys() & actual.keys()):
        if expected[k] != actual[k]:
            problems.append(f"{what}: {k}: expected {expected[k]}, got {actual[k]}")
            if len(problems) >= MAX_PROBLEMS:
                break
    return problems


def curate_structure(records: dict, urls: list[str]) -> list[str]:
    problems = compare(dict.fromkeys(urls, 0), dict.fromkeys(records, 0), "sink urls vs input urls")
    for url, rec in records.items():
        if len(rec) != 3 or rec[0] != (rec[1] is None):
            problems.append(f"{url}: keep/drop_reason disagree: {rec}")
            break
    return problems


def dedup_structure(records: dict, doc_ids: list[int], exact_groups: list[list[int]]) -> list[str]:
    """Every doc once; a dup points at a smaller, kept id; exact-text
    duplicates share one representative."""
    problems = compare(dict.fromkeys(doc_ids, 0), dict.fromkeys(records, 0), "sink ids vs input ids")
    rep = {}
    for doc, rec in records.items():
        if len(rec) != 2:
            problems.append(f"doc {doc}: {rec[0]}")
            continue
        keep, dup = rec
        if keep != (dup is None) or (dup is not None and (dup >= doc or records.get(dup, (False,))[0] is not True)):
            problems.append(f"doc {doc}: inconsistent (keep={keep}, dup_of={dup})")
        rep[doc] = doc if dup is None else dup
    for group in exact_groups:
        reps = {rep.get(d) for d in group}
        if len(reps) != 1:
            problems.append(f"exact duplicates {group[:3]}... map to {len(reps)} representatives")
    return problems[:MAX_PROBLEMS]


class Checker:
    """Checks each run's sink: the structure against the input, the oracle
    sample, and byte-identity with the first checked run."""

    def __init__(self, workload: str, table, sample_expected: dict):
        from perfbench import inputs

        self.workload = workload
        self.sample_expected = sample_expected
        self.first: dict | None = None
        self.urls = table.column("url").to_pylist()
        if workload == "dedup":
            self.ids = [inputs.doc_id_of(u) for u in self.urls]
            self.groups = inputs.exact_groups(table)

    def records(self, out_dir: str) -> dict:
        data = os.path.join(out_dir, "data")
        return dedup_records(data) if self.workload == "dedup" else curate_records(data)

    def check(self, out_dir: str) -> list[str]:
        rec = self.records(out_dir)
        if self.workload == "dedup":
            problems = dedup_structure(rec, self.ids, self.groups)
        else:
            problems = curate_structure(rec, self.urls)
            # per-doc flow: the oracle-checked warm-up rows must reappear
            # (curate only; the other samples are not part of the input)
            sample = {u: rec.get(u) for u in self.sample_expected}
            problems += compare(self.sample_expected, sample, "oracle sample")
        if self.first is None:
            self.first = rec
        else:
            problems += compare(self.first, rec, "byte-identity with first run")
        return problems


def _duck(docs: pa.Table):
    import duckdb

    con = duckdb.connect()
    con.register("documents", docs)
    return con


def curate_oracle(docs: pa.Table) -> dict[str, tuple]:
    """Expected url -> (keep, drop_reason, sha256(text)) for `docs`
    (url, doc_id, text) from the registry's DuckDB oracles: langid, the fused
    quality battery, then PII over the battery's text. The URL filter runs
    with an empty config, which drops nothing."""
    from datatrove_spark import registry
    from datatrove_spark.operators import langid, pii

    sql = f"""
WITH li AS ({langid.oracle_sql()}),
qp AS ({registry._oracle_quality_pipeline(fused=True)}),
qp_text AS (SELECT doc_id, final_text AS text FROM qp),
pi AS ({pii.oracle_sql(table="qp_text", text_expr="text")})
SELECT d.doc_id,
  coalesce(CASE WHEN NOT li.langid_keep THEN 'lang_filter' END, qp.drop_reason) AS reason,
  pi.pii_text
FROM documents d JOIN li USING (doc_id) JOIN qp USING (doc_id) JOIN pi USING (doc_id)
"""
    res = _duck(docs.select(["doc_id", "text"])).execute(sql).arrow()
    url_of = dict(zip(docs.column("doc_id").to_pylist(), docs.column("url").to_pylist()))
    return {
        url_of[d]: (r is None, r, _sha(t))
        for d, r, t in zip(*(res.column(c).to_pylist() for c in ("doc_id", "reason", "pii_text")))
    }


def dedup_oracle(docs: pa.Table) -> dict[int, tuple]:
    """Expected doc_id -> (keep, dup_of) from ``minhash.oracle_sql_dedup``.
    Its recursive closure is quadratic in component size, so keep `docs`
    small."""
    from datatrove_spark.operators import minhash

    res = _duck(docs.select(["doc_id", "text"])).execute(minhash.oracle_sql_dedup()).arrow()
    return {
        d: (k, dup)
        for d, dup, k in zip(*(res.column(c).to_pylist() for c in ("doc_id", "dup_of", "minhash_keep")))
    }
