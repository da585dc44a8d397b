"""The benchmark's output checks catch a single altered sink row.

    python3 -m pytest perfbench/test_checks.py -q

Sinks are built with pyarrow in the same ``keep=`` layout run_pipeline
writes, so no Spark session is needed.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.checks import Checker

URLS = [f"https://host-{i}.example.com/page/{i}" for i in range(6)]


def _write_sink(out_dir: str, rows: list[tuple]) -> None:
    """rows: (url, drop_reason, text, doc_id, dup_of)."""
    for keep in (True, False):
        part = [r for r in rows if (r[1] is None) == keep]
        d = os.path.join(out_dir, "data", f"keep={str(keep).lower()}")
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*part)) if part else [[]] * 5
        pq.write_table(
            pa.table({
                "url": pa.array(cols[0], pa.string()),
                "drop_reason": pa.array(cols[1], pa.string()),
                "text": pa.array(cols[2], pa.string()),
                "doc_id": pa.array(cols[3], pa.int64()),
                "dup_of": pa.array(cols[4], pa.int64()),
            }),
            os.path.join(d, "part-00000.parquet"),
        )


def _curate_rows() -> list[tuple]:
    return [(u, "lang_filter" if i % 3 == 0 else None, f"text {i}.", i, None) for i, u in enumerate(URLS)]


def test_unchanged_curate_sink_passes(tmp_path):
    checker = Checker("curate", pa.table({"url": URLS}), {})
    for rep in ("a", "b"):
        _write_sink(str(tmp_path / rep), _curate_rows())
        assert checker.check(str(tmp_path / rep)) == []


def test_one_altered_curate_row_fails(tmp_path):
    checker = Checker("curate", pa.table({"url": URLS}), {})
    _write_sink(str(tmp_path / "a"), _curate_rows())
    assert checker.check(str(tmp_path / "a")) == []
    rows = _curate_rows()
    rows[4] = rows[4][:2] + ("text 4!",) + rows[4][3:]
    _write_sink(str(tmp_path / "b"), rows)
    problems = checker.check(str(tmp_path / "b"))
    assert len(problems) == 1 and URLS[4] in problems[0]


def test_oracle_sample_mismatch_fails(tmp_path):
    _write_sink(str(tmp_path / "a"), _curate_rows())
    expected = {URLS[1]: (True, None, checks._sha("something else"))}
    problems = Checker("curate", pa.table({"url": URLS}), expected).check(str(tmp_path / "a"))
    assert problems and "oracle sample" in problems[0]


def test_one_altered_dedup_row_fails(tmp_path):
    # docs 0, 1, 2 are exact duplicates; 1 and 2 point at 0
    texts = ["same words " * 20] * 3 + ["other text one two three four five six"] * 3
    rows = [(u, None if i not in (1, 2) else "near_dup", texts[i], i, 0 if i in (1, 2) else None)
            for i, u in enumerate(URLS[:3])]
    rows += [(u, None, texts[i], i, None) for i, u in enumerate(URLS[3:], start=3)]
    table = pa.table({"url": URLS, "text": texts})
    checker = Checker("dedup", table, {})
    _write_sink(str(tmp_path / "a"), rows)
    assert checker.check(str(tmp_path / "a")) == []
    rows[2] = rows[2][:4] + (1,)  # points at a dup, not the kept representative
    _write_sink(str(tmp_path / "b"), rows)
    problems = checker.check(str(tmp_path / "b"))
    assert any("doc 2" in p for p in problems)
