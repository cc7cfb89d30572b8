"""The benchmark's own tests: seeded inputs are deterministic, and every
checker reports a planted fault. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

import pyarrow.parquet as pq  # noqa: E402
import pytest  # noqa: E402

from perfbench import checks, inputs  # noqa: E402

# -- inputs -----------------------------------------------------------------


def test_cdc_inputs_deterministic_under_seed():
    assert inputs.cdc_documents(7, 500) == inputs.cdc_documents(7, 500)
    assert inputs.cdc_documents(7, 500) != inputs.cdc_documents(8, 500)
    a, b = inputs.CdcStream(7, 500, 200), inputs.CdcStream(7, 500, 200)
    assert [a.batch(i) for i in range(3)] == [b.batch(i) for i in range(3)]
    # a batch depends on (seed, index) only, not on the batches drawn before it
    assert inputs.CdcStream(7, 500, 200).batch(2) == a.batch(2)
    assert inputs.CdcStream(8, 500, 200).batch(0) != a.batch(0)


def test_cdc_stream_make_up():
    stream = inputs.CdcStream(3, 2000, 2000)
    rows = [r for b in range(3) for r in stream.batch(b)]
    ops = Counter(r[2] for r in rows)
    assert set(ops) == {"upsert", "delete", "expiration"}
    archived = sum(1 for r in rows if r[3] and '"archived"' in r[3])
    assert 0.10 < archived / ops["upsert"] < 0.25  # the WHERE-false re-versions
    hot = Counter(r[0] for r in rows).most_common(1)[0][1]
    assert hot > 10  # skew: some documents recur many times
    seqs = [r[1] for r in rows]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)


def test_serve_inputs_deterministic_under_seed():
    assert inputs.serve_items(5, 300) == inputs.serve_items(5, 300)
    assert inputs.serve_items(5, 300) != inputs.serve_items(6, 300)
    live = list(range(300))
    assert inputs.serve_write(5, 2, live, 300, 20) == inputs.serve_write(5, 2, live, 300, 20)
    kinds = {type(checks.key_part(r[3])).__name__ for r in inputs.serve_items(5, 2000)}
    assert {"Missing", "bool", "int", "float", "str", "list", "dict"} <= kinds
    # the anchors close every seed's items: false and a string always present
    assert inputs.serve_items(6, 10)[10:] == [
        (10 + j, 0, "upsert", *a) for j, a in enumerate(inputs.SERVE_ANCHORS)
    ]


def test_suite_tables_deterministic_under_seed(tmp_path):
    a = inputs.suite_tables(4, tmp_path / "a")
    b = inputs.suite_tables(4, tmp_path / "b")
    inputs.suite_tables(5, tmp_path / "c")
    assert a == b
    for name in a:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "c" / "lineitem.parquet")
    )


# -- cdc checker --------------------------------------------------------------


def _docs_and_batch():
    docs = [
        (1, 0, "upsert", '{"type":"a","tags":["x","y"],"score":1,"status":"active"}'),
        (2, 0, "upsert", '{"type":"b","tags":["z"],"score":2,"status":"active"}'),
    ]
    batch = [
        (1, 5, "delete", None),
        (2, 6, "upsert", '{"type":"b","tags":[],"score":3,"status":"active"}'),
        (3, 7, "upsert", '{"type":"c","tags":["q"],"score":4,"status":"archived"}'),
    ]
    return docs, batch


def test_cdc_model_applies_last_live_version():
    docs, batch = _docs_and_batch()
    assert checks.cdc_expected(inputs.on_map, [docs]) == Counter(
        {("a", "x", 1, 1): 1, ("a", "y", 1, 1): 1, ("b", "z", 2, 2): 1}
    )
    # doc 1 deleted, doc 2 re-versioned to zero keys, doc 3 WHERE-false
    assert checks.cdc_expected(inputs.on_map, [docs, batch]) == Counter()


def test_cdc_checker_reports_skipped_retraction():
    docs, batch = _docs_and_batch()
    expected = checks.cdc_expected(inputs.on_map, [docs, batch])
    # an index that skipped the delete of doc 1 still holds its old entries
    skipped = expected + Counter({("a", "x", 1, 1): 1, ("a", "y", 1, 1): 1})
    assert checks.multiset_diff(expected, skipped)
    assert checks.multiset_diff(expected, Counter(expected)) == []


# -- serve checkers ------------------------------------------------------------


def test_own_comparator_cross_type_order():
    values = [{"a": 1}, [1, "x"], [1], "b", "a", 2.5, 2, -1, True, False, None, checks.MISSING]
    ordered = sorted(values, key=checks.order_key)
    assert ordered == [checks.MISSING, None, False, True, -1, 2, 2.5, "a", "b", [1], [1, "x"], {"a": 1}]
    assert checks.order_key(1) == checks.order_key(1.0)


def _model():
    items = [
        (0, 0, "upsert", '"b"', "g00", 5),
        (1, 0, "upsert", "3", "g01", 7),
        (2, 0, "upsert", None, "g00", 1),
        (3, 0, "upsert", "[1]", "g01", 2),
        (4, 0, "upsert", "true", "g00", 9),
    ]
    return checks.ServeModel(items)


def test_serve_checker_reports_swapped_collation_order():
    m = _model()
    exp = m.sorted_entries()
    rows = [r for _, r in exp]
    assert [r[0] for r in rows] == [None, "true", "3", '"b"', "[1]"]
    assert checks.check_ordered(exp, rows, True) == []
    swapped = rows[:]
    swapped[2], swapped[3] = swapped[3], swapped[2]  # string before number
    assert checks.check_ordered(exp, swapped, True)


def test_serve_checker_pages_and_points():
    m = _model()
    page = m.page_after(None, 2)
    assert [r for _, r in page] == [(None, "g00", 1, 2), ("true", "g00", 9, 4)]
    after = m.page_after(page[-1][0], 2)
    assert [r[3] for _, r in after] == [1, 0]
    assert [r[3] for _, r in m.point(3.0)] == [1]
    assert checks.check_ordered(after, [("3", "g01", 7, 1)], False)  # a row short


def test_serve_checker_reports_off_by_one_aggregate():
    m = _model()
    agg = m.aggregate()
    assert agg == {"g00": (3, 15), "g01": (2, 9)}
    assert checks.check_aggregate(agg, dict(agg)) == []
    assert checks.check_aggregate(agg, {**agg, "g01": (2, 10)})


def test_serve_checker_reports_text_order_stats():
    m = _model()  # key part 0: MISSING, true, 3, "b", [1]
    right = {"entry_count": 5, "min_key": "true", "max_key": "[1]", "distinct_keys": 4}
    assert checks.check_stats(m.stats(), right) == []
    assert checks.check_stats(m.stats(), {**right, "entry_count": 6})
    # min and max of the stored JSON text: a string first, true last
    text_order = {**right, "min_key": '"b"', "max_key": "true"}
    assert len(checks.check_stats(m.stats(), text_order)) == 2


def test_serve_model_follows_writes():
    m = _model()
    m.apply([(0, 1, "delete", None, None, None), (1, 2, "upsert", '"a"', "g02", 4),
             (1, 3, "upsert", '"z"', "g02", 4), (9, 4, "upsert", "false", "g00", 1)])
    assert m.live_ids() == [1, 2, 3, 4, 9]
    assert m.aggregate() == {"g00": (3, 11), "g01": (1, 2), "g02": (1, 4)}
    assert [r[0] for _, r in m.sorted_entries()] == [None, "false", "true", '"z"', "[1]"]


# -- suite checkers ------------------------------------------------------------


def test_suite_checkers_report_wrong_rows_and_checksum():
    cols, rows = ["b", "a"], [(1, "x"), (2, "y")]
    assert checks.check_oracle(cols, rows, ["a", "b"], [("y", 2.0), ("x", 1)]) == []
    assert checks.check_oracle(cols, rows, ["a", "b"], [("y", 2), ("x", 3)])
    assert checks.check_oracle(cols, rows, ["a", "c"], [("y", 2), ("x", 1)])
    assert checks.check_checksum(123, 123) == []
    assert checks.check_checksum(123, 124)


@pytest.mark.parametrize("bad", [float("nan"), None])
def test_suite_normalisation_keeps_nan_and_null_apart(bad):
    assert checks.check_oracle(["a"], [(bad,)], ["a"], [(0.0,)])
