"""Correctness models kept apart from the engine.

Each checker returns a list of human-readable problems; an empty list means
the engine's output matched. None of them calls into the engine's own
comparison code: the key order below is the benchmark's own comparator,
not ``collation.json_compare``.
"""

from __future__ import annotations

import json
import math
from collections import Counter

import pandas as pd

# -- cdc_maintain: the reopened durable index as a multiset -------------------


def cdc_expected(on_map, batches: list[list[tuple]]) -> Counter:
    """Entries the index must hold after ``batches`` of ``(doc_id, seq, op,
    body)`` changes: ``on_map`` applied to each document's last change by
    sequence, deleted and expired documents dropped."""
    last: dict[int, tuple] = {}
    for rows in batches:
        for doc, seq, op, body in rows:
            if doc not in last or seq > last[doc][0]:
                last[doc] = (seq, op, body)
    out: Counter = Counter()
    for doc, (seq, op, body) in last.items():
        if op in ("delete", "expiration"):
            continue
        meta = {"id": str(doc), "byseqno": seq}
        for key in on_map(meta, {"doc_id": doc, "seq": seq, "body": body}):
            out[(*key, doc)] += 1
    return out


def multiset_diff(expected: Counter, actual: Counter, limit: int = 3) -> list[str]:
    missing = expected - actual
    extra = actual - expected
    problems = []
    if missing:
        problems.append(
            f"{sum(missing.values())} entries missing, e.g. {list(missing)[:limit]}"
        )
    if extra:
        problems.append(
            f"{sum(extra.values())} unexpected entries, e.g. {list(extra)[:limit]}"
        )
    return problems


# -- index_serve: the benchmark's own collation -------------------------------


class Missing:
    """A key part that is absent (SQL NULL): sorts below every JSON value."""

    def __repr__(self) -> str:
        return "MISSING"


MISSING = Missing()

#: MISSING < null < false < true < number < string < array < object
_RANK_MISSING, _RANK_NULL, _RANK_FALSE, _RANK_TRUE = 0, 1, 2, 3
_RANK_NUMBER, _RANK_STRING, _RANK_ARRAY, _RANK_OBJECT = 4, 5, 6, 7


def order_key(v) -> tuple:
    """Total-order sort key of one JSON value (or MISSING)."""
    if v is MISSING:
        return (_RANK_MISSING,)
    if v is None:
        return (_RANK_NULL,)
    if v is True:
        return (_RANK_TRUE,)
    if v is False:
        return (_RANK_FALSE,)
    if isinstance(v, (int, float)):
        return (_RANK_NUMBER, float(v))
    if isinstance(v, str):
        return (_RANK_STRING, v.encode("utf-8"))
    if isinstance(v, list):
        # element-wise, then shorter first: exactly Python tuple order
        return (_RANK_ARRAY, tuple(order_key(x) for x in v))
    if isinstance(v, dict):
        return (
            _RANK_OBJECT,
            json.dumps(v, sort_keys=True, separators=(",", ":")).encode("utf-8"),
        )
    raise TypeError(f"not a JSON value: {v!r}")


def key_part(text):
    """A key part as the index stores it (JSON text, or NULL) → its value.
    Text that is not JSON is a plain string."""
    if text is None:
        return MISSING
    try:
        return json.loads(text)
    except (TypeError, ValueError):
        return text


def entry_key(k0, grp, amt) -> tuple:
    return (order_key(key_part(k0)), order_key(key_part(grp)), order_key(amt))


class ServeModel:
    """A pandas model of the collated index, kept in step with every write."""

    def __init__(self, items: list[tuple]):
        df = pd.DataFrame(items, columns=["doc_id", "seq", "op", "k0", "grp", "amt"])
        self.df = df.set_index("doc_id")[["k0", "grp", "amt"]]
        self._sorted = None

    def apply(self, rows: list[tuple]) -> None:
        """Apply one change batch: last change per doc by seq wins."""
        last: dict[int, tuple] = {}
        for r in rows:
            if r[0] not in last or r[1] > last[r[0]][1]:
                last[r[0]] = r
        dels = [d for d, r in last.items() if r[2] == "delete"]
        ups = [r for r in last.values() if r[2] == "upsert"]
        self.df = self.df.drop(index=[d for d in dels if d in self.df.index])
        if ups:
            new = pd.DataFrame(
                [(r[0], r[3], r[4], r[5]) for r in ups],
                columns=["doc_id", "k0", "grp", "amt"],
            ).set_index("doc_id")
            self.df = pd.concat([self.df.drop(index=new.index, errors="ignore"), new])
        self._sorted = None

    def live_ids(self) -> list[int]:
        return sorted(int(i) for i in self.df.index)

    def sorted_entries(self) -> list[tuple]:
        """(key, (k0, grp, amt, doc_id)) in collation order."""
        if self._sorted is None:
            rows = [
                (entry_key(k0, g, int(a)), (k0, g, int(a), int(d)))
                for d, k0, g, a in zip(
                    self.df.index, self.df["k0"], self.df["grp"], self.df["amt"]
                )
            ]
            rows.sort(key=lambda t: t[0])
            self._sorted = rows
        return self._sorted

    def point(self, value) -> list[tuple]:
        want = order_key(value)
        return [r for r in self.sorted_entries() if r[0][0] == want]

    def page_after(self, cursor: tuple | None, size: int) -> list[tuple]:
        rows = self.sorted_entries()
        if cursor is not None:
            rows = [r for r in rows if r[0] > cursor]
        return rows[:size]

    def stats(self) -> dict:
        """Entry count, and the least and greatest key part 0 (MISSING
        excluded) and its distinct values under the benchmark's own
        comparator, as ``order_key`` tuples."""
        keys = [order_key(key_part(t)) for t in self.df["k0"].dropna()]
        return {
            "entry_count": len(self.df),
            "min_key": min(keys) if keys else None,
            "max_key": max(keys) if keys else None,
            "distinct_keys": len(set(keys)),
        }

    def aggregate(self) -> dict[str, tuple[int, int]]:
        g = self.df.groupby("grp")["amt"].agg(["count", "sum"])
        return {k: (int(r["count"]), int(r["sum"])) for k, r in g.iterrows()}


def check_ordered(expected: list[tuple], actual: list[tuple], exact_tail: bool) -> list[str]:
    """``actual`` rows (k0, grp, amt, doc_id) against the model's rows
    ``(key, row)``: same key sequence, non-decreasing under the benchmark's
    comparator, and the same rows. With ``exact_tail`` False the rows tied
    at the last key may be any of the model's rows with that key (a page cut
    through a run of equal keys)."""
    problems = []
    keys = [entry_key(r[0], r[1], r[2]) for r in actual]
    for i in range(1, len(keys)):
        if keys[i] < keys[i - 1]:
            problems.append(f"out of order at row {i}: {actual[i - 1]} > {actual[i]}")
            break
    if len(actual) != len(expected):
        problems.append(f"{len(actual)} rows, expected {len(expected)}")
        return problems
    if keys != [e[0] for e in expected]:
        problems.append("key sequence differs from the model")
        return problems
    if exact_tail or not keys:
        if Counter(map(tuple, actual)) != Counter(e[1] for e in expected):
            problems.append("rows differ from the model")
    else:
        head_a = Counter(tuple(r) for r, k in zip(actual, keys) if k != keys[-1])
        head_e = Counter(e[1] for e in expected if e[0] != keys[-1])
        if head_a != head_e:
            problems.append("rows differ from the model")
    return problems


def check_stats(expected: dict, actual: dict) -> list[str]:
    """``stats`` output against ``ServeModel.stats``: the engine's min and
    max key (JSON text) are compared in the benchmark's collation order."""
    problems = []
    for k, v in expected.items():
        got = actual.get(k)
        if k in ("min_key", "max_key") and got is not None:
            got = order_key(key_part(got))
        if got != v:
            problems.append(f"{k}: got {actual.get(k)!r}, expected {v!r}")
    return problems


def check_aggregate(expected: dict, actual: dict) -> list[str]:
    if expected == actual:
        return []
    bad = sorted(k for k in set(expected) | set(actual) if expected.get(k) != actual.get(k))
    return [f"{len(bad)} groups differ, e.g. {[(k, actual.get(k), expected.get(k)) for k in bad[:3]]}"]


# -- query_suite: oracle rows and checksums ---------------------------------------


def _normalize(v):
    """Value normalisation of the engine's parity harness."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, int):
        return float(v) if abs(v) < 2**52 else v
    return v


def canonical_rows(rows, cols) -> list[tuple]:
    """Rows with columns in name order, values normalised, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_normalize(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))


def check_oracle(spark_cols, spark_rows, duck_cols, duck_rows) -> list[str]:
    if sorted(spark_cols) != sorted(duck_cols):
        return [f"columns differ: {sorted(spark_cols)} vs {sorted(duck_cols)}"]
    if len(spark_rows) != len(duck_rows):
        return [f"{len(spark_rows)} rows, oracle has {len(duck_rows)}"]
    a = canonical_rows(spark_rows, spark_cols)
    b = canonical_rows(duck_rows, duck_cols)
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    return [f"{len(bad)}/{len(a)} rows differ, first {bad[:2]}"] if bad else []


def check_checksum(reference, got) -> list[str]:
    return [] if reference == got else [f"checksum {got} != {reference}"]
