"""Result fingerprints: order-insensitive, type-tagged, float-tolerant.

Run: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import fingerprint as fp  # noqa: E402


def _fp(table: pa.Table, chunk: int = 2) -> dict:
    return fp.of_batches(table.to_batches(max_chunksize=chunk))


def _verdict(got: pa.Table, want: pa.Table) -> tuple[bool, str]:
    return fp.verdict(_fp(got), _fp(want), lambda: got, lambda: want)


BASE = pa.table({
    "k": pa.array([1, 2, 3, 4], pa.int64()),
    "name": ["a", "b", None, "d"],
    "x": [430884353.71, 0.5, -2.25, None],
})


def test_row_and_column_order_do_not_matter():
    shuffled = BASE.take([3, 1, 0, 2]).select(["x", "k", "name"])
    assert fp.compare(_fp(shuffled, chunk=3), _fp(BASE)) == (True, "exact")


def test_integer_widths_hash_alike_but_never_like_floats():
    narrow = BASE.set_column(0, "k", pa.array([1, 2, 3, 4], pa.int32()))
    assert fp.compare(_fp(narrow), _fp(BASE)) == (True, "exact")
    floaty = BASE.set_column(0, "k", pa.array([1.0, 2.0, 3.0, 4.0]))
    assert not _verdict(floaty, BASE)[0]


def test_fold_order_noise_is_tolerated():
    noisy = BASE.set_column(2, "x", pa.array([430884353.70, 0.5, -2.25, None]))
    assert fp.compare(_fp(noisy), _fp(BASE)) == (False, "floats")
    assert _verdict(noisy, BASE) == (True, "tolerant")


def test_real_float_errors_are_caught():
    for bad in ([430884353.71, 0.51, -2.25, None], [430884353.71, -2.25, 0.5, None]):
        wrong = BASE.set_column(2, "x", pa.array(bad))
        ok, how = _verdict(wrong, BASE)
        assert not ok, how


def test_null_is_not_zero_and_rows_are_counted():
    zero = BASE.set_column(2, "x", pa.array([430884353.71, 0.5, -2.25, 0.0]))
    assert not _verdict(zero, BASE)[0]
    assert fp.compare(_fp(BASE.slice(0, 3)), _fp(BASE)) == (False, "row count 3 vs oracle 4")


def test_timestamps_compare_as_instants_at_millisecond_precision():
    t = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    naive = pa.table({"ts": pa.array([t], pa.timestamp("us"))})
    utc = pa.table({"ts": pa.array([t], pa.timestamp("us", tz="UTC"))})
    trimmed = pa.table({"ts": pa.array([t.replace(microsecond=678000)], pa.timestamp("ms"))})
    assert fp.compare(_fp(utc), _fp(naive))[0]
    assert fp.compare(_fp(trimmed), _fp(naive))[0]


def test_empty_results_match():
    empty = BASE.slice(0, 0)
    got = fp.of_batches(empty.to_batches())
    got["cols"] = sorted(empty.column_names)
    assert fp.compare(got, got) == (True, "exact")
