"""Order-insensitive result fingerprints, computed batch by batch.

One fingerprint describes a result as a multiset of rows, so the Spark
result and the DuckDB oracle result compare without sorting or holding
either in memory. Both sides feed Arrow record batches through the same
code: Spark through ``DataFrame.mapInArrow`` (executor side, one partial
per partition), DuckDB through ``fetch_record_batch``.

The cell canon follows ``tools/verify_local.py``: cells are type-tagged
(every integer width hashes alike, as do every float width; an int never
equals a float), columns are matched by sorted name, timestamps compare
at millisecond precision whatever their time zone annotation, and floats
compare at 12 significant digits.

Two comparisons, in order:

1. exact: the multiset hash over every cell, floats rounded to 12
   significant digits (``verify_local``'s strictness).
2. tolerant, only when (1) differs but the multiset hash over every
   non-float cell matches (float cells contribute only their
   null/NaN/inf markers): both results are fetched whole, rows are
   paired by sorting on their non-float hash and then their floats,
   and each float cell must agree with its pair within ``REL_TOL``
   relative. Results over ``TOLERANT_MAX_ROWS`` rows fail instead.

Why a tolerance at all: a double ``sum`` folds in a different order on
each engine. ``tpch_q5_local_supplier`` at sf1 reads 430884353.7 on one
engine and 430884353.71 on the other (2.3e-11 relative), the
fold-order error of a double sum over millions of rows that a
``round(..., 2)`` then makes visible. ``REL_TOL = 1e-9`` admits that
class of error and nothing near a real bug at the 2-decimal rounding
the queries use.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

REL_TOL = 1e-9
TOLERANT_MAX_ROWS = 2_000_000

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_TAGS = {
    tag: np.uint64(v)
    for tag, v in {
        "null": 0x1D6E2A5F7C3B9041,
        "int": 0x2C1B3A4D5E6F7081,
        "float": 0x3A2B1C0D9E8F7061,
        "nan": 0x4B3C2D1E0F9A8B71,
        "inf": 0x5C4D3E2F1A0B9C81,
        "-inf": 0x6D5E4F3A2B1C0D91,
        "str": 0x7E6F5A4B3C2D1EA1,
        "ts": 0x8F7A6B5C4D3E2FB1,
        "date": 0x9A8B7C6D5E4F3AC1,
        "bool": 0xAB9C8D7E6F5A4BD1,
        "dec": 0xBCAD9E8F7A6B5CE1,
        "bin": 0xCDBEAF9A8B7C6DF1,
        "other": 0xDECFBAAB9C8D7E01,
    }.items()
}


def _mix(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    z = (z ^ (z >> np.uint64(30))) * _M1
    z = (z ^ (z >> np.uint64(27))) * _M2
    return z ^ (z >> np.uint64(31))


def _str_hash(values: pa.Array) -> np.ndarray:
    obj = values.to_numpy(zero_copy_only=False)
    return pd.util.hash_array(obj, categorize=False).astype(np.uint64)


def _quantize12(v: np.ndarray) -> np.ndarray:
    """Hash of each finite float rounded to 12 significant digits."""
    out = np.zeros(len(v), dtype=np.uint64)
    nz = v != 0.0
    if nz.any():
        x = v[nz]
        e = np.floor(np.log10(np.abs(x)))
        m = np.round(x / np.power(10.0, e - 11))
        carry = np.abs(m) >= 1e12
        m = np.where(carry, np.round(m / 10.0), m)
        e = e + carry
        out[nz] = _mix(m.astype(np.int64).view(np.uint64)) ^ e.astype(np.int64).view(
            np.uint64
        )
    return out


def _column(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """(exact cell hashes, non-float cell hashes, float values or None)."""
    t = arr.type
    valid = ~np.asarray(arr.is_null().to_numpy(zero_copy_only=False), dtype=bool)
    floats = None
    if pa.types.is_integer(t):
        h = arr.cast(pa.int64()).fill_null(0).to_numpy().view(np.uint64) ^ _TAGS["int"]
        key = h
    elif pa.types.is_floating(t):
        v = arr.cast(pa.float64()).fill_null(0.0).to_numpy().copy()
        finite = np.isfinite(v)
        marker = np.where(
            np.isnan(v),
            _TAGS["nan"],
            np.where(v > 0, _TAGS["inf"], _TAGS["-inf"]),
        )
        key = np.where(finite, _TAGS["float"], marker)
        h = np.where(finite, _quantize12(np.where(finite, v, 0.0)) ^ _TAGS["float"], marker)
        floats = np.where(valid & finite, v, 0.0)
    elif pa.types.is_boolean(t):
        h = arr.fill_null(False).to_numpy(zero_copy_only=False).astype(np.uint64) ^ _TAGS["bool"]
        key = h
    elif pa.types.is_timestamp(t):
        us = arr.cast(pa.timestamp("us", tz=t.tz), safe=False).cast(pa.int64()).fill_null(0).to_numpy()
        h = np.floor_divide(us, 1000).view(np.uint64) ^ _TAGS["ts"]
        key = h
    elif pa.types.is_date(t):
        days = arr.cast(pa.date32()).cast(pa.int32()).fill_null(0).to_numpy()
        h = days.astype(np.int64).view(np.uint64) ^ _TAGS["date"]
        key = h
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        h = _str_hash(arr.fill_null("")) ^ _TAGS["str"]
        key = h
    elif pa.types.is_decimal(t):
        s = pc.replace_substring_regex(arr.cast(pa.string()), r"(\.\d*?)0+$", r"\1")
        s = pc.replace_substring_regex(s, r"\.$", "")
        h = _str_hash(s.fill_null("")) ^ _TAGS["dec"]
        key = h
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        hexed = [b.hex() if b is not None else "" for b in arr.to_pylist()]
        h = _str_hash(pa.array(hexed, pa.string())) ^ _TAGS["bin"]
        key = h
    else:
        h = _str_hash(arr.cast(pa.string()).fill_null("")) ^ _TAGS["other"]
        key = h
    h = np.where(valid, _mix(h), _TAGS["null"])
    key = np.where(valid, _mix(key), _TAGS["null"])
    return h, key, floats


def empty() -> dict:
    return {"n": 0, "cols": None, "exact": 0, "key": 0}


def _rows(rb) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-row (exact hash, non-float hash, float matrix n × F)."""
    names = sorted(rb.schema.names)
    n = rb.num_rows
    acc = np.zeros(n, dtype=np.uint64)
    kacc = np.zeros(n, dtype=np.uint64)
    floats = []
    for name in names:
        h, key, f = _column(rb.column(rb.schema.get_field_index(name)))
        acc = _mix(acc ^ h)
        kacc = _mix(kacc ^ key)
        if f is not None:
            floats.append(f)
    return _mix(acc), _mix(kacc), np.column_stack(floats) if floats else np.zeros((n, 0))


def batch(rb: pa.RecordBatch) -> dict:
    """Fingerprint of one record batch."""
    exact, key, _ = _rows(rb)
    return {
        "n": rb.num_rows,
        "cols": sorted(rb.schema.names),
        "exact": int(exact.sum(dtype=np.uint64)),
        "key": int(key.sum(dtype=np.uint64)),
    }


def combine(a: dict, b: dict) -> dict:
    if a["cols"] is None:
        return b
    if b["cols"] is None:
        return a
    if a["cols"] != b["cols"]:
        raise ValueError(f"column sets differ between batches: {a['cols']} vs {b['cols']}")
    return {
        "n": a["n"] + b["n"],
        "cols": a["cols"],
        "exact": (a["exact"] + b["exact"]) % 2**64,
        "key": (a["key"] + b["key"]) % 2**64,
    }


def of_batches(batches) -> dict:
    fp = empty()
    for rb in batches:
        if rb.num_rows:
            fp = combine(fp, batch(rb))
        elif fp["cols"] is None:
            fp["cols"] = sorted(rb.schema.names)
    return fp


def spark_partials(batches):
    """``mapInArrow`` body: one JSON partial per partition."""
    yield pa.RecordBatch.from_pydict({"fp": [json.dumps(of_batches(batches))]})


def of_spark(df) -> dict:
    """Fingerprint of a Spark DataFrame, hashed executor-side."""
    fp = empty()
    fp["cols"] = sorted(df.columns)
    for row in df.mapInArrow(spark_partials, "fp string").collect():
        part = json.loads(row.fp)
        if part["n"]:
            fp = combine(fp, part)
    return fp


def of_duckdb(con, sql: str, batch_rows: int = 200_000) -> dict:
    reader = con.execute(sql).fetch_record_batch(batch_rows)
    fp = of_batches(reader)
    if fp["cols"] is None:
        fp["cols"] = sorted(reader.schema.names)
    return fp


def compare(got: dict, want: dict) -> tuple[bool, str]:
    """(match, how) from fingerprints alone: how is 'exact', a failure
    reason, or 'floats' when only float cells differ at 12 digits and
    ``close_rows`` must decide."""
    if got["cols"] != want["cols"]:
        return False, f"columns {got['cols']} vs oracle {want['cols']}"
    if got["n"] != want["n"]:
        return False, f"row count {got['n']} vs oracle {want['n']}"
    if got["exact"] == want["exact"]:
        return True, "exact"
    if got["key"] != want["key"]:
        return False, "non-float cells differ"
    if got["n"] > TOLERANT_MAX_ROWS:
        return False, f"float cells differ; {got['n']} rows is too many to pair"
    return False, "floats"


def verdict(got: dict, want: dict, fetch_got, fetch_want) -> tuple[bool, str]:
    """``compare``, then ``close_rows`` over the fetched Arrow tables
    when only float cells differ."""
    ok, how = compare(got, want)
    if how != "floats":
        return ok, how
    return close_rows(fetch_got(), fetch_want())


def _sorted_rows(table: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    if not table.num_rows:
        return np.zeros(0, dtype=np.uint64), np.zeros((0, 0))
    _, key, floats = _rows(table.combine_chunks().to_batches()[0])
    order = np.lexsort([floats[:, j] for j in reversed(range(floats.shape[1]))] + [key])
    return key[order], floats[order]


def close_rows(got: pa.Table, want: pa.Table) -> tuple[bool, str]:
    """Pair rows by non-float cells, then compare floats within REL_TOL."""
    ka, fa = _sorted_rows(got)
    kb, fb = _sorted_rows(want)
    if ka.shape != kb.shape or not np.array_equal(ka, kb) or fa.shape != fb.shape:
        return False, "rows do not pair up"
    bad = np.abs(fa - fb) > REL_TOL * np.maximum(np.abs(fa), np.abs(fb))
    if bad.any():
        i, j = np.argwhere(bad)[0]
        return False, f"float {fa[i, j]!r} vs oracle {fb[i, j]!r} beyond {REL_TOL:g} relative"
    return True, "tolerant"
