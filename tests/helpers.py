"""Test helpers: bit-exact arrow array comparison (NaN == NaN when bits
match) and physical-plan text."""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pyarrow as pa


def assert_bit_equal(a: pa.Array, b: pa.Array) -> None:
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    if isinstance(b, pa.ChunkedArray):
        b = b.combine_chunks()
    assert a.type == b.type, f"type mismatch: {a.type} vs {b.type}"
    assert len(a) == len(b), f"length mismatch: {len(a)} vs {len(b)}"
    va = a.is_valid().to_numpy(zero_copy_only=False)
    vb = b.is_valid().to_numpy(zero_copy_only=False)
    np.testing.assert_array_equal(va, vb)
    t = a.type
    an, bn = a.drop_null(), b.drop_null()
    if pa.types.is_floating(t):
        w = np.int64 if t == pa.float64() else np.int32
        np.testing.assert_array_equal(
            an.to_numpy(zero_copy_only=False).view(w),
            bn.to_numpy(zero_copy_only=False).view(w),
        )
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        la = pa.compute.list_value_length(an).to_numpy(zero_copy_only=False)
        lb = pa.compute.list_value_length(bn).to_numpy(zero_copy_only=False)
        np.testing.assert_array_equal(la, lb)
        assert_bit_equal(an.flatten(), bn.flatten())
    elif pa.types.is_struct(t):
        for i in range(t.num_fields):
            assert_bit_equal(an.field(i), bn.field(i))
    elif pa.types.is_map(t):
        lt = pa.list_(pa.struct([t.key_field, t.item_field]))
        assert_bit_equal(an.cast(lt), bn.cast(lt))
    else:
        assert an.equals(bn), f"value mismatch for {t}: {an[:5]} vs {bn[:5]}"


def formatted_plan(df) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def assert_zone_pushed(df, col: str) -> None:
    """The zone predicate on ``mn_<col>`` reaches the parquet scan."""
    txt = formatted_plan(df)
    assert any("PushedFilters" in l and f"mn_{col}" in l
               for l in txt.splitlines()), txt
