"""Property-based tests (hypothesis) for the pure-python kernels:
AnyValue flatten, BMP/WAV codecs. No SparkSession needed."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from rotel_spark.functions.anyvalue import coerce_scalar, flatten_attrs_obj
from rotel_spark.operators.multimodal import (
    decode_bmp,
    decode_wav,
    make_bmp,
    make_wav,
)

text = st.text(max_size=40)
json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    text,
)
json_values = st.recursive(
    json_scalars,
    lambda kids: st.one_of(
        st.lists(kids, max_size=3),
        st.dictionaries(st.text(min_size=1, max_size=8), kids, max_size=3),
    ),
    max_leaves=10,
)


@settings(max_examples=200, deadline=None)
@given(obj=st.dictionaries(st.text(min_size=1, max_size=8), json_values, max_size=4))
def test_flatten_attrs_never_loses_scalars(obj):
    """Every non-null leaf reachable within the depth bound appears
    exactly once under its dotted key; values follow coerce rules."""
    flat = flatten_attrs_obj(obj, max_depth=50)
    keys = [k for k, _, _ in flat]
    assert len(keys) == len(set(keys)) or any(
        "." in k for k in keys
    )  # duplicate dotted keys only possible via literal dots in keys

    def count_leaves(d):
        n = 0
        for v in d.values():
            if isinstance(v, dict):
                n += count_leaves(v)
            elif v is not None:
                n += 1
        return n

    assert len(flat) == count_leaves(obj)
    for _, vtype, val in flat:
        if vtype == "int":
            int(val)
        elif vtype == "double":
            float(val)


@settings(max_examples=100, deadline=None)
@given(v=json_scalars)
def test_coerce_scalar_rules(v):
    c = coerce_scalar(v)
    if v is None:
        assert c is None
    elif isinstance(v, bool):
        assert c == ("string", "true" if v else "false")
    elif isinstance(v, int):
        assert c == ("int", str(v))
    elif isinstance(v, float):
        assert c[0] == "double" and float(c[1]) == v
    else:
        assert c == ("string", v)


@settings(max_examples=50, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_roundtrip(w, h, seed):
    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(make_bmp(w, h, px)), px)


@settings(max_examples=50, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=512),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_roundtrip(n, seed):
    rng = np.random.RandomState(seed)
    s = rng.randint(-32768, 32767, size=n).astype(np.int16)
    assert np.array_equal(decode_wav(make_wav(s)), s)
