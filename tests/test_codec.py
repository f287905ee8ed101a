"""Property tests for the delta+varint block codec (SURVEY §2.4 C1-C4)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark import codec


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.int64)
    assert (codec.vb_decode(codec.vb_encode(arr)) == arr).all()


@given(
    st.lists(
        st.tuples(st.integers(0, 10**9), st.integers(1, 10**4)),
        min_size=1, max_size=300, unique_by=lambda t: t[0],
    )
)
@settings(max_examples=150, deadline=None)
def test_block_roundtrip(postings):
    postings.sort()
    docs = np.array([d for d, _ in postings], dtype=np.int64)
    tfs = np.array([t for _, t in postings], dtype=np.int64)
    d2, t2 = codec.decode_block(codec.encode_block(docs, tfs))
    assert (d2 == docs).all() and (t2 == tfs).all()


def test_empty_block():
    d, t = codec.decode_block(codec.encode_block(np.array([]), np.array([])))
    assert len(d) == 0 and len(t) == 0


def test_decode_block_full_refuses_unknown_tag():
    """A payload whose first byte is 0x00 is a tagged format, never a
    varint stream (whose first byte cannot be 0x00): an unknown tag is
    refused rather than varint-decoded into garbage postings."""
    import pytest

    body = codec.encode_block(np.array([3, 7], dtype=np.int64),
                              np.array([1, 2], dtype=np.int64))
    for tag in (b"\x00B", b"\x00E", b"\x00I", b"\x00Z"):
        with pytest.raises(ValueError, match="unknown tagged payload"):
            codec.decode_block_full(tag + body)
