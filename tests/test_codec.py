"""Varbyte/delta codec: golden vectors + property tests (FIXTURES.md §4)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from colbert_spark.index.codec import (
    CODEC_PFOR,
    CODEC_VARBYTE,
    decode_block,
    decode_blocks,
    decode_postings,
    delta_decode,
    delta_encode,
    encode_block_payloads,
    encode_postings,
    pfor_decode,
    vb_decode,
    vb_encode,
)


def test_vb_golden():
    # hand-computed LEB128: 1→0x01, 127→0x7f, 128→0x80 0x01, 300→0xac 0x02
    assert vb_encode(np.array([1])) == b"\x01"
    assert vb_encode(np.array([127])) == b"\x7f"
    assert vb_encode(np.array([128])) == b"\x80\x01"
    assert vb_encode(np.array([300])) == b"\xac\x02"
    assert vb_encode(np.array([1, 2, 128, 300])) == b"\x01\x02\x80\x01\xac\x02"
    assert vb_encode(np.array([], dtype=np.int64)) == b""
    assert vb_decode(b"") .size == 0


def test_vb_zero():
    assert vb_encode(np.array([0])) == b"\x00"
    assert vb_decode(b"\x00").tolist() == [0]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=0, max_size=500)
)
def test_vb_roundtrip(values):
    arr = np.array(values, dtype=np.int64)
    assert vb_decode(vb_encode(arr)).tolist() == values


@settings(max_examples=100, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=300)
)
def test_postings_roundtrip(ids):
    doc_ids = np.array(sorted(ids), dtype=np.int64)
    tfs = (doc_ids % 17) + 1
    db, tb = encode_postings(doc_ids, tfs)
    d2, t2 = decode_postings(db, tb)
    assert d2.tolist() == doc_ids.tolist()
    assert t2.tolist() == tfs.tolist()


def test_delta_monotonic():
    ids = np.array([5, 9, 10, 1000, 10**9])
    d = delta_encode(ids)
    assert d.tolist() == [5, 4, 1, 990, 10**9 - 1000]
    assert delta_decode(d).tolist() == ids.tolist()


# --- PForDelta / tagged block payloads (format v3) -------------------------


def _blocks_of(values, sizes):
    """Split `values` into blocks of the given sizes → (starts, ends)."""
    ends = np.cumsum(np.asarray(sizes, dtype=np.int64))
    starts = ends - sizes
    return starts, ends


def _roundtrip(values, sizes):
    arr = np.asarray(values, dtype=np.int64)
    starts, ends = _blocks_of(arr, np.asarray(sizes, dtype=np.int64))
    payloads = encode_block_payloads(arr, starts, ends)
    assert len(payloads) == len(sizes)
    for i, p in enumerate(payloads):
        assert p[0] in (CODEC_VARBYTE, CODEC_PFOR)
        got = decode_block(p)
        assert got.tolist() == arr[starts[i]:ends[i]].tolist()
    # the batch decoder: mixed varbyte/pfor payloads back in block order
    assert decode_blocks(payloads)[0].tolist() == arr.tolist()
    return payloads


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**62), min_size=1, max_size=600
    ),
    st.randoms(use_true_random=False),
)
def test_pfor_payload_roundtrip(values, rnd):
    # carve random block boundaries (1..128 values per block) over the list
    sizes, left = [], len(values)
    while left:
        s = min(left, rnd.randint(1, 128))
        sizes.append(s)
        left -= s
    _roundtrip(values, sizes)


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=128))
def test_pfor_delta_stream(ids):
    """The build's actual shape: block of docID deltas (first raw)."""
    doc_ids = np.array(sorted(ids), dtype=np.int64)
    payloads = _roundtrip(delta_encode(doc_ids), [len(doc_ids)])
    back = delta_decode(decode_block(payloads[0]))
    assert back.tolist() == doc_ids.tolist()


def test_pfor_never_larger_than_varbyte_plus_tag():
    """Adaptive choice: each payload ≤ varbyte encoding of the block + tag."""
    rng = np.random.default_rng(3)
    vals = np.concatenate(
        [
            rng.choice([1, 1, 1, 2, 3], 256),  # tf-like
            rng.integers(50, 800, 256),  # doclen-like
            rng.integers(0, 2**45, 64),  # adversarial wide values
        ]
    ).astype(np.int64)
    sizes = [128, 128, 128, 128, 64]
    starts, ends = _blocks_of(vals, np.asarray(sizes, dtype=np.int64))
    payloads = encode_block_payloads(vals, starts, ends)
    for i, p in enumerate(payloads):
        vb = vb_encode(vals[starts[i]:ends[i]])
        assert len(p) <= len(vb) + 1
    # and on the tight tf distribution pfor must actually win big
    assert payloads[0][0] == CODEC_PFOR
    assert len(payloads[0]) < len(vb_encode(vals[:128])) // 2


def test_pfor_golden_tiny():
    # 4 values, width 2, one exception (9 = 0b1001: low 2 bits 01, high 0b10)
    payloads = encode_block_payloads(
        np.array([1, 2, 9, 3], dtype=np.int64), np.array([0]), np.array([4])
    )
    p = payloads[0]
    got = decode_block(p)
    assert got.tolist() == [1, 2, 9, 3]
    if p[0] == CODEC_PFOR:
        body = p[1:]
        assert body[1] == 4  # n
        assert pfor_decode(body).tolist() == [1, 2, 9, 3]


def test_pfor_all_zeros_and_equal():
    _roundtrip(np.zeros(128, dtype=np.int64), [128])
    _roundtrip(np.full(100, 7, dtype=np.int64), [100])
    _roundtrip(np.array([2**62], dtype=np.int64), [1])


def test_v2_unprefixed_decode_still_works():
    arr = np.array([3, 1, 4, 1, 5, 926], dtype=np.int64)
    assert decode_block(vb_encode(arr), prefixed=False).tolist() == arr.tolist()
    payloads = [vb_encode(arr[:2]), vb_encode(arr[2:])]
    assert decode_blocks(payloads, prefixed=False)[0].tolist() == arr.tolist()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**32), min_size=0, max_size=400),
    st.data(),
)
def test_vb_encode_payloads_slicing(values, data):
    """The positional-stream slicer: one global varbyte encode cut at
    arbitrary block boundaries must yield per-block tagged payloads that
    `decode_block` round-trips to exactly the original slices (including
    empty slices — a block whose postings all have tf counted elsewhere)."""
    from colbert_spark.index.codec import vb_encode_payloads

    arr = np.array(values, dtype=np.int64)
    n_cuts = data.draw(st.integers(min_value=0, max_value=8))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(values)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    bounds = [0] + cuts + [len(values)]
    starts = np.array(bounds[:-1], dtype=np.int64)
    ends = np.array(bounds[1:], dtype=np.int64)
    payloads = vb_encode_payloads(arr, starts, ends)
    assert len(payloads) == len(starts)
    for p, s, e in zip(payloads, bounds[:-1], bounds[1:]):
        assert decode_block(p).tolist() == values[s:e]
    assert decode_blocks(payloads)[0].tolist() == values


# --- batch decode: decode_blocks against the per-block decoder ------------


def _assert_batch_decode(payloads, prefixed=True):
    """decode_blocks == concatenated decode_block, counts == block lengths."""
    parts = [decode_block(p, prefixed) for p in payloads]
    got, counts = decode_blocks(payloads, prefixed)
    assert got.dtype == np.int64 and counts.dtype == np.int64
    want = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    assert got.tolist() == want.tolist()
    assert counts.tolist() == [len(x) for x in parts]


def _block_values(rng, kind, n):
    if kind == "zeros":  # PForDelta w = 0
        return np.zeros(n, dtype=np.int64)
    if kind == "narrow":  # PForDelta, no exceptions
        return rng.integers(0, 16, n)
    if kind == "exceptions":  # narrow with a few wide outliers
        v = rng.integers(0, 8, n)
        v[rng.integers(0, n, max(1, n // 16))] = rng.integers(1 << 20, 1 << 40)
        return v
    if kind == "wide":  # w near 64: values straddle nine bytes
        return rng.integers(1 << 55, 1 << 62, n)
    return rng.integers(0, 1 << int(rng.integers(1, 62)), n)  # any width


KINDS = ["zeros", "narrow", "exceptions", "wide", "any"]


def test_decode_blocks_covers_every_block_shape():
    """One payload list holding every shape: PForDelta at w = 0, with and
    without exceptions and at w > 56, varbyte bodies, n = 1 and n = 128."""
    rng = np.random.default_rng(11)
    payloads = []
    for kind in KINDS:
        for n in (1, 128, 37):
            v = _block_values(rng, kind, n)
            payloads += encode_block_payloads(
                v, np.array([0]), np.array([n])
            )
            payloads.append(bytes([CODEC_VARBYTE]) + vb_encode(v))
    pfor = [p for p in payloads if p[0] == CODEC_PFOR]
    assert any(p[1] == 0 for p in pfor)  # w = 0
    assert any(p[3] > 0 for p in pfor) and any(p[3] == 0 and p[1] for p in pfor)
    assert any(p[1] > 56 for p in pfor)
    assert {p[2] for p in pfor} >= {128}
    _assert_batch_decode(payloads)
    _assert_batch_decode(payloads[::-1])


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(KINDS),
            st.sampled_from([1, 128]) | st.integers(min_value=1, max_value=128),
            st.booleans(),
        ),
        max_size=12,
    ),
    st.integers(min_value=0, max_value=2**32),
)
def test_decode_blocks_matches_per_block_decode(blocks, seed):
    """Random mixes of varbyte and PForDelta payloads (the encoder's pick,
    or a forced varbyte body) and of v2 unprefixed payloads, empty lists
    included."""
    rng = np.random.default_rng(seed)
    tagged, raw = [], []
    for kind, n, force_vb in blocks:
        v = _block_values(rng, kind, n)
        if force_vb:
            tagged.append(bytes([CODEC_VARBYTE]) + vb_encode(v))
        else:
            tagged += encode_block_payloads(v, np.array([0]), np.array([n]))
        raw.append(vb_encode(v))
    _assert_batch_decode(tagged)
    _assert_batch_decode(raw, prefixed=False)


def test_decode_blocks_empty_input():
    for prefixed in (True, False):
        got, counts = decode_blocks([], prefixed)
        assert got.dtype == counts.dtype == np.int64
        assert got.size == counts.size == 0
