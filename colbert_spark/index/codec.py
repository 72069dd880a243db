"""docID-delta + varbyte / PForDelta posting-list codec (numpy-vectorized).

The compressed-index analog of the reference's PQ compression (reference
``colbert/indexing/faiss_index.py:18-27``: IVFPQ m=64 nbits=8 over fp16
embeddings — lossy vector codes; ours are the classical lossless posting
codecs: sorted docIDs → first-order deltas, then per block either

  * **varbyte** (LEB128) — self-delimiting byte stream, robust for any
    value distribution; or
  * **PForDelta** (patched frame-of-reference) — every value of the block
    bit-packed at one width `w`, with the few values that don't fit stored
    as (position, high-bits) exception patches. For the tight distributions
    posting blocks actually have (deltas ≈ gap, tf ≈ 1-3, doclen ≈ a few
    hundred) this packs 1-10 bits/value where varbyte's floor is 8.

Block payloads written by `encode_block_payloads` are SELF-DESCRIBING: one
codec tag byte (0 = varbyte, 1 = pfor) + body, and the encoder picks
whichever of the two is smaller PER BLOCK PER COLUMN — so the pfor path can
never regress size by more than the tag byte. (Format v3; v2 payloads are a
raw untagged varbyte stream — `decode_block(prefixed=False)`.)

Both directions are fully vectorized numpy (no per-element Python loops) so
they run fast inside Arrow-batched pandas UDFs — the "no per-row Python"
input_hint applies inside UDF bodies too. The encoders make ONE pass over
the whole Arrow batch (loops are over bit positions / 7-bit groups, never
over values or blocks), then slice per-block payloads out of the global
buffers.
"""

from __future__ import annotations

import numpy as np

CODEC_VARBYTE = 0
CODEC_PFOR = 1


def vb_encode_concat(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 varbyte-encode a non-negative int64 array (vectorized).

    Returns ``(buf, nbytes)``: the concatenated byte stream as a uint8 array
    and the per-value byte count — callers slice ``buf`` at
    ``cumsum(nbytes)`` boundaries to split one global encode into per-block
    payloads (LEB128 is self-delimiting, so any value-aligned slice decodes
    independently). This is what lets the index build encode a whole Arrow
    batch in ONE numpy pass instead of one call per posting block.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # number of 7-bit groups per value (>=1), from the single-pass bitlen
    nbytes = np.maximum((_bitlens(v) + 6) // 7, 1)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # end offset of each value's byte run
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # write group g of every value that has > g groups
    g = 0
    rem = v.copy()
    active = np.arange(v.size)
    while active.size:
        pos = starts[active] + g
        byte = (rem[active] & np.uint64(0x7F)).astype(np.uint8)
        more = (rem[active] >> np.uint64(7)) > 0
        out[pos] = byte | (more.astype(np.uint8) << 7)
        rem[active] >>= np.uint64(7)
        active = active[more]
        g += 1
    return out, nbytes


def vb_encode(values: np.ndarray) -> bytes:
    """LEB128 varbyte-encode a non-negative int64 array → one byte string."""
    buf, _ = vb_encode_concat(values)
    return buf.tobytes()


def vb_decode(buf) -> np.ndarray:
    """Decode LEB128 varbytes (bytes or a uint8 array) back to an int64
    array (vectorized: one shift per byte, one `reduceat` per value)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.int64)
    is_last = b < 0x80  # terminator byte of each value
    n = int(is_last.sum())
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = np.flatnonzero(is_last)[:-1] + 1
    value_id = np.cumsum(is_last) - is_last  # which value each byte belongs to
    # group index of each byte within its value (IndexError on a stream
    # that does not end with a terminator)
    group = np.arange(b.size, dtype=np.int64) - starts[value_id]
    shifted = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * group.astype(np.uint64))
    return np.add.reduceat(shifted, starts).astype(np.int64)


def vb_encode_payloads(
    values: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """Slice one global varbyte encode into per-block TAGGED payloads
    (1 codec-tag byte + raw LEB128 body), decodable by `decode_block`.

    Used for the OCCURRENCE-level position streams (format v3 positional
    blocks): a posting block of ≤128 postings can carry any number of
    occurrences (Σtf is unbounded), which rules out PForDelta's one-byte
    value count — varbyte has no per-block count to store."""
    buf, sizes = vb_encode_concat(values)
    offs = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum(sizes, out=offs[1:])
    # materialize plain ints ONLY at the block boundaries: a .tolist() of
    # every value offset is ~28 B per Python int — for an occurrence-level
    # stream (Σtf values, ~16× the posting count on Zipf-head slabs) that
    # transient alone was ~1 GB per encode task (measured on the 10M soak)
    lo = offs[np.asarray(starts, dtype=np.int64)].tolist()
    hi = offs[np.asarray(ends, dtype=np.int64)].tolist()
    raw = buf.tobytes()
    tag = bytes([CODEC_VARBYTE])
    return [tag + raw[s:e] for s, e in zip(lo, hi)]


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing int64 ids → first-order deltas (first kept raw)."""
    a = np.asarray(sorted_ids, dtype=np.int64)
    if a.size == 0:
        return a
    d = np.empty_like(a)
    d[0] = a[0]
    np.subtract(a[1:], a[:-1], out=d[1:])
    return d


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(deltas, dtype=np.int64))


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """Encode one block: sorted doc_ids → delta+varbyte; tfs → varbyte."""
    return vb_encode(delta_encode(doc_ids)), vb_encode(tfs)


def decode_postings(doc_bytes: bytes, tf_bytes: bytes) -> tuple[np.ndarray, np.ndarray]:
    return delta_decode(vb_decode(doc_bytes)), vb_decode(tf_bytes)


# ---------------------------------------------------------------------------
# PForDelta (patched frame-of-reference) — format v3 block bodies
# ---------------------------------------------------------------------------
#
# body := [w:1][n:1][n_exc:1][packed: ceil(n*w/8) bytes, little-endian bits]
#         [exc_pos: n_exc bytes][exc_high: varbyte stream of n_exc values]
#
# packed holds the LOW w bits of every value in order; exceptions are the
# values whose bit length exceeds w — their position in the block (≤ 255,
# one byte) and remaining HIGH bits (v >> w, varbyte) are appended. n ≤ 255
# by construction (posting blocks are ≤ BLOCK_SIZE = 128 values).

_PFOR_HDR = 3  # w, n, n_exc — one byte each
_SHIFTS_U64 = np.arange(64, dtype=np.uint64)  # shared shift vector
_LOW_MASKS = (np.uint64(1) << _SHIFTS_U64) - np.uint64(1)  # w → low w bits


def _bitlens(v: np.ndarray) -> np.ndarray:
    """Bit length of each uint64 value (0 → 0), vectorized.

    Fast path: one `np.frexp` pass — v = m·2^e with m ∈ [0.5, 1) makes e
    exactly the bit length, and float64 represents every integer < 2^53
    exactly (doc deltas, tf, dl and position deltas are all far below).
    Values ≥ 2^53 (possible only for pathological id spaces) fall back to
    the shift loop."""
    if v.size == 0:
        return np.zeros(0, dtype=np.int64)
    if int(v.max()) < (1 << 53):
        _, e = np.frexp(v.astype(np.float64))
        return e.astype(np.int64)
    bits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while tmp.any():
        bits += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(1)
    return bits


def pfor_decode(body: bytes) -> np.ndarray:
    """Decode one PFor block body → int64 array of n values."""
    b = np.frombuffer(body, dtype=np.uint8)
    w, n, n_exc = int(b[0]), int(b[1]), int(b[2])
    pb = (n * w + 7) // 8
    vals = np.zeros(n, dtype=np.uint64)
    if w:
        bits = np.unpackbits(b[_PFOR_HDR:_PFOR_HDR + pb], bitorder="little")[: n * w]
        bits = bits.reshape(n, w)
        for k in range(w):  # ≤64 vectorized passes, not per-value
            vals |= bits[:, k].astype(np.uint64) << np.uint64(k)
    if n_exc:
        pos = b[_PFOR_HDR + pb:_PFOR_HDR + pb + n_exc]
        high = vb_decode(body[_PFOR_HDR + pb + n_exc:]).astype(np.uint64)
        vals[pos] |= high << np.uint64(w)
    return vals.astype(np.int64)


def decode_block(buf: bytes, prefixed: bool = True) -> np.ndarray:
    """Decode one block payload. `prefixed=True` (format v3): first byte is
    the codec tag; `prefixed=False` (format ≤v2): raw varbyte stream."""
    if not prefixed:
        return vb_decode(buf)
    if buf[0] == CODEC_PFOR:
        return pfor_decode(buf[1:])
    return vb_decode(buf[1:])


def decode_blocks(bufs, prefixed: bool = True) -> tuple[np.ndarray, np.ndarray]:
    """Decode a sequence of block payloads → (values, counts): one int64
    array equal to `np.concatenate([decode_block(b, prefixed) for b in
    bufs])` and each block's value count. Vectorized over the joined bytes,
    with no per-block Python: every varbyte run — varbyte bodies and the
    PForDelta exception high bits alike (LEB128 is self-delimiting) —
    decodes in ONE `vb_decode` pass, and every PForDelta value is one
    unaligned little-endian 8-byte window read at its bit offset. Per-value
    temporaries are kept to uint8 where they fit: compaction decodes
    500k-posting slabs in every Python worker at once."""
    bufs = list(bufs)
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    raw = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    ends = np.cumsum(lens)
    starts = ends - lens
    if not prefixed:
        last = np.flatnonzero(raw < 0x80)
        return vb_decode(raw), np.searchsorted(last, ends) - np.searchsorted(last, starts)
    is_pfor = raw[starts] == CODEC_PFOR  # every v3 payload has its tag byte
    p = np.flatnonzero(is_pfor)
    body = starts[p] + 1 + _PFOR_HDR  # first packed byte of each pfor block
    w = raw[body - 3]
    n = raw[body - 2].astype(np.int64)
    n_exc = raw[body - 1].astype(np.int64)
    exc_at = body + (n * w + 7) // 8  # exception positions, then high bits
    # each block's varbyte run: after its tag, or after a pfor block's
    # exception positions, to the block's end — marked by one int8 cumsum
    vstart = starts + 1
    vstart[p] = exc_at + n_exc
    mark = np.zeros(len(raw) + 1, dtype=np.int8)
    mark[vstart] += 1
    mark[ends] -= 1
    varint = np.cumsum(mark[:-1], dtype=np.int8).view(bool)
    last = np.flatnonzero(varint & (raw < 0x80))
    vcount = np.searchsorted(last, ends) - np.searchsorted(last, starts)
    vals = vb_decode(raw[varint])  # varbyte values; n_exc per pfor block
    counts = vcount.copy()
    counts[p] = n
    out = np.empty(int(counts.sum()), dtype=np.int64)
    in_vb = np.repeat(~is_pfor, counts)
    is_high = np.repeat(is_pfor, vcount)
    out[in_vb] = vals[~is_high]
    if not p.size:
        return out, counts
    # value i of pfor block j holds bits [8·body_j + i·w_j, +w_j): read the
    # 8 bytes from its first byte, shift, and OR in a ninth byte where
    # shift + w > 64 (w > 56 only; values are non-negative int64, w ≤ 63)
    first = np.cumsum(n) - n
    wv = np.repeat(w, n)
    bit = np.arange(len(wv), dtype=np.int64)
    bit *= wv
    bit += np.repeat(8 * body - first * w, n)
    sh = bit.astype(np.uint8) & np.uint8(7)
    bit >>= 3
    padded = np.concatenate([raw, np.zeros(9, dtype=np.uint8)])
    pv = np.lib.stride_tricks.sliding_window_view(padded, 8)[bit].view("<u8").ravel()
    wide = np.flatnonzero(sh + wv > 64)
    ninth = padded[bit[wide] + 8].astype(np.uint64)
    del bit
    pv >>= sh
    pv[wide] |= ninth << (np.uint64(64) - sh[wide])
    pv &= _LOW_MASKS[wv]
    if n_exc.any():
        ex = np.repeat(np.arange(len(p)), n_exc)
        k = np.arange(len(ex)) - (np.cumsum(n_exc) - n_exc)[ex]
        idx = first[ex] + raw[exc_at[ex] + k]
        pv[idx] |= vals[is_high].astype(np.uint64) << w[ex]
    out[~in_vb] = pv.view(np.int64)
    return out, counts


def encode_block_payloads(
    values: np.ndarray, block_starts: np.ndarray, block_ends: np.ndarray
) -> list[bytes]:
    """Encode one column of many blocks → per-block SELF-DESCRIBING payloads
    (format v3: 1 codec-tag byte + body), choosing varbyte or PForDelta per
    block by actual encoded size. All passes are global-vectorized (over bit
    positions / 7-bit groups); the only per-block Python is the final
    byte-slicing/assembly, mirroring the varbyte path's slice loop.
    """
    v = np.asarray(values, dtype=np.uint64)
    n_blocks = len(block_starts)
    if n_blocks == 0:
        return []
    ns = (block_ends - block_starts).astype(np.int64)
    if np.any(ns > 255):
        raise ValueError("pfor blocks hold at most 255 values")
    n_vals = len(v)
    block_of = np.repeat(np.arange(n_blocks), ns)
    off_in_block = np.arange(n_vals) - block_starts[block_of]
    bl = _bitlens(v)
    max_w = int(bl.max(initial=0))

    # --- per-block width selection from the bitlen histogram alone (no
    # speculative encodes). counts[b, l] = #values of block b with bitlen l;
    # the cumsum over l gives the exception count at every candidate width.
    counts = np.bincount(
        block_of * (max_w + 1) + bl, minlength=n_blocks * (max_w + 1)
    ).reshape(n_blocks, max_w + 1)
    fits = counts.cumsum(axis=1)  # #values with bitlen ≤ w
    ws = np.arange(max_w + 1, dtype=np.int64)
    n_exc_w = ns[:, None] - fits
    maxb = np.maximum.reduceat(bl, block_starts)
    # exception cost ≈ 1 pos byte + varbyte bytes of the worst-case high part
    est_exc = 1 + np.maximum((maxb[:, None] - ws + 6) // 7, 1)
    cost = _PFOR_HDR + (ns[:, None] * ws + 7) // 8 + n_exc_w * est_exc
    w_block = np.argmin(cost, axis=1).astype(np.int64)
    w_of = w_block[block_of]

    # --- EXACT candidate sizes, still without encoding anything:
    # varbyte is ceil(bitlen/7) (min 1) per value; pfor is header + packed
    # low bits + per-exception (1 pos byte + varbyte of the high part).
    vb_val_sz = np.maximum((bl + 6) // 7, 1)
    vb_size = np.add.reduceat(vb_val_sz, block_starts)
    exc_mask = bl > w_of
    exc_sz = np.zeros(n_vals, dtype=np.int64)
    exc_sz[exc_mask] = 1 + np.maximum((bl[exc_mask] - w_of[exc_mask] + 6) // 7, 1)
    pf_size = (
        _PFOR_HDR + (ns * w_block + 7) // 8 + np.add.reduceat(exc_sz, block_starts)
    )
    use_pfor = pf_size < vb_size
    pf_val = use_pfor[block_of]  # value belongs to a pfor-encoded block

    # --- varbyte: encode ONLY the values of varbyte-winning blocks
    vb_buf, vb_sizes = vb_encode_concat(v[~pf_val])
    vb_raw = vb_buf.tobytes()
    vb_offs = np.zeros(n_blocks + 1, dtype=np.int64)
    np.cumsum(np.where(use_pfor, 0, vb_size), out=vb_offs[1:])
    vb_lo = np.where(use_pfor, 0, vb_offs[:-1])

    # --- pfor packing over pfor-winning blocks only. Bit-granular scatter
    # into one global stream is O(total_bits) random writes — instead, sort
    # the pfor blocks by (w, n) so each class is a rectangular (m, n) value
    # matrix, build its (m, n·w) little-endian bit matrix by broadcast, and
    # let `np.packbits(axis=1)` byte-align every block row at once. One
    # value-gather + one small packbits per distinct (w, n) shape.
    pf_ids = np.flatnonzero(use_pfor)
    pb = np.where(use_pfor, (ns * w_block + 7) // 8, 0)
    packed_off = np.zeros(n_blocks, dtype=np.int64)  # block → offset in packed
    chunks: list[np.ndarray] = []
    if pf_ids.size:
        order = np.lexsort((ns[pf_ids], w_block[pf_ids]))
        sb = pf_ids[order]  # pfor blocks, sorted by (w, n)
        # class boundaries: change of (w, n) along the sorted blocks
        wn_w, wn_n = w_block[sb], ns[sb]
        newc = np.empty(len(sb), dtype=bool)
        newc[0] = True
        newc[1:] = (wn_w[1:] != wn_w[:-1]) | (wn_n[1:] != wn_n[:-1])
        class_starts = np.flatnonzero(newc)
        class_ends = np.append(class_starts[1:], len(sb))
        # gather all pfor values in sorted-block order (ranges → indices)
        ns_sb = ns[sb]
        val_base = np.zeros(len(sb) + 1, dtype=np.int64)
        np.cumsum(ns_sb, out=val_base[1:])
        gidx = (
            np.repeat(block_starts[sb], ns_sb)
            + np.arange(int(val_base[-1]))
            - np.repeat(val_base[:-1], ns_sb)
        )
        pv = v[gidx]
        off = 0
        for c0, c1 in zip(class_starts.tolist(), class_ends.tolist()):
            w, nn, m = int(wn_w[c0]), int(wn_n[c0]), c1 - c0
            block_rows = sb[c0:c1]
            if w == 0:
                packed_off[block_rows] = 0  # pb is 0 too; nothing packed
                continue
            mat = pv[int(val_base[c0]):int(val_base[c1])].reshape(m, nn)
            # one uint8 bit-plane per shift: the one-shot broadcast
            # `(mat[:, :, None] >> shifts) & 1` materializes an (m, n, w)
            # UINT64 intermediate — 8 bytes per BIT, ~2 GB transient per
            # 1M-posting slab, the allocation that dominated encode-task
            # memory. The loop keeps the big array uint8 (1 byte per bit)
            # with one (m, n) uint64 temp per plane.
            bits = np.empty((m, nn, w), dtype=np.uint8)
            for j in range(w):
                bits[:, :, j] = (mat >> _SHIFTS_U64[j]) & np.uint64(1)
            rows = np.packbits(
                bits.reshape(m, nn * w), axis=1, bitorder="little"
            )  # (m, ceil(n*w/8)) — packbits zero-pads each row's last byte
            chunks.append(rows.ravel())
            packed_off[block_rows] = off + np.arange(m, dtype=np.int64) * rows.shape[1]
            off += rows.size
    packed = (
        np.concatenate(chunks).tobytes() if chunks else b""
    )

    # --- exceptions (pfor blocks only)
    exc_take = exc_mask & pf_val
    exc_per_block = np.bincount(block_of[exc_take], minlength=n_blocks)
    if np.any(exc_per_block > 255):
        raise ValueError("pfor exception count exceeds one byte")
    exc_base = np.zeros(n_blocks + 1, dtype=np.int64)
    np.cumsum(exc_per_block, out=exc_base[1:])
    pos_raw = off_in_block[exc_take].astype(np.uint8).tobytes()
    high_buf, high_sizes = vb_encode_concat(
        v[exc_take] >> w_of[exc_take].astype(np.uint64)
    )
    high_offs = np.zeros(int(exc_take.sum()) + 1, dtype=np.int64)
    np.cumsum(high_sizes, out=high_offs[1:])
    high_raw = high_buf.tobytes()

    # --- assemble per block (per-block slicing loop — same granularity as
    # the v2 varbyte path's existing slice loop). Plain-int lists up front:
    # numpy scalar indexing/int() inside a multi-million-block loop costs
    # more than the slicing itself.
    out: list[bytes] = []
    vb_tag = bytes([CODEC_VARBYTE])
    pf_tag = bytes([CODEC_PFOR])
    use_l = use_pfor.tolist()
    w_l = w_block.tolist()
    ns_l = ns.tolist()
    pb_l = pb.tolist()
    po_l = packed_off.tolist()
    e0_l = exc_base[:-1].tolist()
    e1_l = exc_base[1:].tolist()
    ho_l = high_offs.tolist()
    lo_l = vb_lo.tolist()
    sz_l = vb_size.tolist()
    for i in range(n_blocks):
        if use_l[i]:
            e0, e1 = e0_l[i], e1_l[i]
            po = po_l[i]
            out.append(
                pf_tag
                + bytes([w_l[i], ns_l[i], e1 - e0])
                + packed[po:po + pb_l[i]]
                + pos_raw[e0:e1]
                + high_raw[ho_l[e0]:ho_l[e1]]
            )
        else:
            lo = lo_l[i]
            out.append(vb_tag + vb_raw[lo:lo + sz_l[i]])
    return out
