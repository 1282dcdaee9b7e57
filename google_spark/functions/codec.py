"""Posting-list codec: delta-gap + unsigned varint.

Typed replacement for the reference's text posting blob
``"<IDF>\\r\\n<url> <pos1> <pos2> ... <TF>\\r\\n..."`` (ref:
src/cis5550/jobs/Indexer.java:184-226,237-243).

``dl`` (BM25 doc length) is stored inline so query-time scoring needs no doc
join; block metadata (last_doc, max_tf, min_dl per block of BLOCK_SIZE docs)
supports block-max WAND pruning with the bound
score(tf, dl) <= score(max_tf, min_dl) (monotonic in tf, anti-monotonic in dl).

Layout is struct-of-arrays (v2):

    n : varint
    doc gaps[n], tfs[n], dls[n], n_pos[n] : varints
    position deltas (concatenated per doc, first delta = first position)

SoA rather than per-doc interleaving so that decoding the scoring arrays
(doc_ids, tfs, dls) is pure vectorized slicing — no per-document structure
walk — and positions decode only when actually requested.
"""

from __future__ import annotations

BLOCK_SIZE = 128


def _write_varint(buf: bytearray, value: int) -> None:
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7


def encode_postings(
    doc_ids: list[int],
    tfs: list[int],
    dls: list[int],
    positions: list[list[int]],
) -> bytes:
    """Encode one term's postings (scalar reference implementation). Inputs
    must be sorted by doc_id ascending (strictly — duplicate doc_ids are a
    caller bug)."""
    buf = bytearray()
    n = len(doc_ids)
    _write_varint(buf, n)
    prev_doc = 0
    for doc in doc_ids:
        _write_varint(buf, doc - prev_doc)
        prev_doc = doc
    for tf in tfs:
        _write_varint(buf, tf)
    for dl in dls:
        _write_varint(buf, dl)
    for plist in positions:
        _write_varint(buf, len(plist))
    for plist in positions:
        prev_pos = 0
        for p in plist:
            _write_varint(buf, p - prev_pos)
            prev_pos = p
    return bytes(buf)


def decode_postings(data: bytes) -> tuple[list[int], list[int], list[int], list[list[int]]]:
    """Inverse of :func:`encode_postings` -> (doc_ids, tfs, dls, positions)."""
    n, pos = _read_varint(data, 0)
    doc_ids: list[int] = []
    prev_doc = 0
    for _ in range(n):
        gap, pos = _read_varint(data, pos)
        prev_doc += gap
        doc_ids.append(prev_doc)
    tfs: list[int] = []
    for _ in range(n):
        v, pos = _read_varint(data, pos)
        tfs.append(v)
    dls: list[int] = []
    for _ in range(n):
        v, pos = _read_varint(data, pos)
        dls.append(v)
    nposs: list[int] = []
    for _ in range(n):
        v, pos = _read_varint(data, pos)
        nposs.append(v)
    positions: list[list[int]] = []
    for n_pos in nposs:
        plist: list[int] = []
        prev_p = 0
        for _ in range(n_pos):
            d, pos = _read_varint(data, pos)
            prev_p += d
            plist.append(prev_p)
        positions.append(plist)
    return doc_ids, tfs, dls, positions


def block_metadata(
    doc_ids: list[int], tfs: list[int], dls: list[int], block_size: int = BLOCK_SIZE
) -> list[tuple[int, int, int]]:
    """Per-block (last_doc, max_tf, min_dl) over BLOCK_SIZE-doc blocks."""
    out: list[tuple[int, int, int]] = []
    for start in range(0, len(doc_ids), block_size):
        end = min(start + block_size, len(doc_ids))
        out.append(
            (
                doc_ids[end - 1],
                max(tfs[start:end]),
                min(dls[start:end]),
            )
        )
    return out


# ---------------------------------------------------------------------------
# NumPy-vectorized codec (bit-identical to the pure-Python reference above;
# parity is hypothesis-tested). The build kernel encodes millions of postings
# per task — the scalar loop was the single hottest CPU path in the engine.
# ---------------------------------------------------------------------------

import numpy as np


def _varint_encode_array(values: "np.ndarray") -> "np.ndarray":
    """uint64 values -> concatenated LEB128 bytes (uint8 array)."""
    values = values.astype(np.uint64, copy=False)
    n = len(values)
    if n == 0:
        return np.empty(0, dtype=np.uint8)
    nb = np.ones(n, dtype=np.int64)
    v = values >> np.uint64(7)
    while v.any():
        nb += v > 0
        v >>= np.uint64(7)
    offs = np.concatenate(([0], np.cumsum(nb)))
    out = np.zeros(int(offs[-1]), dtype=np.uint8)
    starts = offs[:-1]
    for k in range(int(nb.max())):
        mask = nb > k
        byte = ((values[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] - 1 > k).astype(np.uint8) << 7
        out[starts[mask] + k] = byte | cont
    return out


def _varint_decode_array(data: "np.ndarray") -> "np.ndarray":
    """Concatenated LEB128 bytes -> uint64 values."""
    if len(data) == 0:
        return np.empty(0, dtype=np.uint64)
    ends = (data & 0x80) == 0
    starts = np.flatnonzero(np.concatenate(([True], ends[:-1])))
    lengths = np.diff(np.concatenate((starts, [len(data)])))
    rank = np.arange(len(data), dtype=np.uint64) - np.repeat(
        starts.astype(np.uint64), lengths
    )
    contrib = (data & 0x7F).astype(np.uint64) << (rank * np.uint64(7))
    return np.add.reduceat(contrib, starts)


def encode_postings_np(
    doc_ids,
    tfs,
    dls,
    positions,
) -> bytes:
    """Vectorized :func:`encode_postings` (identical output bytes)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    n = len(doc_ids)
    if n == 0:
        return bytes(_varint_encode_array(np.zeros(1, dtype=np.uint64)))
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    pos_counts = np.fromiter((len(p) for p in positions), dtype=np.int64, count=n)
    total_pos = int(pos_counts.sum())
    if total_pos:
        flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in positions])
        deltas = flat.copy()
        deltas[1:] -= flat[:-1]
        doc_pos_starts = np.concatenate(([0], np.cumsum(pos_counts)[:-1]))
        nz = doc_pos_starts[pos_counts > 0]
        deltas[nz] = flat[nz]
    else:
        deltas = np.empty(0, dtype=np.int64)

    gaps = doc_ids.copy()
    gaps[1:] -= doc_ids[:-1]

    values = np.concatenate(
        (
            np.array([n], dtype=np.uint64),
            gaps.astype(np.uint64),
            tfs.astype(np.uint64),
            dls.astype(np.uint64),
            pos_counts.astype(np.uint64),
            deltas.astype(np.uint64),
        )
    )
    return _varint_encode_array(values).tobytes()


def decode_postings_arrays(data: bytes):
    """Vectorized decode -> (doc_ids, tfs, dls) as int64 NumPy arrays.
    Pure slicing thanks to the SoA layout — positions (the tail of the
    blob) are never even varint-materialized as lists."""
    values = _varint_decode_array(np.frombuffer(data, dtype=np.uint8))
    n = int(values[0])
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    gaps = values[1 : 1 + n].astype(np.int64)
    tfs = values[1 + n : 1 + 2 * n].astype(np.int64)
    dls = values[1 + 2 * n : 1 + 3 * n].astype(np.int64)
    return np.cumsum(gaps), tfs, dls


def block_metadata_np(doc_ids, tfs, dls, block_size: int = BLOCK_SIZE):
    """Vectorized :func:`block_metadata` -> (last_doc, max_tf, min_dl) arrays."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n = len(doc_ids)
    starts = np.arange(0, n, block_size)
    last = np.minimum(starts + block_size, n) - 1
    return doc_ids[last], np.maximum.reduceat(tfs, starts), np.minimum.reduceat(dls, starts)


def decode_postings_full_np(data: bytes):
    """Vectorized full decode -> (doc_ids, tfs, dls, positions) where
    positions is a list of int64 arrays (per doc, absolute). The SoA layout
    lets the position deltas decode as one varint pass + a grouped cumsum:
    cumsum over the flat deltas, then subtract each group's preceding
    prefix — no per-position python."""
    values = _varint_decode_array(np.frombuffer(data, dtype=np.uint8))
    n = int(values[0])
    empty = np.empty(0, dtype=np.int64)
    if n == 0:
        return empty, empty.copy(), empty.copy(), []
    gaps = values[1 : 1 + n].astype(np.int64)
    tfs = values[1 + n : 1 + 2 * n].astype(np.int64)
    dls = values[1 + 2 * n : 1 + 3 * n].astype(np.int64)
    nposs = values[1 + 3 * n : 1 + 4 * n].astype(np.int64)
    deltas = values[1 + 4 * n :].astype(np.int64)
    flat = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(nposs)[:-1]))
    # undo the cross-group carry: subtract, from every element, the running
    # cumsum value just before its group's start
    prefix = np.where(starts > 0, flat[np.maximum(starts - 1, 0)], 0)
    corrected = flat - np.repeat(prefix, nposs)
    positions = np.split(corrected, np.cumsum(nposs)[:-1])
    return np.cumsum(gaps), tfs, dls, positions


def merge_postings(blobs: list[bytes]) -> tuple[list[int], list[int], list[int], list[list[int]]]:
    """Merge several encoded partial posting lists (disjoint doc_id sets,
    e.g. per-batch partials from the resumable build — the analog of the
    reference's ``indexJoin`` merge, ref: src/cis5550/jobs/Indexer.java:35-51)
    into one doc_id-sorted posting set."""
    all_docs: list[int] = []
    all_tfs: list[int] = []
    all_dls: list[int] = []
    all_pos: list[list[int]] = []
    for blob in blobs:
        d, t, l, p = decode_postings(blob)
        all_docs.extend(d)
        all_tfs.extend(t)
        all_dls.extend(l)
        all_pos.extend(p)
    order = sorted(range(len(all_docs)), key=all_docs.__getitem__)
    return (
        [all_docs[i] for i in order],
        [all_tfs[i] for i in order],
        [all_dls[i] for i in order],
        [all_pos[i] for i in order],
    )


def not_deleted_mask(docs: "np.ndarray", deletes: "np.ndarray") -> "np.ndarray":
    """Boolean keep-mask over a doc_id array: True where the doc is NOT in
    the SORTED ``deletes`` array (branch-free searchsorted membership; the
    query-side half of the catalog's merge-on-read delete files)."""
    if not len(deletes):
        return np.ones(len(docs), dtype=bool)
    idx = np.searchsorted(deletes, docs)
    idx_c = np.minimum(idx, len(deletes) - 1)
    return ~((idx < len(deletes)) & (deletes[idx_c] == docs))


def decode_live(data: bytes, deletes=None):
    """:func:`decode_postings_arrays` with merge-on-read deletes masked
    out: (doc_ids, tfs, dls) of the live documents only. ``deletes`` is
    the sorted int64 delete array (None or empty: nothing deleted)."""
    docs, tfs, dls = decode_postings_arrays(data)
    if deletes is not None and len(deletes):
        keep = not_deleted_mask(docs, deletes)
        if not keep.all():
            docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
    return docs, tfs, dls


def decode_live_full(data: bytes, deletes=None):
    """:func:`decode_postings_full_np` with merge-on-read deletes masked
    out: (doc_ids, tfs, dls, positions) of the live documents only."""
    docs, tfs, dls, pos = decode_postings_full_np(data)
    if deletes is not None and len(deletes):
        keep = not_deleted_mask(docs, deletes)
        if not keep.all():
            docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
            pos = [p for p, kp in zip(pos, keep) if kp]
    return docs, tfs, dls, pos
