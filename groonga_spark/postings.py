"""Posting-block encode/decode kernels — batch-vectorized numpy.

Re-expresses the reference's offline index builder [G: lib/ii.c ·
grn_ii_buffer_open/append/commit] and chunk layout [G: lib/ii.c ·
chunk_info, buffer_term]: per term, postings sorted by doc id, sliced into
fixed-size blocks, each block independently decodable (first doc id
absolute, then gaps) and carrying skip/block-max metadata.

Unlike the reference (record-at-a-time C cursor over mmap'd buffers),
these kernels process an ENTIRE shuffle partition of token rows — many
(term, salt) groups — in one numpy pass: group/doc boundaries via diff/
flatnonzero, per-block aggregates via ufunc.reduceat, and ALL four varbyte
streams of the partition encoded with a single vb_encode call, then sliced
per block by computed byte offsets. No per-row Python; the only Python
loop is per-block slicing of the output buffers.

Block row schema (BLOCK_COLUMNS): term, segment, block_id, n_docs,
min_doc_id, max_doc_id, doc_deltas, tfs, dls, positions, max_tf, min_dl,
sum_tf.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from groonga_spark.codec import BLOCK_SIZE, vb_decode, vb_encode, vb_nbytes

BLOCK_COLUMNS = [
    "term",
    "segment",
    "block_id",
    "n_docs",
    "min_doc_id",
    "max_doc_id",
    "doc_deltas",
    "tfs",
    "dls",
    "positions",
    "max_tf",
    "min_dl",
    "sum_tf",
]

BLOCK_SCHEMA = (
    "term string, segment int, block_id long, n_docs int, "
    "min_doc_id long, max_doc_id long, doc_deltas binary, tfs binary, "
    "dls binary, positions binary, max_tf int, min_dl int, sum_tf long"
)

# salt occupies the high bits of block_id so blocks of one (term, segment)
# sort by block_id == sort by doc-id range (salts are doc-contiguous).
_SALT_SHIFT = 24


def _expand_ranges(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Concatenate arange(s, s+l) for each (s, l) — vectorized."""
    total = int(lengths.sum())
    if total == 0:
        return np.empty(0, np.int64)
    rep_start = np.repeat(starts, lengths)
    within = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lengths) - lengths, lengths
    )
    return rep_start + within


def encode_partition(pdf: pd.DataFrame, segment: int,
                     uniq_terms: list[str] | None = None) -> pd.DataFrame:
    """Encode one shuffle partition of token rows into posting-block rows.

    ``pdf`` columns: salt (int), doc_id (long), pos (long), dl (long),
    plus EITHER ``term`` (str) OR ``term_code`` (int indexes into
    ``uniq_terms`` — the fast path: grouping compares ints and term
    strings are only touched once per BLOCK). MUST be sorted by
    (term[_code], salt, doc_id, pos).
    """
    n = len(pdf)
    if n == 0:
        return pd.DataFrame({c: [] for c in BLOCK_COLUMNS})

    if "term_code" in pdf.columns:
        term = pdf["term_code"].to_numpy(np.int64)
    else:
        term = pdf["term"].to_numpy()
        uniq_terms = None
    salt = pdf["salt"].to_numpy(np.int64)
    doc = pdf["doc_id"].to_numpy(np.int64)
    pos = pdf["pos"].to_numpy(np.int64)
    dl = pdf["dl"].to_numpy(np.int64)

    # --- boundaries -------------------------------------------------------
    grp_change = np.empty(n, bool)
    grp_change[0] = True
    grp_change[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    doc_change = grp_change.copy()
    doc_change[1:] |= doc[1:] != doc[:-1]

    doc_starts = np.flatnonzero(doc_change)          # token idx of each doc
    tf = np.diff(doc_starts, append=n)               # tokens per doc
    udoc = doc[doc_starts]
    udl = dl[doc_starts]
    # group index per doc
    grp_starts_tok = np.flatnonzero(grp_change)
    grp_of_doc = np.searchsorted(grp_starts_tok, doc_starts, side="right") - 1
    # doc index within its group
    grp_first_doc = np.flatnonzero(
        np.diff(grp_of_doc, prepend=grp_of_doc[0] - 1)
    )
    doc_in_grp = np.arange(len(udoc)) - np.repeat(
        grp_first_doc, np.diff(grp_first_doc, append=len(udoc))
    )

    # --- block assignment (BLOCK_SIZE docs per block within a group) ------
    blk_of_doc_local = doc_in_grp // BLOCK_SIZE
    blk_change = np.empty(len(udoc), bool)
    blk_change[0] = True
    blk_change[1:] = (grp_of_doc[1:] != grp_of_doc[:-1]) | (
        blk_of_doc_local[1:] != blk_of_doc_local[:-1]
    )
    blk_starts_doc = np.flatnonzero(blk_change)      # doc idx of block start
    n_blocks = len(blk_starts_doc)
    blk_ndocs = np.diff(blk_starts_doc, append=len(udoc))

    # --- per-block aggregates (reduceat over doc arrays) -------------------
    blk_min_doc = udoc[blk_starts_doc]
    blk_max_doc = np.maximum.reduceat(udoc, blk_starts_doc)
    blk_max_tf = np.maximum.reduceat(tf, blk_starts_doc)
    blk_min_dl = np.minimum.reduceat(udl, blk_starts_doc)
    blk_sum_tf = np.add.reduceat(tf, blk_starts_doc)
    blk_term_idx = grp_of_doc[blk_starts_doc]        # group idx per block
    blk_id = (salt[grp_starts_tok[blk_term_idx]] << _SALT_SHIFT) + (
        blk_of_doc_local[blk_starts_doc]
    )
    blk_terms = term[grp_starts_tok[blk_term_idx]]
    if uniq_terms is not None:
        # term held int codes → resolve strings once per block
        _uniq = np.asarray(uniq_terms, object)
        blk_terms = _uniq[blk_terms]

    # --- doc deltas (reset to absolute at block starts) --------------------
    deltas = np.diff(udoc, prepend=np.int64(0))
    deltas[blk_starts_doc] = udoc[blk_starts_doc]
    deltas = deltas.astype(np.uint64)

    # --- position deltas (reset to absolute at doc starts) -----------------
    pdeltas = np.diff(pos, prepend=np.int64(0))
    pdeltas[doc_starts] = pos[doc_starts]
    pdeltas = pdeltas.astype(np.uint64)

    # --- positions stream: per block [tf per doc ...][pos deltas ...] ------
    blk_ntok = np.add.reduceat(tf, blk_starts_doc)
    stream_len = blk_ndocs + blk_ntok
    stream_off = np.cumsum(stream_len) - stream_len
    pstream = np.empty(int(stream_len.sum()), np.uint64)
    # counts section: for block j, slots stream_off[j] + arange(ndocs_j)
    cnt_idx = _expand_ranges(stream_off, blk_ndocs)
    pstream[cnt_idx] = tf.astype(np.uint64)
    # deltas section: slots stream_off[j] + ndocs_j + arange(ntok_j)
    dlt_idx = _expand_ranges(stream_off + blk_ndocs, blk_ntok)
    pstream[dlt_idx] = pdeltas

    # --- one vb_encode per stream for the WHOLE partition, then slice ------
    def _slice(buf: bytes, values: np.ndarray, group_starts: np.ndarray) -> list[bytes]:
        nb = vb_nbytes(values)
        byte_end = np.cumsum(nb)
        byte_start_of_group = (byte_end - nb)[group_starts]
        bounds = np.append(byte_start_of_group, len(buf)).tolist()
        return [buf[bounds[i] : bounds[i + 1]] for i in range(len(group_starts))]

    doc_buf = vb_encode(deltas)
    tf_buf = vb_encode(tf.astype(np.uint64))
    dl_buf = vb_encode(udl.astype(np.uint64))
    pos_buf = vb_encode(pstream)

    out = pd.DataFrame(
        {
            "term": blk_terms,
            "segment": np.full(n_blocks, segment, np.int32),
            "block_id": blk_id.astype(np.int64),
            "n_docs": blk_ndocs.astype(np.int32),
            "min_doc_id": blk_min_doc.astype(np.int64),
            "max_doc_id": blk_max_doc.astype(np.int64),
            "doc_deltas": _slice(doc_buf, deltas, blk_starts_doc),
            "tfs": _slice(tf_buf, tf.astype(np.uint64), blk_starts_doc),
            "dls": _slice(dl_buf, udl.astype(np.uint64), blk_starts_doc),
            "positions": _slice(pos_buf, pstream, stream_off),
            "max_tf": blk_max_tf.astype(np.int32),
            "min_dl": blk_min_dl.astype(np.int32),
            "sum_tf": blk_sum_tf.astype(np.int64),
        }
    )
    return out


def filter_blocks(pdf: pd.DataFrame, tomb: np.ndarray) -> pd.DataFrame:
    """Rewrite block rows dropping tombstoned doc ids (compaction).

    Handles both posting blocks and "" marker rows. Blocks whose docs all
    survive pass through untouched; emptied blocks are dropped. ``tomb``
    is sorted. A maintenance kernel: only the blocks whose
    [min_doc_id, max_doc_id] holds a tombstoned id are decoded, one by
    one (not a query-path hot loop); the rest pass through in place.
    """
    from groonga_spark.codec import decode_positions, vb_encode

    hit = (np.searchsorted(tomb, pdf["min_doc_id"].to_numpy(np.int64), "left")
           < np.searchsorted(tomb, pdf["max_doc_id"].to_numpy(np.int64),
                             "right"))
    out_rows = []
    for _, row in pdf[hit].iterrows():
        nd = int(row["n_docs"])
        docs = np.cumsum(vb_decode(row["doc_deltas"]).astype(np.int64))
        keep = ~np.isin(docs, tomb, assume_unique=True)
        if keep.all():
            out_rows.append(row)
            continue
        if not keep.any():
            continue
        kd = docs[keep]
        tfs = vb_decode(row["tfs"]).astype(np.int64) if len(row["tfs"]) else np.empty(0, np.int64)
        dls = vb_decode(row["dls"]).astype(np.int64)
        is_marker = row["term"] == ""
        if is_marker:
            ktf = tfs  # markers carry no tf stream
            kdl = dls[keep]
        else:
            ktf = tfs[keep]
            kdl = dls[keep]
        deltas = np.diff(kd, prepend=np.int64(0))
        deltas[0] = kd[0]
        new = row.copy()
        new["n_docs"] = len(kd)
        new["min_doc_id"] = int(kd.min())
        new["max_doc_id"] = int(kd.max())
        new["doc_deltas"] = vb_encode(deltas.astype(np.uint64))
        new["dls"] = vb_encode(kdl.astype(np.uint64))
        if is_marker:
            new["sum_tf"] = int(kdl.sum())
            new["min_dl"] = int(kdl.min()) if len(kdl) else 0
        else:
            new["tfs"] = vb_encode(ktf.astype(np.uint64))
            new["max_tf"] = int(ktf.max())
            new["min_dl"] = int(kdl.min())
            new["sum_tf"] = int(ktf.sum())
            # positions: keep surviving docs' per-doc position runs
            counts, flat = decode_positions(row["positions"], nd)
            starts = np.cumsum(counts) - counts
            parts = [
                flat[starts[i]: starts[i] + counts[i]]
                for i in np.flatnonzero(keep).tolist()
            ]
            kcounts = counts[keep]
            kflat = (np.concatenate(parts) if parts
                     else np.empty(0, np.int64)).astype(np.int64)
            pdeltas = np.diff(kflat, prepend=np.int64(0))
            pstarts = np.cumsum(kcounts) - kcounts
            pdeltas[pstarts] = kflat[pstarts]
            # stream layout: [tf per doc ...][pos deltas ...]
            stream = np.concatenate(
                [kcounts.astype(np.uint64), pdeltas.astype(np.uint64)]
            )
            new["positions"] = vb_encode(stream)
        out_rows.append(new)
    out = (pd.concat([pdf[~hit], pd.DataFrame(out_rows)]).sort_index()
           if out_rows else pdf[~hit])
    if not len(out):
        return pd.DataFrame({c: [] for c in BLOCK_COLUMNS})
    return out[BLOCK_COLUMNS]


def decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block row → (doc_ids, tfs, dls). Test/oracle helper;
    the query kernel (wand.py) batch-decodes many blocks at once."""
    doc = np.cumsum(vb_decode(row["doc_deltas"]).astype(np.int64))
    tfs = vb_decode(row["tfs"]).astype(np.int64)
    dls = vb_decode(row["dls"]).astype(np.int64)
    return doc, tfs, dls


def decode_block_positions(row) -> list[np.ndarray]:
    """Decode one block's positions → list of per-doc position arrays."""
    from groonga_spark.codec import decode_positions

    counts, flat = decode_positions(row["positions"], int(row["n_docs"]))
    out = []
    off = 0
    for c in counts.tolist():
        out.append(flat[off : off + c])
        off += c
    return out
