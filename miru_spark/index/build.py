"""Inverted-index build pipeline (the "write side").

Spark-first re-expression of the reference's indexer
(miru-service/.../stream/MiruIndexer.java:47-126 and
MiruIndexPrimaryFields.compose, MiruIndexPrimaryFields.java:37-96 -- per
(field, term): sorted docID list + tf counts):

1. **ONE wide shuffle, everything else in-worker** -- docs hash-exchange
   once on `pid = floor(unix_micros(warc_ts) / partition_seconds*1e6)`;
   the JVM performs NO sort and materializes NO derived rows. A single
   Arrow-batched `mapInArrow` worker then: sorts its partition
   (pid, warc_ts, url) in Arrow C++ and mints dense per-pid time-ordered
   docIDs (MiruTimeIndex.nextId, miru-plugin/.../MiruTimeIndex.java:55);
   tokenizes (miru tokenizes in ingest clients,
   WikiMiruIndexService.java:401-425); inverts each doc-range block
   (`blk = doc_id // block_span`) with Arrow sort + NumPy reduceat; and
   emits BOTH forward-index doc rows AND encoded posting-block rows
   (delta-gap varint docIDs + varint tfs + varint doc lengths) into
   one union output -- the analog of miru's "atomized" Roaring
   containers keyed by 64K container (LabInvertedIndex.java:268-292,
   LabFieldIndex.java:163-171). A block row stores no per-block bounds
   (first_doc/last_doc/max_tf/min_dl are null on 'p' rows): its doc
   range is [blk * block_span, (blk + 1) * block_span), which readers
   prune by, and block-max takes its bounds from the decoded arrays.
   Tokenized text exists only inside the Python worker for the lifetime
   of one block.
2. **lineage / resume** -- per-pid lineage rows (doc_count, postings_bytes,
   wall_time_ms, status) let a restarted build skip completed partitions,
   mirroring the reference's sip-cursor checkpoint pattern
   (FullTextGatherer.java:176-252, custom key "fullText").
3. **finalize** -- global stats (N, avgdl) and per-term (df, ctf): the
   reference keeps collection term frequency at docId -1
   (LabFieldIndex.java:510-536); ours is a tiny aggregate table.

Storage is one `segments/` dir of batch-committed Parquet (zstd) holding a
union of row types -- `row_type='d'` forward/doc rows, `row_type='p'`
posting-block rows -- laid out by the worker itself (doc rows in
(pid, doc_id) order, then posting rows sorted (term, pid, blk)) so parquet
row-group min/max stats prune both the term dictionary and the docmap.
On a cluster this layout maps 1:1 onto Iceberg tables (partition transform
on pid, snapshot-per-batch commit); the sandbox has no Iceberg runtime
jars, so the parquet layout + lineage table stands in for snapshots --
append per batch, orphan cleanup before rebuild makes batches idempotent.

Scale notes (100 TB / 1000 executors):
- Document bytes cross the wire exactly ONCE (the plain pid hash
  exchange). There is no term-keyed shuffle at any point, so head-term
  (stopword) skew cannot concentrate on a reducer *by construction*: a
  head term's postings are split across doc-range blocks that live where
  their docs live. The reduce unit is the time partition (pid);
  partition_seconds (x shuffle partitions) must keep one task's slice
  buffer-sized -- the worker holds its partition's Arrow-compact text
  while minting docIDs, the same bound a JVM sort of that partition
  would need (e.g. hourly pids at crawl scale).
- Posting rows are written sorted by (term, pid, blk) -- TERM-major, so a
  query term touches ~1 row group per file and Parquet min/max stats on
  `term` prune sharply. (pid-major sorting made every row group span the
  whole vocabulary: a 2-term query read 3,263 of 4,058 row groups / 1.2 GB
  at 6M docs; term-major reads ~2% of that.) Row groups hold at most
  1,024 rows, so a rare term's point read decodes about a thousand rows,
  not the ~10k a 1 MiB group holds.
- No global sort, no global sequence, no driver-side loop over data.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analyzer import analyze, analyze_block, analyze_positions
from ..codec import encode_postings_grouped, encode_varint, encode_varint_grouped
from ..fields import doc_field_terms, extra_field_terms

DEFAULT_PARTITION_SECONDS = 86400
DEFAULT_BLOCK_SPAN = 4096

_SEGMENT_PA_SCHEMA = pa.schema(
    [
        # 'd' doc row | 'p' posting-block row | 's' per-pid stats row
        ("row_type", pa.string()),
        ("pid", pa.int64()),
        # doc rows
        ("doc_id", pa.int64()),
        ("url", pa.string()),
        ("warc_us", pa.int64()),
        ("doc_len", pa.int32()),
        # posting-block rows
        ("term", pa.string()),
        ("blk", pa.int64()),
        ("n", pa.int32()),
        ("first_doc", pa.int64()),
        ("last_doc", pa.int64()),
        ("max_tf", pa.int32()),
        ("min_dl", pa.int32()),
        ("ctf", pa.int64()),
        ("ids_bin", pa.binary()),
        ("tfs_bin", pa.binary()),
        ("dls_bin", pa.binary()),
        # positional builds only (build_index(positions=True)): per-term-
        # block varint blob of token positions, per-doc delta-gapped (first
        # position of each doc absolute), doc order == ids_bin order, per-
        # doc counts == the tfs_bin values. All-null otherwise. Powers
        # phrase queries -- a capability the reference REJECTS
        # (LuceneBackedQueryParser.java:108-110, "Unsupported query type")
        # because its index stores no positions.
        ("pos_bin", pa.binary()),
        # stats rows (one per pid, written by the worker that owns the
        # pid): lineage metrics come from these tiny rows instead of a
        # re-scan of every posting binary (the reference's per-partition
        # metrics rows; each pid lives wholly in one worker, so they are
        # exact)
        ("s_docs", pa.int64()),
        ("s_bytes", pa.int64()),
        ("s_terms", pa.int64()),
    ]
)
_SEGMENT_SCHEMA = (
    "row_type string, pid long, doc_id long, url string, warc_us long, "
    "doc_len int, term string, blk long, n int, first_doc long, "
    "last_doc long, max_tf int, min_dl int, ctf long, ids_bin binary, "
    "tfs_bin binary, dls_bin binary, pos_bin binary, s_docs long, "
    "s_bytes long, s_terms long"
)

_DOC_COLS = ["pid", "doc_id", "url", "warc_us", "doc_len"]
# the posting-blocks view: what readers of 'p' rows use (ctf feeds
# termstats); first_doc/last_doc/max_tf/min_dl are null on 'p' rows
_POSTING_COLS = [
    "pid", "term", "blk", "n", "ctf", "ids_bin", "tfs_bin", "dls_bin",
]
# time-index rows ('t'): per (pid, blk) varint blob of sorted warc_us
# (first value absolute, then non-negative deltas) -- the LabTimeIndex
# analog (LabTimeIndex.java:191-208 getClosestId): a query with a time
# range reads ONLY the two boundary pids' blobs to resolve the exact
# [lo, hi) docID interval, kernel-side, in the same job as the match.
_TIME_COLS = ["pid", "blk", "n", "first_doc", "last_doc", "ids_bin"]


@dataclass
class IndexPaths:
    root: str

    @property
    def segments(self) -> str:
        return os.path.join(self.root, "segments")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats")

    @property
    def termstats(self) -> str:
        return os.path.join(self.root, "termstats")

    @property
    def lineage(self) -> str:
        return os.path.join(self.root, "lineage")

    @property
    def removals(self) -> str:
        return os.path.join(self.root, "removals")


@dataclass
class BuildReport:
    n_docs: int = 0
    pids_built: list = field(default_factory=list)
    pids_skipped: list = field(default_factory=list)
    wall_time_s: float = 0.0


def _nulls(k: int, typ) -> pa.Array:
    return pa.nulls(k, type=typ)


def _doc_rows_batch(pid_arr, doc_ids, urls, warc_us, doc_lens) -> pa.RecordBatch:
    k = len(doc_ids)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(["d"] * k),
            pid_arr,
            doc_ids,
            # group slices are block-span-sized, far under the 32-bit
            # offset limit -- safe to narrow from the task's large_string
            urls.cast(pa.string()),
            warc_us,
            pa.array(doc_lens, type=pa.int32()),
            _nulls(k, pa.string()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int32()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int32()),
            _nulls(k, pa.int32()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.binary()),
            _nulls(k, pa.binary()),
            _nulls(k, pa.binary()),
            _nulls(k, pa.binary()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int64()),
        ],
        schema=_SEGMENT_PA_SCHEMA,
    )


def _time_rows_batch(pids, blks, ns, firsts, lasts, blobs) -> pa.RecordBatch:
    """One 't' row per (pid, blk): the block's sorted warc_us varint blob
    (absolute first value + deltas) in ids_bin."""
    k = len(pids)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(["t"] * k),
            pa.array(np.asarray(pids, dtype=np.int64)),
            _nulls(k, pa.int64()),
            _nulls(k, pa.string()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int32()),
            _nulls(k, pa.string()),
            pa.array(np.asarray(blks, dtype=np.int64)),
            pa.array(np.asarray(ns, dtype=np.int32)),
            pa.array(np.asarray(firsts, dtype=np.int64)),
            pa.array(np.asarray(lasts, dtype=np.int64)),
            _nulls(k, pa.int32()),
            _nulls(k, pa.int32()),
            _nulls(k, pa.int64()),
            pa.array(blobs, type=pa.binary()),
            _nulls(k, pa.binary()),
            _nulls(k, pa.binary()),
            _nulls(k, pa.binary()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int64()),
        ],
        schema=_SEGMENT_PA_SCHEMA,
    )


def _stats_rows_batch(pids, docs, nbytes, nterms) -> pa.RecordBatch:
    k = len(pids)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(["s"] * k),
            pa.array(np.asarray(pids, dtype=np.int64)),
            _nulls(k, pa.int64()),
            _nulls(k, pa.string()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int32()),
            _nulls(k, pa.string()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int32()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int32()),
            _nulls(k, pa.int32()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.binary()),
            _nulls(k, pa.binary()),
            _nulls(k, pa.binary()),
            _nulls(k, pa.binary()),
            pa.array(np.asarray(docs, dtype=np.int64)),
            pa.array(np.asarray(nbytes, dtype=np.int64)),
            pa.array(np.asarray(nterms, dtype=np.int64)),
        ],
        schema=_SEGMENT_PA_SCHEMA,
    )


def _block_rows_batch(
    pid: int,
    blk: int,
    doc_ids: np.ndarray,
    dls: np.ndarray,
    terms_list: list,
    tfs_list: list,
    pos_list: list | None = None,
) -> pa.RecordBatch | None:
    """Invert ONE (pid, blk) doc-range group: flatten per-doc sorted term
    lists, sort (term, doc_id) in Arrow C++, encode per-term posting runs
    with NumPy reduceat (MiruIndexPrimaryFields.compose analog -- per term:
    sorted docID list + tf counts, MiruIndexPrimaryFields.java:37-96).

    `pos_list` (positional builds): one flat int64 array per doc holding
    the token positions of every (term, occurrence), concatenated in the
    SAME sorted-term order as `terms_list[i]` (so its per-(doc, term)
    segment lengths are exactly `tfs_list[i]`)."""
    import pyarrow.compute as pc

    terms_col = pa.array(terms_list, type=pa.list_(pa.string()))
    lens = pc.list_value_length(terms_col).to_numpy().astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return None
    tf_flat = (
        np.concatenate(tfs_list).astype(np.int64)
        if tfs_list
        else np.empty(0, dtype=np.int64)
    )
    cols = {
        "term": terms_col.flatten(),
        "doc_id": pa.array(np.repeat(doc_ids, lens)),
        "tf": pa.array(tf_flat),
        "dl": pa.array(np.repeat(dls, lens)),
    }
    if pos_list is not None:
        # one list<int64> per (doc, term) row: offsets = cumsum of tf
        pos_vals = (
            np.concatenate(pos_list).astype(np.int64)
            if pos_list
            else np.empty(0, dtype=np.int64)
        )
        offs = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(tf_flat, out=offs[1:])
        cols["pos"] = pa.ListArray.from_arrays(
            pa.array(offs, type=pa.int64()).cast(pa.int32()),
            pa.array(pos_vals),
        )
    return _block_rows_from_flat(pid, blk, pa.table(cols))


def _block_rows_from_flat(
    pid: int, blk: int, flat: pa.Table
) -> pa.RecordBatch | None:
    """Encode one (pid, blk) group's posting rows from FLAT
    (term, doc_id, tf, dl[, pos]) columns -- (term, doc_id) unique per
    row, any row order (the group sort here is the only order that
    matters). Shared tail of `_block_rows_batch` (per-doc list inputs)
    and the vectorized indexer path (block-level flat inputs)."""
    import pyarrow.compute as pc

    if flat.num_rows == 0:
        return None
    pos_flat = "pos" in flat.column_names
    order = pc.sort_indices(
        flat.select(["term", "doc_id"]),
        sort_keys=[("term", "ascending"), ("doc_id", "ascending")],
    )
    flat = flat.take(order).combine_chunks()
    n = flat.num_rows
    term = flat.column("term").chunk(0)
    ids64 = flat.column("doc_id").to_numpy()
    tfs64 = flat.column("tf").to_numpy()
    dls64 = flat.column("dl").to_numpy()
    change = np.empty(n, dtype=bool)
    change[0] = True
    if n > 1:
        change[1:] = pc.not_equal(
            term.slice(1), term.slice(0, n - 1)
        ).to_numpy(zero_copy_only=False)
    starts = np.flatnonzero(change)
    ends = np.empty_like(starts)
    ends[:-1] = starts[1:]
    ends[-1] = n
    k = len(starts)
    if pos_flat:
        # flatten positions in sorted row order; delta-gap with a reset
        # (absolute value) at each (doc, term) row start; one blob per
        # term run, sliced at position-space run boundaries
        parr = flat.column("pos").chunk(0)
        pvals = parr.flatten().to_numpy().astype(np.int64, copy=True)
        row_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(tfs64, out=row_off[1:])
        if pvals.size:
            gaps = pvals.copy()
            gaps[1:] -= pvals[:-1]
            rs = row_off[:-1]
            gaps[rs] = pvals[rs]
            pos_blobs = encode_varint_grouped(
                gaps, row_off[starts], row_off[ends]
            )
        else:
            pos_blobs = [b""] * k
        pos_col = pa.array(pos_blobs, type=pa.binary())
    else:
        pos_col = _nulls(k, pa.binary())
    return pa.RecordBatch.from_arrays(
        [
            pa.array(["p"] * k),
            pa.array(np.full(k, pid, dtype=np.int64)),
            _nulls(k, pa.int64()),
            _nulls(k, pa.string()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int32()),
            pc.take(term, pa.array(starts)),
            pa.array(np.full(k, blk, dtype=np.int64)),
            pa.array((ends - starts).astype(np.int32)),
            # first_doc, last_doc, max_tf, min_dl: null on 'p' rows --
            # readers bound a block by blk * block_span and block-max
            # derives its bounds from the decoded arrays
            _nulls(k, pa.int64()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int32()),
            _nulls(k, pa.int32()),
            pa.array(np.add.reduceat(tfs64, starts)),
            pa.array(
                encode_postings_grouped(ids64, starts, ends), type=pa.binary()
            ),
            pa.array(
                encode_varint_grouped(tfs64, starts, ends), type=pa.binary()
            ),
            pa.array(
                encode_varint_grouped(dls64, starts, ends), type=pa.binary()
            ),
            pos_col,
            _nulls(k, pa.int64()),
            _nulls(k, pa.int64()),
            _nulls(k, pa.int64()),
        ],
        schema=_SEGMENT_PA_SCHEMA,
    )


def _invert_group_flat(
    pid: int,
    blk: int,
    did_slice: np.ndarray,
    texts: list,
    langs: list,
    urls_g: list,
    azs: list,
    flds: list,
    extra_fields: list[str] | None,
):
    """Invert one (pid, blk) doc-range group without per-token Python:
    docs are batched per locale through `analyze_block` (Arrow
    dictionary-encode -> unique-only stop/stem -> NumPy id mapping),
    per-(doc, term) tf counting is ONE np.unique over packed
    (doc, term-id) keys, and composed field terms (tf=1, filter-only)
    join the same flat row space. Output rows are (term, doc_id) unique
    in any order -- `_block_rows_from_flat` owns the canonical group
    sort, so the result is bit-identical to the per-doc `analyze` path
    (pinned by tests/test_build_vectorized.py).

    Returns (posting RecordBatch | None, per-doc kept-token counts) --
    doc_len counts TEXT tokens only, field terms never shift BM25
    length norms."""
    import pyarrow.compute as pc

    ng = len(texts)
    text_is_arrow = isinstance(texts, (pa.Array, pa.ChunkedArray))
    dl_doc = np.zeros(ng, dtype=np.int64)
    by_loc: dict = {}
    for i, lg in enumerate(langs):
        by_loc.setdefault(lg, []).append(i)

    term_chunks: list = []
    doc_chunks: list = []
    tf_chunks: list = []
    for lg, idx_list in by_loc.items():
        idx = np.asarray(idx_list, dtype=np.int64)
        if text_is_arrow:
            # keep the doc text Arrow end-to-end: analyze_block's ASCII
            # fast path never materializes per-doc Python strings
            sub = texts if len(idx_list) == ng else texts.take(pa.array(idx))
        else:
            sub = [texts[i] for i in idx_list]
        d_i, t_ids, t_dict, dls_grp = analyze_block(sub, lg)
        dl_doc[idx] = dls_grp
        if not len(t_ids):
            continue
        # per-(doc, term) tf: one sort-based unique over packed keys
        v = len(t_dict)
        key = d_i * v + t_ids
        uniq, tf = np.unique(key, return_counts=True)
        term_chunks.append(
            pc.take(t_dict, pa.array((uniq % v).astype(np.int64)))
        )
        doc_chunks.append(did_slice[idx[uniq // v]])
        tf_chunks.append(tf.astype(np.int64))

    # composed field terms (lang/site/doclen/authz + schema-declared
    # extras): tiny per-doc lists, tf=1 each
    ft_terms: list = []
    ft_docs: list = []
    for i in range(ng):
        fts = doc_field_terms(urls_g[i], langs[i], int(dl_doc[i]), azs[i])
        if extra_fields:
            fts += extra_field_terms(flds[i], extra_fields)
        ft_terms.extend(fts)
        ft_docs.extend([i] * len(fts))
    if ft_terms:
        term_chunks.append(pa.array(ft_terms, type=pa.string()))
        doc_chunks.append(did_slice[np.asarray(ft_docs, dtype=np.int64)])
        tf_chunks.append(np.ones(len(ft_terms), dtype=np.int64))

    dl_list = dl_doc.tolist()
    if not term_chunks:
        return None, dl_list
    doc64 = np.concatenate(doc_chunks)
    flat = pa.table(
        {
            "term": pa.concat_arrays(
                [c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c
                 for c in term_chunks]
            ),
            "doc_id": pa.array(doc64),
            "tf": pa.array(np.concatenate(tf_chunks)),
            "dl": pa.array(dl_doc[np.searchsorted(did_slice, doc64)]),
        }
    )
    return _block_rows_from_flat(pid, blk, flat), dl_list


def _make_indexer(
    block_span: int,
    positions: bool = False,
    extra_fields: list[str] | None = None,
):
    """mapInArrow worker over raw doc rows (pid, url, warc_us, lang, text)
    hash-co-located by pid (a plain exchange -- no JVM sort anywhere):

    1. buffer the task's shuffle partition, sort (pid, warc_us, url) in
       Arrow C++, and mint dense per-pid docIDs (MiruTimeIndex.nextId
       analog: docs get time-ordered ids within their partition,
       miru-plugin/.../MiruTimeIndex.java:55)
    2. per (pid, blk = doc_id // block_span) doc-range group: tokenize,
       emit forward doc rows, invert + encode posting-block rows
    3. emit all posting-block rows sorted (term, pid, blk) so the parquet
       writer lays them down term-major with no JVM-side sort.

    Worker memory is the task's shuffle partition (Arrow-compact text) --
    the same bound a JVM-side sort of that partition would need; sizing
    partition_seconds x shuffle partitions keeps it task-sized at crawl
    scale."""
    from collections import Counter

    extra_fields = list(extra_fields or [])

    def indexer(batches):
        import pyarrow.compute as pc

        got = [b for b in batches if b.num_rows]
        if not got:
            return
        tbl = pa.Table.from_batches(got)
        del got
        if tbl.column("pid").null_count:
            # a null warc_ts mints no time partition, and docIDs are
            # minted per (pid, warc_us) -- fail loudly instead of
            # producing an undefined 'null pid' segment (miru activities
            # always carry a timestamp). sip_build(late='skip') drops
            # and counts such rows before they reach the build.
            raise ValueError(
                "webtext rows with null warc_ts cannot be indexed; "
                "drop or timestamp them first"
            )
        # 64-bit offsets for the variable-width columns: a task slice whose
        # text (or url) bytes exceed 2 GiB would overflow 32-bit string
        # offsets at combine_chunks() time (ArrowCapacityError). Remaining
        # per-task bound: the Arrow-compact slice itself must fit in worker
        # memory -- partition_seconds x n_shuffle sizing, documented above.
        tbl = tbl.cast(
            pa.schema(
                [
                    pa.field(
                        f.name,
                        pa.large_string()
                        if pa.types.is_string(f.type)
                        else f.type,
                    )
                    for f in tbl.schema
                ]
            )
        )
        order = pc.sort_indices(
            tbl.select(["pid", "warc_us", "url"]),
            sort_keys=[
                ("pid", "ascending"),
                ("warc_us", "ascending"),
                ("url", "ascending"),
            ],
        )
        tbl = tbl.take(order).combine_chunks()
        n = tbl.num_rows
        pid_np = tbl.column("pid").to_numpy()
        # dense per-pid docIDs off the sorted order
        idx = np.arange(n, dtype=np.int64)
        newpid = np.empty(n, dtype=bool)
        newpid[0] = True
        newpid[1:] = pid_np[1:] != pid_np[:-1]
        run_start = np.maximum.accumulate(np.where(newpid, idx, 0))
        did_np = idx - run_start
        blk_np = did_np // block_span

        pid_arr = tbl.column("pid").chunk(0)
        url_arr = tbl.column("url").chunk(0)
        warc_arr = tbl.column("warc_us").chunk(0)
        warc_np = warc_arr.to_numpy()
        did_arr = pa.array(did_np)

        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = newpid[1:] | (blk_np[1:] != blk_np[:-1])
        g_starts = np.flatnonzero(change)
        g_ends = np.empty_like(g_starts)
        g_ends[:-1] = g_starts[1:]
        g_ends[-1] = n

        block_batches: list = []
        t_pids: list = []
        t_blks: list = []
        t_ns: list = []
        t_firsts: list = []
        t_lasts: list = []
        t_blobs: list = []
        for s, e in zip(g_starts, g_ends):
            s, e = int(s), int(e)
            # time-index blob for this (pid, blk): warc_us is sorted
            # ascending within the pid run, encode first value + deltas
            w = warc_np[s:e]
            gaps = np.empty_like(w)
            gaps[0] = w[0]
            np.subtract(w[1:], w[:-1], out=gaps[1:])
            t_pids.append(int(pid_np[s]))
            t_blks.append(int(blk_np[s]))
            t_ns.append(e - s)
            t_firsts.append(int(did_np[s]))
            t_lasts.append(int(did_np[e - 1]))
            t_blobs.append(encode_varint(gaps))
            # text stays an Arrow slice on the vectorized path (the
            # positional per-doc path below needs Python strings)
            text_sl = tbl.column("text").chunk(0).slice(s, e - s)
            texts = text_sl.to_pylist() if positions else text_sl
            langs = tbl.column("lang").chunk(0).slice(s, e - s).to_pylist()
            urls_g = url_arr.slice(s, e - s).to_pylist()
            azs = tbl.column("authz").chunk(0).slice(s, e - s).to_pylist()
            # schema-declared extra fields (MiruSchema analog): per-doc
            # field->values maps, composed into the same posting space
            flds = (
                tbl.column("fields").chunk(0).slice(s, e - s).to_pylist()
                if extra_fields
                else [None] * (e - s)
            )
            if positions:
                terms_col: list = []
                tfs_col: list = []
                dl_col: list = []
                pos_col: list = []
                for text, lang, url, az, fm in zip(
                    texts, langs, urls_g, azs, flds
                ):
                    # positional build: group each token's stream
                    # positions (pre-stop-removal indices, Lucene
                    # position-increment semantics) under its term
                    toks, poss = analyze_positions(text, lang)
                    grouped: dict = {}
                    for t, p in zip(toks, poss):
                        grouped.setdefault(t, []).append(p)
                    dl_col.append(len(toks))
                    fts = doc_field_terms(url, lang, len(toks), az)
                    if extra_fields:
                        fts += extra_field_terms(fm, extra_fields)
                    for t in fts:
                        # composed field terms are filter-only: tf=1 and
                        # a placeholder position keeps the invariant
                        # len(positions) == tf for uniform decode
                        grouped[t] = [0]
                    items = sorted(grouped.items())
                    terms_col.append([t for t, _ in items])
                    tfs_col.append(
                        np.fromiter(
                            (len(ps) for _, ps in items),
                            dtype=np.int64,
                            count=len(items),
                        )
                    )
                    pos_col.append(
                        np.fromiter(
                            (p for _, ps in items for p in ps),
                            dtype=np.int64,
                        )
                        if items
                        else np.empty(0, dtype=np.int64)
                    )
                out = _block_rows_batch(
                    int(pid_np[s]),
                    int(blk_np[s]),
                    did_np[s:e],
                    np.asarray(dl_col, dtype=np.int64),
                    terms_col,
                    tfs_col,
                    pos_col,
                )
            else:
                out, dl_col = _invert_group_flat(
                    int(pid_np[s]),
                    int(blk_np[s]),
                    did_np[s:e],
                    texts,
                    langs,
                    urls_g,
                    azs,
                    flds,
                    extra_fields,
                )
            yield _doc_rows_batch(
                pid_arr.slice(s, e - s),
                did_arr.slice(s, e - s),
                url_arr.slice(s, e - s),
                warc_arr.slice(s, e - s),
                dl_col,
            )
            if out is not None:
                block_batches.append(out)

        if t_pids:
            yield _time_rows_batch(
                t_pids, t_blks, t_ns, t_firsts, t_lasts, t_blobs
            )

        # per-pid doc counts straight from the minted run boundaries
        pid_runs = np.flatnonzero(newpid)
        run_pids = pid_np[pid_runs]
        run_docs = np.diff(np.append(pid_runs, n))
        doc_counts = dict(zip(run_pids.tolist(), run_docs.tolist()))

        # Release the raw text/url buffers before materializing the sorted
        # posting table: peak task memory becomes max(input slice, encoded
        # blocks) rather than their sum. (pid_np et al. are zero-copy views
        # of single fixed-width columns and pin only those buffers.)
        del tbl, pid_arr, url_arr, warc_arr

        stat_bytes: dict = {}
        stat_terms: dict = {}
        if block_batches:
            btbl = pa.Table.from_batches(block_batches).combine_chunks()
            # TERM-major layout: a query term then touches ~1 row group
            # per file and the footer catalog's term min/max prunes
            # sharply (pid-major made every row group span the whole
            # vocabulary -- near-zero pruning)
            border = pc.sort_indices(
                btbl.select(["term", "pid", "blk"]),
                sort_keys=[
                    ("term", "ascending"),
                    ("pid", "ascending"),
                    ("blk", "ascending"),
                ],
            )
            btbl = btbl.take(border).combine_chunks()
            yield from btbl.to_batches(max_chunksize=65536)

            # per-pid stats off the block rows (this worker owns every
            # block of its pids, so these are exact): bytes = sum of
            # encoded posting binaries, terms = count of (term, pid) runs
            bn = btbl.num_rows
            bpid = btbl.column("pid").to_numpy()
            sizes = (
                pc.binary_length(btbl.column("ids_bin")).to_numpy()
                + pc.binary_length(btbl.column("tfs_bin")).to_numpy()
                + pc.binary_length(btbl.column("dls_bin")).to_numpy()
            ).astype(np.int64)
            term_arr = btbl.column("term").chunk(0)
            bnewpid = np.empty(bn, dtype=bool)
            bnewpid[0] = True
            bnewpid[1:] = bpid[1:] != bpid[:-1]
            newterm = np.empty(bn, dtype=bool)
            newterm[0] = True
            newterm[1:] = pc.not_equal(
                term_arr.slice(1), term_arr.slice(0, bn - 1)
            ).to_numpy(zero_copy_only=False)
            # rows sorted (term, pid, blk): each (term, pid) pair is one
            # contiguous run starting where term OR pid changes
            run_start = bnewpid | newterm
            uniq, inv = np.unique(bpid, return_inverse=True)
            run_counts = np.bincount(inv[run_start], minlength=len(uniq))
            byte_sums = np.zeros(len(uniq), dtype=np.int64)
            np.add.at(byte_sums, inv, sizes)
            for p_, tc_, bs_ in zip(
                uniq.tolist(), run_counts.tolist(), byte_sums.tolist()
            ):
                stat_terms[int(p_)] = int(tc_)
                stat_bytes[int(p_)] = int(bs_)

        spids = sorted(doc_counts)
        yield _stats_rows_batch(
            spids,
            [doc_counts[p] for p in spids],
            [stat_bytes.get(p, 0) for p in spids],
            [stat_terms.get(p, 0) for p in spids],
        )

    return indexer


def _with_pid(webtext: DataFrame, partition_seconds: int) -> DataFrame:
    psec_us = int(partition_seconds) * 1_000_000
    return webtext.withColumn("warc_us", F.unix_micros("warc_ts")).withColumn(
        "pid", F.floor(F.col("warc_us") / F.lit(psec_us))
    )


def _read_done_pids(spark: SparkSession, paths: IndexPaths) -> set[int]:
    _recover_lineage(paths)
    if not os.path.exists(paths.lineage):
        return set()
    rows = (
        spark.read.parquet(paths.lineage)
        .filter(F.col("status") == "complete")
        .select("pid")
        .distinct()
        .collect()
    )
    return {r["pid"] for r in rows}


def _read_parquet_dir(
    spark: SparkSession, base: str, tags: list[str] | None = None
) -> DataFrame:
    """Read a batch-subdir table. Subdirs are commit units (`b_<tag>/`),
    committed by atomic rename -- the local-fs stand-in for an Iceberg
    snapshot commit. With `tags`, read exactly those commit units (the
    snapshot-pinned read path)."""
    if tags is not None:
        dirs = [os.path.join(base, f"b_{t}") for t in tags]
        return spark.read.parquet(*dirs)
    return spark.read.option("recursiveFileLookup", "true").parquet(base)


def _tags_as_of(
    spark: SparkSession, paths: IndexPaths, as_of: str
) -> list[str]:
    """Committed batch tags forming snapshot `as_of` (inclusive). Tags
    are `{epoch:04d}_{suffix}` so lexicographic order == commit order;
    `as_of` may be a full tag or just its 4-digit epoch prefix. Raises
    if the snapshot is empty or was partially vacuumed (a reopened pid
    physically deletes its old batch dir -- the Iceberg analog of
    reading an expired snapshot after vacuum)."""
    valid = sorted(_valid_tags(spark, paths))
    # an epoch prefix means "everything committed through that epoch"
    cutoff = as_of if "_" in as_of else as_of + "_￿"
    tags = [t for t in valid if t <= cutoff]
    # expired-snapshot check FIRST: a vacuumed tag the cutoff spans is
    # only fatal when its replacement (the merged unit) lies PAST the
    # cutoff -- at/after it, the data is covered by the replacement
    gone = [
        t for t, repl in _vacuumed_tags(paths).items()
        if t <= cutoff and (repl is None or repl > cutoff)
    ]
    if gone:
        raise ValueError(
            f"snapshot {as_of!r} unreadable: commit units {gone} were "
            f"merged or vacuumed by maintenance (expired snapshot -- "
            f"read the current index, or a later as_of)"
        )
    if not tags:
        raise ValueError(
            f"no committed snapshot at or before {as_of!r}; "
            f"committed tags: {valid}"
        )
    missing = [
        t for t in tags
        if not os.path.isdir(os.path.join(paths.segments, f"b_{t}"))
    ]
    if missing:
        raise ValueError(
            f"snapshot {as_of!r} unreadable: batch dirs {missing} were "
            f"vacuumed (reopen_pids deletes replaced commit units)"
        )
    return tags


def read_docmap(
    spark: SparkSession, paths: IndexPaths, as_of: str | None = None
) -> DataFrame:
    """Forward-index view: one row per doc (MiruActivityIndex analog).
    row_type + column pruning reach the parquet scan, so docmap reads
    never touch posting binaries. `as_of` pins the read to a committed
    snapshot tag (time travel over the batch-commit log)."""
    tags = _tags_as_of(spark, paths, as_of) if as_of is not None else None
    return (
        _read_parquet_dir(spark, paths.segments, tags)
        .filter(F.col("row_type") == "d")
        .select(*_DOC_COLS)
    )


def read_postings(
    spark: SparkSession,
    paths: IndexPaths,
    as_of: str | None = None,
    positions: bool = False,
) -> DataFrame:
    """Posting-blocks view: one row per (pid, term, blk). Rows are stored
    sorted by (term, pid, blk) -- term-major -- so term predicates prune
    at parquet row-group granularity. `positions=True` additionally
    carries the per-occurrence position blobs (positional indexes only;
    all-null otherwise) -- phrase queries fetch through this view."""
    tags = _tags_as_of(spark, paths, as_of) if as_of is not None else None
    cols = _POSTING_COLS + ["pos_bin"] if positions else _POSTING_COLS
    return (
        _read_parquet_dir(spark, paths.segments, tags)
        .filter(F.col("row_type") == "p")
        .select(*cols)
    )


def read_timeindex(
    spark: SparkSession, paths: IndexPaths, as_of: str | None = None
) -> DataFrame:
    """Time-index view: one row per (pid, blk) with the block's sorted
    warc_us varint blob. Read only for boundary pids of a time-ranged
    query (LabTimeIndex.getClosestId analog)."""
    tags = _tags_as_of(spark, paths, as_of) if as_of is not None else None
    return (
        _read_parquet_dir(spark, paths.segments, tags)
        .filter(F.col("row_type") == "t")
        .select(*_TIME_COLS)
    )


def read_lineage(spark: SparkSession, index_dir: str) -> DataFrame:
    """The metrics table: one row per (pid, commit) with doc_count,
    postings_bytes, n_terms, wall_time_ms, status, batch_tag -- the
    per-partition lineage rows the build writes at every commit
    (MiruPartitionState bookkeeping analog; north-star 'lineage rows
    written to a metrics table')."""
    paths = index_dir if isinstance(index_dir, IndexPaths) else IndexPaths(index_dir)
    _recover_lineage(paths)
    return spark.read.parquet(paths.lineage)


def snapshots(spark: SparkSession, index_dir: str) -> DataFrame:
    """Snapshot log: one row per committed batch tag, in commit order,
    with its pid count / doc count / postings bytes / wall time -- the
    Iceberg `snapshots` metadata-table analog over the batch-commit
    dirs. Any `batch_tag` (or its 4-digit epoch prefix) is a valid
    `as_of` for the readers and SearchEngine."""
    return (
        read_lineage(spark, index_dir)
        .filter(F.col("status") == "complete")
        .groupBy("batch_tag")
        .agg(
            F.count("*").cast("long").alias("n_pids"),
            F.sum("doc_count").cast("long").alias("doc_count"),
            F.sum("postings_bytes").cast("long").alias("postings_bytes"),
            F.max("wall_time_ms").cast("long").alias("wall_time_ms"),
        )
        .orderBy("batch_tag")
    )


def _epoch_str(e: int) -> str:
    """Order-safe commit epoch: 4-digit zero-pad through 9999, then an
    'A'-prefixed 8-digit form. 'A' > '9' in ASCII, so lexicographic tag
    order stays commit order across the rollover, and the 9-char A-form
    can never collide with a 4-digit tag. Without this, epoch 10000's
    5-digit head would sort BEFORE '0999' and silently corrupt every
    as_of cutoff -- at sip cadence (one commit unit per micro-batch)
    9999 lifetime commits is weeks, not forever."""
    if e <= 9999:
        return f"{e:04d}"
    if e > 99_999_999:
        raise ValueError(f"commit-epoch space exhausted: {e}")
    return f"A{e:08d}"


def _epoch_of(head: str) -> int | None:
    """Inverse of _epoch_str for either form; None for foreign names."""
    if head.startswith("A") and head[1:].isdigit():
        return int(head[1:])
    return int(head) if head.isdigit() else None


def _record_vacuumed(paths: IndexPaths, tags, replacement=None) -> None:
    """Record physically-deleted commit tags in <root>/vacuumed.json
    (atomic rename) as {tag: replacement_tag_or_None} so an `as_of` read
    that would MISS their data fails loudly instead of silently
    returning a PARTIAL corpus. Compaction passes the merged unit's tag
    as `replacement` (a cutoff at/after it still covers the data);
    reopen_pids passes None (the data is gone until re-indexed, so every
    spanning snapshot is expired). Without this ledger, a tiered
    compaction moves merged units' rows under a higher-epoch tag and an
    old cutoff resolves to only the kept units -- every dir it names
    exists, nothing raises, and queries quietly miss data. The Iceberg
    expire-snapshots analog."""
    if not tags:
        return
    p = os.path.join(paths.root, "vacuumed.json")
    cur: dict = {}
    if os.path.exists(p):
        with open(p) as f:
            cur = json.load(f)
    for t in tags:
        cur[t] = replacement
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cur, f)
    os.replace(tmp, p)


def _vacuumed_tags(paths: IndexPaths) -> dict:
    p = os.path.join(paths.root, "vacuumed.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _recover_lineage(paths: IndexPaths) -> None:
    """Finish or roll back a crashed `_swap_lineage`. Every crash point
    of the swap leaves a recoverable state: `.next` complete but not yet
    renamed -> roll forward; old table renamed aside but new one not in
    place -> the `.next` rename above covers it (and `.old` is the
    fallback); stale `.next`/`.old` beside a live table -> delete."""
    nxt, old = paths.lineage + ".next", paths.lineage + ".old"
    if not os.path.exists(paths.lineage):
        if os.path.exists(nxt):
            os.rename(nxt, paths.lineage)
        elif os.path.exists(old):
            os.rename(old, paths.lineage)
        return
    for d in (nxt, old):
        if os.path.exists(d):
            shutil.rmtree(d)


def _swap_lineage(spark: SparkSession, paths: IndexPaths, rows, schema) -> None:
    """Crash-safe lineage replacement (used by compaction / reopen_pids):
    write the new table BESIDE the live one, then swap via two renames.
    A bare rmtree+rewrite has a window where lineage does not exist at
    all -- after which `_cleanup_orphans` would see zero valid tags and
    delete EVERY segment unit. With the swap, `_recover_lineage` can
    roll every crash point forward or back."""
    nxt = paths.lineage + ".next"
    if os.path.exists(nxt):
        shutil.rmtree(nxt)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(nxt)
    old = paths.lineage + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(paths.lineage, old)
    os.rename(nxt, paths.lineage)
    shutil.rmtree(old)


def _valid_tags(spark: SparkSession, paths: IndexPaths) -> set[str]:
    _recover_lineage(paths)
    if not os.path.exists(paths.lineage):
        return set()
    return {
        r["batch_tag"]
        for r in spark.read.parquet(paths.lineage)
        .filter(F.col("status") == "complete")
        .select("batch_tag")
        .distinct()
        .collect()
    }


def _cleanup_orphans(spark: SparkSession, paths: IndexPaths) -> None:
    """Remove batch dirs not committed to lineage (crash between rename
    and lineage write) and stray _tmp_ write dirs. Idempotent restart --
    the Iceberg-snapshot rollback analog."""
    valid = _valid_tags(spark, paths)
    base = paths.segments
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        full = os.path.join(base, d)
        if d.startswith("_tmp_"):
            shutil.rmtree(full, ignore_errors=True)
        elif d.startswith("b_") and d[2:] not in valid:
            shutil.rmtree(full, ignore_errors=True)


def _commit_write(df: DataFrame, base: str, tag: str, sort_cols: list[str]) -> None:
    """Write df sorted by sort_cols to base/_tmp_<tag>, then atomically
    rename to base/b_<tag>. One parquet writer per task (no dynamic
    partitioning fan-out), rows sorted so row-group min/max stats prune
    row_type/pid/term predicates at read time."""
    tmp = os.path.join(base, f"_tmp_{tag}")
    final = os.path.join(base, f"b_{tag}")
    if os.path.exists(final):
        shutil.rmtree(final)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    # small row groups (at most 1 MiB and 1,024 rows, vs the 128 MiB
    # default): rows are sorted term-major, so narrow row groups give the
    # min/max stats real selectivity -- a 2-term query prunes to the few
    # groups holding those terms instead of decompressing whole files.
    # This is what makes point reads (serving-node query path, winner
    # gather) proportional to the query's postings, not to segment size,
    # and it holds at 100 TB because pruning is per row group, independent
    # of file count. The row cap is what bounds a rare term's read: the
    # byte cap alone lets a group of small posting rows reach ~10k rows.
    df.write.mode("overwrite").option(
        "parquet.block.size", str(1 << 20)
    ).option("parquet.block.row.count.limit", "1024").parquet(tmp)
    os.rename(tmp, final)


def build_index(
    spark: SparkSession,
    webtext: DataFrame,
    index_dir: str,
    partition_seconds: int = DEFAULT_PARTITION_SECONDS,
    block_span: int = DEFAULT_BLOCK_SPAN,
    batch_partitions: int | None = None,
    resume: bool = True,
    finalize: bool = True,
    shuffle_partitions: int | None = None,
    positions: bool | None = None,
    extra_fields: list[str] | None = None,
    _fail_after_batches: int | None = None,
) -> BuildReport:
    """Build (or resume) the inverted index for a webtext DataFrame.

    `extra_fields` declares additional schema fields (the MiruSchema
    analog: MiruFieldDefinition lists arbitrary per-activity multi-term
    fields, miru-api/.../schema/MiruSchema.java): each named field is
    read from the input's `fields` map column (field -> array<string>)
    and indexed as composed filter-only terms alongside lang/site/
    doclen/authz. None (default) inherits the existing index's
    declaration on resume, else no extra fields.

    `positions=True` additionally stores per-occurrence token positions
    (pos_bin blobs), enabling phrase queries -- a capability beyond the
    reference, which rejects PhraseQuery (LuceneBackedQueryParser.java:
    108-110). Costs roughly the corpus token count in extra varint bytes.
    None (default) inherits the existing index's setting on resume, else
    False.

    `_fail_after_batches` is a test hook simulating a mid-build crash.
    """
    t0 = time.time()
    # the build's wide shuffle benefits from AQE (skew/coalesce); a prior
    # SearchEngine in this session may have turned it off for query latency.
    # Save/restore so the build doesn't silently flip session-global state
    # under an engine created earlier (its queries assume AQE off).
    try:
        _prior_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        _prior_aqe = None
    try:
        return _build_index_inner(
            spark, webtext, index_dir, partition_seconds, block_span,
            batch_partitions, resume, finalize, shuffle_partitions,
            positions, extra_fields, _fail_after_batches, t0,
        )
    finally:
        if _prior_aqe is not None:
            try:
                spark.conf.set("spark.sql.adaptive.enabled", _prior_aqe)
            except Exception:
                pass


def _build_index_inner(
    spark: SparkSession,
    webtext: DataFrame,
    index_dir: str,
    partition_seconds: int,
    block_span: int,
    batch_partitions: int | None,
    resume: bool,
    finalize: bool,
    shuffle_partitions: int | None,
    positions: bool | None,
    extra_fields: list[str] | None,
    _fail_after_batches: int | None,
    t0: float,
) -> BuildReport:
    import json

    paths = IndexPaths(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    report = BuildReport()

    if not resume and os.path.exists(paths.lineage):
        shutil.rmtree(paths.lineage)

    meta_path = os.path.join(index_dir, "meta.json")
    if positions is None or extra_fields is None:
        # inherit from an existing index (sip/resume appends must keep
        # one consistent posting format); fresh builds default off
        old_meta = {}
        if resume and os.path.exists(meta_path):
            with open(meta_path) as f:
                old_meta = json.load(f)
        if positions is None:
            positions = bool(old_meta.get("positions", False))
        if extra_fields is None:
            extra_fields = list(old_meta.get("extra_fields", []))
    extra_fields = sorted(set(extra_fields))
    meta = {
        "partition_seconds": int(partition_seconds),
        "block_span": int(block_span),
        "field": "text",
        # format 2: segments carry 't' time-index rows, so engines can
        # resolve time-range docID bounds kernel-side (no driver job)
        # format 3: composed metadata field terms (fields.py) in the
        # posting space -- field:value and numeric range queries;
        # `authz` is the per-label access field (MiruActivity.authz)
        # populated when the input carries an authz array column
        "format": 3,
        "fields": ["lang", "site", "doclen", "authz"],
        # schema-declared extra fields (MiruSchema analog), read from the
        # input's `fields` map column and composed like the base four
        "extra_fields": extra_fields,
        "positions": bool(positions),
    }
    # maintenance-owned meta keys (set_retention) ride along on RESUMED
    # builds: they are not build parameters, so they neither participate
    # in the resume-consistency check nor get dropped by the rewrite. A
    # fresh rebuild (resume=False) discards the old index, so inheriting
    # its watermark would silently hide (then reclaim) backfilled docs
    # older than a cutoff that belonged to a discarded index.
    _MAINT_KEYS = ("retention_min_us",)
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            old = json.load(f)
        for k in _MAINT_KEYS:
            if k in old:
                if resume:
                    meta[k] = old.pop(k)
                else:
                    old.pop(k)
        # indexes written before the positions capability lack the key;
        # they are positions=False by construction
        old.setdefault("positions", False)
        old.setdefault("extra_fields", [])
        if resume and old != {k: v for k, v in meta.items()
                              if k not in _MAINT_KEYS}:
            raise ValueError(
                f"index meta mismatch: existing {old} vs requested {meta}"
            )
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    # optional access labels: absent -> typed-null column so the indexer
    # sees one stable input schema (MiruActivity.authz is likewise
    # nullable, miru-api/.../activity/MiruActivity.java:38)
    if "authz" not in webtext.columns:
        webtext = webtext.withColumn(
            "authz", F.lit(None).cast("array<string>")
        )
    # likewise the schema-field map: typed-null when absent so the
    # indexer sees one stable input schema
    if "fields" not in webtext.columns:
        webtext = webtext.withColumn(
            "fields", F.lit(None).cast("map<string,array<string>>")
        )
    pid_df = _with_pid(webtext, partition_seconds)
    n_shuffle = int(
        shuffle_partitions
        or spark.conf.get("spark.sql.shuffle.partitions")
    )

    done = _read_done_pids(spark, paths) if resume else set()
    if batch_partitions is None:
        # fast path (the normal full-build / sip-batch shape): ONE commit
        # batch covering every not-yet-done pid. No upfront pid-enumeration
        # scan of the corpus -- the per-pid lineage rows come out of the
        # post-commit metrics read instead.
        batches: list = [None]
        report.pids_skipped = sorted(done)
    else:
        # batched path (bounded-commit builds / crash tests): enumerate
        # pids with one narrow scan of the pre-window frame, then commit
        # `batch_partitions` pids at a time.
        pid_rows = [
            r["pid"] for r in pid_df.select("pid").distinct().collect()
        ]
        if any(p is None for p in pid_rows):
            raise ValueError(
                "webtext rows with null warc_ts cannot be indexed; "
                "drop or timestamp them first"
            )
        all_pids = sorted(pid_rows)
        todo = [p for p in all_pids if p not in done]
        report.pids_skipped = [p for p in all_pids if p in done]
        if not todo:
            if finalize:
                finalize_index(spark, index_dir)
            report.wall_time_s = time.time() - t0
            return report
        nbatch = batch_partitions
        batches = [todo[i : i + nbatch] for i in range(0, len(todo), nbatch)]

    _cleanup_orphans(spark, paths)
    # commit tags must be unique across builds appending to the same index
    # (sip batches, resumed runs, post-reopen repairs): continue from the
    # highest batch number ever committed, never reusing one even after
    # reopen_pids deleted intermediate batches
    epoch = 0
    for existing in _valid_tags(spark, paths) | (
        {
            d[2:]
            for d in os.listdir(paths.segments)
            if d.startswith("b_")
        }
        if os.path.isdir(paths.segments)
        else set()
    ):
        e = _epoch_of(existing.split("_", 1)[0])
        if e is not None:
            epoch = max(epoch, e + 1)

    for bi, batch_pids in enumerate(batches):
        if _fail_after_batches is not None and bi >= _fail_after_batches:
            raise RuntimeError(
                f"simulated crash before batch {bi} (test hook)"
            )
        bt0 = time.time()
        # ONE wide shuffle -- a plain hash exchange on pid, no JVM sort
        # anywhere in the job -- then ONE Arrow worker pass: mint docIDs,
        # tokenize, invert, encode, emitting doc rows and posting-block
        # rows together, already laid out for parquet row-group pruning.
        # No persist, no second shuffle, no per-posting JVM rows. Head-term
        # skew cannot concentrate anywhere: there is no term-keyed exchange
        # at all -- a head term's postings stay split across doc-range
        # blocks that live where their docs live.
        if batch_pids is None:
            tag = f"{_epoch_str(epoch + bi)}_all"
            sub = pid_df
            if done:
                sub = sub.filter(
                    ~F.col("pid").isin([int(p) for p in done])
                )
                # resume no-op probe: when every pid is already complete,
                # skip the full shuffle+index pass (and the empty batch
                # dir it would commit). limit(1) stops at the first
                # surviving row, so the probe is cheap on real work.
                if sub.limit(1).isEmpty():
                    if finalize:
                        finalize_index(spark, index_dir)
                    report.wall_time_s = time.time() - t0
                    return report
        else:
            tag = f"{_epoch_str(epoch + bi)}_{int(batch_pids[0])}"
            sub = pid_df.filter(
                F.col("pid").isin([int(p) for p in batch_pids])
            )
        sub = sub.select(
            "pid", "url", "warc_us", "lang", "text", "authz", "fields"
        ).repartition(n_shuffle, "pid")
        seg = sub.mapInArrow(
            _make_indexer(block_span, positions, extra_fields),
            _SEGMENT_SCHEMA,
        )
        _commit_write(seg, paths.segments, tag, [])

        # lineage metrics: collect the worker-written per-pid stats rows
        # (tiny, pruned by row_type + column pruning -- no re-scan of the
        # posting binaries)
        bdf = spark.read.parquet(os.path.join(paths.segments, f"b_{tag}"))
        m = {
            r["pid"]: (r["s_docs"], r["s_bytes"], r["s_terms"])
            for r in bdf.filter(F.col("row_type") == "s")
            .select("pid", "s_docs", "s_bytes", "s_terms")
            .collect()
        }
        wall_ms = int((time.time() - bt0) * 1000)
        lineage_pids = (
            sorted(m) if batch_pids is None else [int(p) for p in batch_pids]
        )
        lineage_rows = [
            (
                int(p),
                int(m.get(p, (0, 0, 0))[0] or 0),
                int(m.get(p, (0, 0, 0))[1] or 0),
                int(m.get(p, (0, 0, 0))[2] or 0),
                wall_ms,
                "complete",
                tag,
            )
            for p in lineage_pids
        ]
        if lineage_rows:
            spark.createDataFrame(
                lineage_rows,
                "pid long, doc_count long, postings_bytes long, "
                "n_terms long, wall_time_ms long, status string, "
                "batch_tag string",
            ).write.mode("append").parquet(paths.lineage)

        report.pids_built.extend(lineage_pids)
        report.n_docs += sum(v[0] or 0 for v in m.values())

    if finalize:
        finalize_index(spark, index_dir)
    report.wall_time_s = time.time() - t0
    return report


def finalize_index(spark: SparkSession, index_dir: str) -> None:
    """(Re)compute global stats + per-term stats. Idempotent overwrite.

    BM25 global stats: N, avgdl (exact), per-term df and collection term
    frequency -- the reference's global cardinality row at docId -1
    (LabFieldIndex.java:510-536).
    """
    paths = IndexPaths(index_dir)
    docmap = read_docmap(spark, paths)
    stats = docmap.agg(
        F.count("*").alias("n_docs"),
        (F.sum("doc_len") / F.count("*")).alias("avgdl"),
        F.sum("doc_len").alias("total_len"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(paths.stats)

    postings = read_postings(spark, paths)
    termstats = postings.groupBy("term").agg(
        F.sum("n").alias("df"), F.sum("ctf").alias("ctf")
    )
    termstats.write.mode("overwrite").parquet(paths.termstats)
