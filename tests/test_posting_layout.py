"""Segment posting layout and the readers that depend on it.

- Row groups hold at most 1,024 rows.
- 'p' rows carry no per-block bounds: first_doc, last_doc, max_tf and
  min_dl are null, and readers bound a block by its doc range
  [blk * block_span, (blk + 1) * block_span).
- The serving node reads a rare term's few row groups, and `explain()`
  predicts exactly the row groups and rows a search reads.
- An engine whose footer catalog is too large to pin reads the same
  rows through the pyarrow dataset.
- An index that mixes the earlier filled, 1 MiB-row-group form with the
  new one answers the same on both routes, before and after an append
  and a compaction.
"""

import glob
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import miru_spark.query.engine as E
from miru_spark.codec import decode_postings, decode_varint
from miru_spark.fields import FIELD_SEP
from miru_spark.index.build import build_index
from miru_spark.index.compact import compact_index
from miru_spark.query.engine import SearchEngine
from miru_spark.webtext import generate_rows, webtext_df

PSEC = 3600
SPAN = 128
# docs are 7 s apart from an hour-aligned base: docs 0..1028 fill pids
# 0-1 exactly, so the appended docs open pid 2
N = 1029
APPEND = 200
# a time range whose boundary pids are 0 and 1 (docs 300 and 800)
RANGE_DOCS = [300, 800]
BOUNDS = ("first_doc", "last_doc", "max_tf", "min_dl")


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("layout") / "idx")
    build_index(
        spark, webtext_df(spark, N), d,
        partition_seconds=PSEC, block_span=SPAN,
    )
    return d


def _files(index_dir):
    return sorted(
        glob.glob(os.path.join(index_dir, "segments", "b_*", "*.parquet"))
    )


def _record_reads(monkeypatch) -> list:
    """Every catalog read of posting row groups (the reads that ask for
    the term column) as (file, row groups, rows read)."""
    reads = []
    real = pq.ParquetFile.read_row_groups

    def rec(self, row_groups, *a, **kw):
        tbl = real(self, row_groups, *a, **kw)
        if "term" in kw["columns"]:
            reads.append((id(self), list(row_groups), tbl.num_rows))
        return tbl

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", rec)
    return reads


def test_row_groups_capped_and_posting_bounds_null(idx):
    """Fails loudly if a Spark or parquet upgrade stops honouring the
    writer's row-count cap, or a build writes per-block bounds again."""
    files = _files(idx)
    n_groups = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        n_groups += md.num_row_groups
        assert all(
            md.row_group(i).num_rows <= 1024 for i in range(md.num_row_groups)
        ), f
    assert n_groups > len(files)  # the cap split the files
    t = pa.concat_tables(
        pq.read_table(f, columns=["row_type", *BOUNDS]) for f in files
    )
    p = t.filter(pc.equal(t["row_type"], "p"))
    assert p.num_rows
    for c in BOUNDS:
        assert p[c].null_count == p.num_rows, c
    # 't' rows keep first_doc: the time decoder orders blocks by it
    tt = t.filter(pc.equal(t["row_type"], "t"))
    assert tt.num_rows and tt["first_doc"].null_count == 0


def test_rare_term_fetch_reads_few_row_groups(spark, idx, monkeypatch):
    """A 2-term rare-term fetch reads at most 4 row groups per file it
    touches -- a term spans at most two adjacent groups of a file --
    so at most 4 x 1,024 rows per file, not the file's whole posting
    run."""
    eng = SearchEngine(spark, idx)
    try:
        rare = [
            t for t in sorted(eng._term_df)
            if eng._term_df[t] == 1 and FIELD_SEP not in t
        ][:2]
        assert len(rare) == 2
        reads = _record_reads(monkeypatch)
        tbl = eng._fetch_posting_rows(rare, None, E._POSTING_COLS)
        assert sorted(set(tbl["term"].to_pylist())) == rare
        n_files = len({f for f, _g, _r in reads})
        assert sum(len(g) for _f, g, _r in reads) <= 4 * n_files
        assert sum(r for _f, _g, r in reads) <= 4 * 1024 * n_files
    finally:
        eng.close()


def test_explain_predicts_serving_reads(spark, idx, monkeypatch):
    """explain()'s row_groups and rows_read equal what the search then
    reads, for LRU misses (text and composed terms, split by columns),
    a time-ranged miss and an LRU hit."""
    eng = SearchEngine(spark, idx)
    try:
        mid = [
            t for t in sorted(eng._term_df)
            if 5 <= eng._term_df[t] <= 50 and FIELD_SEP not in t
        ]
        w = [r["warc_us"] for r in generate_rows(RANGE_DOCS)]
        cases = [
            (f"{mid[0]} OR {mid[1]}", None),
            (f"{mid[2]} AND lang:de", None),
            (f"{mid[3]} OR {mid[4]}", (w[0], w[1])),
            (f"{mid[0]} OR {mid[1]}", None),  # LRU hit: nothing read
        ]
        reads = _record_reads(monkeypatch)
        for q, tr in cases:
            ex = eng.explain(q, time_range_us=tr)
            assert ex["route"] == "serving-node"
            reads.clear()
            eng.search_collect(q, k=10, time_range_us=tr)
            assert ex["row_groups"] == sum(len(g) for _f, g, _r in reads), q
            assert ex["rows_read"] == sum(r for _f, _g, r in reads), q
        assert ex["row_groups"] == 0 and ex["rows_read"] == 0
    finally:
        eng.close()


def test_dataset_fallback_reads_what_the_catalog_reads(spark, idx):
    """An engine whose footer catalog is too large to pin reads every
    row kind through the pyarrow dataset instead: each read returns the
    rows the catalog path returns, and serving searches answer the
    same."""
    cat = SearchEngine(spark, idx)
    ds = SearchEngine(spark, idx)
    ds.MAX_CATALOG_ROW_GROUPS = 0
    try:
        assert ds._plan_reads("p", None) is None
        terms = [
            t for t in sorted(cat._term_df)
            if 5 <= cat._term_df[t] <= 50 and FIELD_SEP not in t
        ][:3]
        p0, p1 = sorted(cat.pid_counts)[:2]
        lang = (f"lang{FIELD_SEP}", "lang" + chr(ord(FIELD_SEP) + 1))
        pcols = ["pid", "term", "blk", "n", "ids_bin"]
        reads = [
            ("p", pcols, {"terms": terms}),
            ("p", pcols, {"pid_range": (p1, p1), "terms": terms}),
            ("p", pcols, {"pids": [p0], "term_range": lang}),
            ("t", ["pid", "first_doc", "ids_bin"], {"pids": [p0, p1]}),
            ("d", ["pid", "doc_id", "url", "warc_us"], {"pids": [p1]}),
        ]
        for row_type, cols, kw in reads:
            got = [
                sorted(e._read_rows(row_type, cols, **kw).to_pylist(),
                       key=repr)
                for e in (cat, ds)
            ]
            assert got[0] and got[0] == got[1], (row_type, kw)
        w = [r["warc_us"] for r in generate_rows(RANGE_DOCS)]
        for q, tr in ((f"{terms[0]} OR {terms[1]}", None),
                      ("w000001 OR w000007", (w[0], w[1]))):
            assert cat.search_collect(
                q, k=10, time_range_us=tr, local=True
            ) == ds.search_collect(q, k=10, time_range_us=tr, local=True)
    finally:
        cat.close()
        ds.close()


def _to_old_form(path):
    """Rewrite one segment file as the earlier build wrote it: 'p' rows
    carry per-block first_doc/last_doc/max_tf/min_dl, and row groups are
    as large as the 1 MiB byte cap allowed (~10k rows)."""
    t = pq.read_table(path)
    is_p = [r == "p" for r in t["row_type"].to_pylist()]
    vals = {c: t[c].to_pylist() for c in BOUNDS}
    blobs = [t[c].to_pylist() for c in ("ids_bin", "tfs_bin", "dls_bin")]
    for i in np.flatnonzero(is_p).tolist():
        ids = decode_postings(blobs[0][i])
        vals["first_doc"][i] = int(ids[0])
        vals["last_doc"][i] = int(ids[-1])
        vals["max_tf"][i] = int(decode_varint(blobs[1][i]).max())
        vals["min_dl"][i] = int(decode_varint(blobs[2][i]).min())
    for c in BOUNDS:
        j = t.schema.get_field_index(c)
        f = t.schema.field(c)
        t = t.set_column(j, f, pa.array(vals[c], f.type))
    pq.write_table(t, path, row_group_size=10_000, compression="zstd")
    # Hadoop's local file system would check the rewrite against the
    # writer's checksum sidecar
    d, name = os.path.split(path)
    os.remove(os.path.join(d, f".{name}.crc"))


def _answers(spark, index_dir, routes=(True, False)):
    """Time-ranged search and facet ops over the boundary pids of a
    range, on the serving node and the kernel (asserted equal), with the
    page's gathered field values (`_probe_field_values`) checked against
    the urls."""
    w = [r["warc_us"] for r in generate_rows(RANGE_DOCS)]
    tr = (w[0], w[1])
    eng = SearchEngine(spark, index_dir)
    try:
        out = {}
        for local in routes:
            out[local] = (
                eng.search_collect(
                    "w000001 OR w000007", k=10, time_range_us=tr, local=local
                ),
                eng.distincts(
                    "lang", "w000003", time_range_us=tr, local=local
                ),
                eng.aggregate_counts(
                    "site", "w000001", count=8, time_range_us=tr,
                    local=local, gather_fields=["lang"],
                ),
            )
        assert all(o == out[True] for o in out.values())
        page = out[True][2]
        assert page
        for row in page:
            lang = re.match(r"https://site\d+\.example/([^/]+)/", row["url"])
            assert row["fields"] == {"lang": [lang.group(1)]}
        return out[True]
    finally:
        eng.close()


def test_mixed_layout_answers_identically(spark, idx, tmp_path):
    d = str(tmp_path / "mixed")
    shutil.copytree(idx, d)
    new_form = _answers(spark, d, routes=(True,))
    big = max(_files(d), key=os.path.getsize)
    _to_old_form(big)
    assert pq.ParquetFile(big).metadata.row_group(0).num_rows > 1024
    assert _answers(spark, d) == new_form
    build_index(
        spark, webtext_df(spark, APPEND, start=N), d,
        partition_seconds=PSEC, block_span=SPAN,
    )
    appended = _answers(spark, d)
    compact_index(spark, d)
    assert _answers(spark, d) == appended
