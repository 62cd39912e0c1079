"""Round-5 review fixes (ADVICE.md r4): dual-role prefix expansion,
newest() fallback ordering, per-run streaming batch counts. Also the
serving node's per-pid forward-index cache: warm searches scan no
parquet, the cache keeps its budget, and search_many's two url
resolutions drop the same docmap-less winners."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miru_spark.index.build import build_index
from miru_spark.query.engine import SearchEngine
from miru_spark.webtext import generate_rows, webtext_df

N = 800


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("r5fix") / "idx")
    build_index(
        spark, webtext_df(spark, N), d,
        partition_seconds=3600, block_span=256,
    )
    e = SearchEngine(spark, d).cache()
    yield e
    e.close()


def test_dual_role_prefix_constraint_not_capped(eng):
    """A prefix used by BOTH the query and the constraints must expand
    at the engine default in its constraint role; the per-query
    max_expand override caps only the scoring slice. Every Q-match here
    trivially satisfies the constraint (all its terms start with
    w0000), so the constrained result must EQUAL the unconstrained one
    -- before the fix the constraint node inherited the 3-term cap and
    excluded docs lacking w000000/1/2."""
    rows = generate_rows(range(N))
    capped = {"w000000", "w000001", "w000002"}  # first 3 lexicographic
    # witness: a doc that matches the query via w000009 but carries
    # NONE of the capped expansion terms -- the doc the bug drops
    witness = [
        i for i, r in enumerate(rows)
        if "w000009" in r["text"].split()
        and not (capped & set(r["text"].split()))
    ]
    assert witness, "corpus must carry a witness doc for the scenario"
    q = "w000009 OR w0000*"
    want = eng.search_collect(q, k=N, max_expand=3)
    got = eng.search_collect(q, k=N, max_expand=3, constraints="w0000*")
    assert got == want
    assert got == eng.search_collect(
        q, k=N, max_expand=3, constraints="w0000*", local=False
    )
    got_urls = {r[-1] for r in got}
    assert any(rows[i]["url"] in got_urls for i in witness)


def test_newest_fallback_is_ordered(eng, monkeypatch):
    """The broadcast-docmap fallback (driver cannot read storage) must
    still answer newest-first -- ADVICE r4 flagged the unordered join."""
    want = [
        (r["pid"], r["doc_id"], r["url"])
        for r in eng.newest(k=12, query="w000001").collect()
    ]
    comps = [(p << 32) | d for p, d, _u in want]
    assert comps == sorted(comps, reverse=True)

    def boom(*a, **kw):
        raise OSError("driver cannot read storage")

    monkeypatch.setattr(eng, "_gather_rows", boom)
    # force the distributed branch (the serving path doesn't gather)
    old = eng.local_max_postings
    eng.local_max_postings = 0
    try:
        got = [
            (r["pid"], r["doc_id"], r["url"])
            for r in eng.newest(k=12, query="w000001").collect()
        ]
    finally:
        eng.local_max_postings = old
    assert got == want


def test_kernel_block_recency_prune_engages_and_is_exact(eng, monkeypatch):
    """considerIfLastIdGreaterThanN analog (LabFieldIndex.multiTxIndex
    :339-419): with doc-range bounds the composite kernel drops posting
    blocks whose span misses [lo, hi) BEFORE the shared decoder. The
    bounds resolve from a `time_spec` whose boundary pid's 't' rows ride
    in the frame, as on the distributed route. Identical results, fewer
    blocks decoded."""
    import numpy as np
    import pandas as pd

    import miru_spark.query.engine as E

    pid = max(eng.pid_counts, key=lambda p: eng.pid_counts[p])
    pdf = (
        eng.postings.filter(
            (E.F.col("term") == "w000001") & (E.F.col("pid") == pid)
        )
        .toPandas()
        .sort_values("first_doc", ignore_index=True)
    )
    assert len(pdf) >= 3, "need a multi-block term for the scenario"
    pdf["rk"] = "p"
    trows = eng.timeindex.filter(E.F.col("pid") == pid).toPandas()
    trows["rk"] = "t"
    warc = E._decode_times(trows["first_doc"], trows["ids_bin"])
    assert warc.size == int(eng.pid_counts[pid])
    # the window opens at the middle block's first doc and runs past the
    # pid's newest doc: the pid is the range's lower boundary pid
    t0 = int(warc[int(pdf["first_doc"].iloc[len(pdf) // 2])])
    spec = (t0, int(warc[-1]) + 1, pid, pid + 1)
    lo = int(np.searchsorted(warc, t0, "left"))
    assert lo > int(pdf["last_doc"].iloc[0])  # a whole block lies below

    calls = {"n": 0}
    real = E._decode_rows

    def counting(cols):
        calls["n"] += len(cols["term"])  # posting blocks decoded
        return real(cols)

    monkeypatch.setattr(E, "_decode_rows", counting)

    def run(frame, time_spec):
        return E._make_composite_kernel(
            ("term", "w000001"), ["w000001"], eng.n_docs, eng.avgdl,
            0, {}, time_spec, None, {"w000001": 1.0}, eng.pid_counts,
        )(frame.copy())

    unbounded = run(pdf, None)
    n_unbounded = calls["n"]
    calls["n"] = 0
    bounded = run(pd.concat([pdf, trows], ignore_index=True), spec)
    n_bounded = calls["n"]
    assert n_bounded < n_unbounded  # blocks below lo never decoded
    want = unbounded[unbounded["doc_id"] >= lo].reset_index(drop=True)
    got = bounded.reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert np.allclose(got["score"], want["score"])


def test_unpinned_sparse_facet_list_selects_with_isin(spark, eng):
    """ADVICE r5 (`_range_dense`): an unpinned dictionary cannot measure
    a value list's span, so a sparse explicit list above FACET_ISIN_MAX
    selects with isin, not with a [first, last] term range that ships
    its holes' postings. The distincts answer is the pinned engine's."""
    import re

    import numpy as np

    import miru_spark.query.engine as E

    sparse = eng.field_terms("site")[::40]
    assert len(sparse) >= 5
    un = SearchEngine(spark, eng.paths.root, max_pinned_terms=0)
    try:
        assert un._terms_sorted is None
        un.FACET_ISIN_MAX = 2
        df = un.kernel_frame(
            "w000001", k=0, agg="distincts", facet_terms=sparse
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"term#\d+ (IN \(|INSET )", plan), plan
        assert not re.search(r"term#\d+ [<>]=", plan), plan
        got: dict = {}
        for r in df.collect():
            got[r["term"]] = got.get(r["term"], 0) + r["cnt"]
    finally:
        un.close()
    # the pinned serving node's job-free count of the same values
    m = eng._local_match_ids(eng._prep_query("w000001", None, None))
    vh, _pos = E._hits_of(m, eng._postings_maps(sparse, None)[0], sparse)
    want = np.bincount(vh, minlength=len(sparse))
    assert got and got == {sparse[i]: c for i, c in enumerate(want) if c}


def test_search_many_gather_fallback(eng, monkeypatch):
    """search_many's point-gather url resolution falls back to the
    broadcast-docmap join when the driver cannot read storage, with
    identical results."""
    qs = ["w000001 AND w000004", "w000002"]
    old = eng.local_max_postings
    eng.local_max_postings = 0
    try:
        want = eng.search_many(qs, k=5)

        def boom(*a, **kw):
            raise OSError("driver cannot read storage")

        monkeypatch.setattr(eng, "_gather_rows", boom)
        got = eng.search_many(qs, k=5)
    finally:
        eng.local_max_postings = old
    assert got == want
    assert all(rows for rows in got.values())


def test_run_batches_counts_this_run_only():
    """batchId is cumulative across checkpoint restarts; run_batches
    must report THIS run's count (ADVICE r4)."""
    from miru_spark.streaming.analytics import run_batches

    class Q:
        def __init__(self, last, recent):
            self.lastProgress = last
            self.recentProgress = recent

    # fresh run: batches 0..3
    fresh = Q({"batchId": 3}, [{"batchId": i} for i in range(4)])
    assert run_batches(fresh) == 4
    # resumed run on the same checkpoint: prior runs did 0..4, this run
    # did 5..8 -- the old code reported 9
    resumed = Q({"batchId": 8}, [{"batchId": i} for i in range(5, 9)])
    assert run_batches(resumed) == 4
    # no progress at all
    assert run_batches(Q(None, [])) == 0
    # lastProgress without recent (retention dropped everything)
    assert run_batches(Q({"batchId": 7}, [])) == 1


def _serving_answers(e, rows):
    """Every display-gathering read a serving search makes, with the
    full (pid, doc_id, score, url, warc) rows where the API has them."""
    span = (rows[100]["warc_us"], rows[600]["warc_us"])  # both pids cut
    qs = ["w000001 AND w000004", "w000002", "w000003 OR w000007"]
    return {
        "collect": [r for q in qs for r in e.search_collect(q)]
        + e.search_collect("w000002", time_range_us=span),
        "search": [
            tuple(r) for q in qs for r in e.search(q, k=10).collect()
        ],
        "newest": [
            tuple(r) for r in e.newest(k=10, query="w000001").collect()
        ]
        + [
            tuple(r)
            for r in e.newest(
                k=10, query="w000002", time_range_us=span
            ).collect()
        ],
        "many": e.search_many(qs, k=10),
    }


def test_warm_serving_search_scans_no_dataset(spark, eng, monkeypatch):
    """Once an engine has touched a pid, display gathers and time
    bounds come from its forward-index cache: with every pyarrow
    dataset scan made to raise, a warm engine answers exactly what it
    answered cold, and no scan is even attempted (search() and
    search_many would otherwise hide a failed gather behind their
    docmap-join fallbacks)."""
    rows = generate_rows(range(N))
    e = SearchEngine(spark, eng.paths.root)
    try:
        cold = _serving_answers(e, rows)
        real = e._dataset()
        scans = []

        class NoScan:
            def __getattr__(self, name):
                return getattr(real, name)

            def to_table(self, *a, **kw):
                scans.append(kw.get("filter"))
                raise AssertionError("dataset scan on a warm engine")

        monkeypatch.setattr(e, "_dataset", lambda: NoScan())
        warm = _serving_answers(e, rows)
    finally:
        e.close()
    assert scans == []
    assert warm == cold
    assert all(cold.values())


def test_fwd_cache_stays_in_budget(spark, eng):
    """A tiny local_max_postings caps the time-index and docmap caches
    together at 2 x local_max_postings docs (here below the index's 800
    docs, so some pid is refused) and the answers do not change. At 390
    the one-term queries still take the serving route."""
    rows = generate_rows(range(N))
    want = _serving_answers(eng, rows)
    tiny = SearchEngine(spark, eng.paths.root, local_max_postings=390)
    try:
        got = _serving_answers(tiny, rows)
        kept = sum(a.size for a in tiny._times_cache.values()) + sum(
            docs.size for docs, _u, _w in tiny._docmap_cache.values()
        )
        assert 0 < tiny._fwd_cache_entries == kept <= 2 * 390
    finally:
        tiny.close()
    assert tiny._fwd_cache_entries == 0
    assert not tiny._times_cache and not tiny._docmap_cache
    assert got == want



def test_fwd_cache_concurrent_fill_counts_each_pid_once(spark, eng):
    """Serving threads racing to fill the same cold pids keep each pid
    once: the shared entry count equals what the caches hold."""
    import sys
    import threading

    import numpy as np

    e = SearchEngine(spark, eng.paths.root)
    pids = np.array(sorted(e.pid_counts), dtype=np.int64)
    docs = np.zeros(pids.size, dtype=np.int64)
    want = eng._gather_rows(pids, docs, np.zeros(pids.size))
    got, errors = [], []

    def work():
        try:
            got.append(e._gather_rows(pids, docs, np.zeros(pids.size)))
            e._pid_times(pids)
        except Exception as ex:  # surfaced by the asserts below
            errors.append(ex)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    try:
        assert not any(t.is_alive() for t in threads)
        assert errors == [] and got == [want] * 16
        kept = sum(a.size for a in e._times_cache.values()) + sum(
            d.size for d, _u, _w in e._docmap_cache.values()
        )
        assert e._fwd_cache_entries == kept == 2 * N
    finally:
        e.close()


def test_search_many_drops_winner_without_docmap_row(
    spark, eng, tmp_path, monkeypatch
):
    """A winner whose docmap ('d') row is absent is dropped alike by
    search_many's point gather and by its broadcast-docmap join
    fallback (ADVICE r5: the gather used to return it with url None)."""
    import glob
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    qs = ["w000001 AND w000004", "w000002"]
    old = eng.local_max_postings
    eng.local_max_postings = 0  # force the batched Spark job
    try:
        want = eng.search_many(qs, k=5)
    finally:
        eng.local_max_postings = old
    vp, vd = want[qs[0]][0][:2]
    want[qs[0]] = want[qs[0]][1:]

    root = str(tmp_path / "idx")
    shutil.copytree(eng.paths.root, root)
    dropped = 0
    for f in glob.glob(f"{root}/segments/**/*.parquet", recursive=True):
        t = pq.read_table(f)
        # non-'d' rows carry null doc_ids: null-safe, or they drop too
        victim = pc.fill_null(
            pc.and_(
                pc.and_(
                    pc.equal(t["row_type"], "d"), pc.equal(t["pid"], vp)
                ),
                pc.equal(t["doc_id"], vd),
            ),
            False,
        )
        n = pc.sum(victim).as_py() or 0
        if n:
            pq.write_table(t.filter(pc.invert(victim)), f)
            crc = os.path.join(
                os.path.dirname(f), f".{os.path.basename(f)}.crc"
            )
            if os.path.exists(crc):
                os.remove(crc)
            dropped += n
    assert dropped == 1

    e = SearchEngine(spark, root, local_max_postings=0)
    try:
        gathered = e.search_many(qs, k=5)

        def boom(*a, **kw):
            raise OSError("driver cannot read storage")

        monkeypatch.setattr(e, "_gather_rows", boom)
        joined = e.search_many(qs, k=5)
    finally:
        e.close()
    assert gathered == joined == want
