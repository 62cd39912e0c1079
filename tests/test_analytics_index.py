"""Index-backed analytics: `SearchEngine.count` and `SearchEngine.waveform`.

The reference's analytics plugin computes per-time-bucket counts of the
docs matching a constrained filter by ANDing the filter bitmap with
per-bucket time-range bitmaps (miru-analytics-plugins/.../Analytics.java
:164-183). Here the same semantics come from the inverted index + time
index: matched docIDs map through the pid's time array to a histogram.

Invariants pinned: serving-node and distributed answers are identical;
both equal a pure-Python recomputation AND a DuckDB SQL oracle over the
same corpus; tombstones, constraints, authz, time ranges, and match-all
all apply; waveform sums to count.
"""

import collections
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miru_spark.index.build import build_index
from miru_spark.index.removals import remove_docs
from miru_spark.query.engine import SearchEngine
from miru_spark.webtext import generate_rows, webtext_df

PSEC = 3600
N = 3000
HOUR_US = 3600 * 1_000_000
ROWS = generate_rows(range(N))


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("wave") / "index")
    build_index(
        spark, webtext_df(spark, N), idx,
        partition_seconds=PSEC, block_span=256,
    )
    e = SearchEngine(spark, idx).cache()
    yield e
    e.close()


def _expected(term):
    return [r for r in ROWS if term in r["text"].split()]


def test_count_both_paths_match_oracle(eng):
    exp = len(_expected("w000001"))
    assert eng.count("w000001") == exp
    assert eng.count("w000001", local=False) == exp
    both = [
        r for r in ROWS
        if {"w000001", "w000004"} <= set(r["text"].split())
    ]
    assert eng.count("w000001 AND w000004") == len(both)
    assert eng.count("w000001 AND w000004", local=False) == len(both)
    # match-all (query=None) counts the corpus
    assert eng.count(None) == N
    assert eng.count(None, local=False) == N
    # no matches
    assert eng.count("zzzznotaterm") == 0
    assert eng.count("zzzznotaterm", local=False) == 0


def test_waveform_paths_identical_and_sum_to_count(eng):
    wl = eng.waveform("w000001", bucket_seconds=3600)
    wd = eng.waveform("w000001", bucket_seconds=3600, local=False)
    assert wl == wd
    assert sum(c for _b, c in wl) == eng.count("w000001")
    exp = collections.Counter(
        (r["warc_us"] // HOUR_US) * HOUR_US
        for r in _expected("w000001")
    )
    assert wl == sorted(exp.items())
    assert eng.waveform("zzzznotaterm", bucket_seconds=3600) == []


def test_waveform_matches_duckdb_oracle(eng):
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "docs",
        pd.DataFrame(
            {
                "warc_us": [r["warc_us"] for r in ROWS],
                "text": [r["text"] for r in ROWS],
            }
        ),
    )
    want = con.execute(
        """
        SELECT (warc_us // 3600000000) * 3600000000 AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM docs
        WHERE list_contains(string_split(text, ' '), 'w000001')
          AND list_contains(string_split(text, ' '), 'w000009')
        GROUP BY bucket ORDER BY bucket
        """
    ).fetchall()
    got = eng.waveform("w000001 AND w000009", bucket_seconds=3600)
    assert got == [(int(b), int(c)) for b, c in want]
    assert got == eng.waveform(
        "w000001 AND w000009", bucket_seconds=3600, local=False
    )


def test_count_respects_time_range_constraints_authz(eng):
    t0 = ROWS[0]["warc_us"]
    tr = (t0, t0 + HOUR_US - 1_000_000)
    exp = [r for r in _expected("w000001") if tr[0] <= r["warc_us"] <= tr[1]]
    assert eng.count("w000001", time_range_us=tr) == len(exp)
    assert eng.count("w000001", time_range_us=tr, local=False) == len(exp)
    wl = eng.waveform("w000001", bucket_seconds=600, time_range_us=tr)
    assert sum(c for _b, c in wl) == len(exp)
    assert wl == eng.waveform(
        "w000001", bucket_seconds=600, time_range_us=tr, local=False
    )
    # constraints gate the match set (never score -- count has no scores
    # anyway, but the tree composition is the same with_access path)
    de = [r for r in _expected("w000001") if r["lang"] == "de"]
    assert eng.count("w000001", constraints="lang:de") == len(de)
    assert (
        eng.count("w000001", constraints="lang:de", local=False) == len(de)
    )


def test_distincts_both_paths_match_oracle(eng):
    want = collections.Counter(r["lang"] for r in _expected("w000001"))
    want = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert eng.distincts("lang", "w000001") == want
    assert eng.distincts("lang", "w000001", local=False) == want
    # numeric field decodes back to ints; match-all facet
    import re

    site = lambda u: int(  # noqa: E731
        re.match(r"^https?://[a-z]*?(\d+)\.", u).group(1)
    )
    wa = collections.Counter(site(r["url"]) for r in ROWS)
    wa = sorted(wa.items(), key=lambda kv: (-kv[1], str(kv[0])))
    assert eng.distincts("site") == wa
    assert eng.distincts("site", local=False) == wa
    # constraints compose; unknown field -> empty
    de = collections.Counter(
        r["lang"] for r in _expected("w000001") if r["lang"] == "de"
    )
    assert eng.distincts("lang", "w000001", constraints="lang:de") == [
        ("de", de["de"])
    ]
    assert eng.distincts("nosuchfield", "w000001") == []
    # typeahead prefix restricts the gathered values term-side
    want_d = [
        (v, c)
        for v, c in eng.distincts("lang", "w000001")
        if v.startswith("d")
    ]
    assert eng.distincts("lang", "w000001", prefix="d") == want_d
    assert (
        eng.distincts("lang", "w000001", prefix="d", local=False)
        == want_d
    )
    assert eng.distincts("lang", "w000001", prefix="zz") == []


def test_waveform_many_matches_singles(eng):
    qs = {
        "a": "w000001",
        "b": "w000001 AND w000009",
        "none": "zzzznotaterm",
        "all": None,
    }
    got = eng.waveform_many(qs, bucket_seconds=3600)
    assert set(got) == set(qs)
    for key, q in qs.items():
        assert got[key] == eng.waveform(q, bucket_seconds=3600), key
    assert got["none"] == []
    assert sum(c for _b, c in got["all"]) == N
    # oversized queries fall back to their own distributed job and
    # still return identical waveforms
    old = eng.local_max_postings
    try:
        eng.local_max_postings = 1
        got_d = eng.waveform_many(
            {"a": "w000001", "b": "w000001 AND w000009"},
            bucket_seconds=3600,
        )
    finally:
        eng.local_max_postings = old
    assert got_d["a"] == got["a"] and got_d["b"] == got["b"]


def test_uniques(eng):
    langs = {r["lang"] for r in _expected("w000001")}
    assert eng.uniques("lang", "w000001") == len(langs)
    assert eng.uniques("lang", "w000001", local=False) == len(langs)
    # prefix restriction (UniquesQuery.prefixes)
    de = {v for v in langs if v.startswith("d")}
    assert eng.uniques("lang", "w000001", prefix="d") == len(de)
    # a LIST of prefixes unions (the reference field is List<MiruValue>)
    want = {v for v in langs if v[0] in ("d", "e")}
    assert eng.uniques("lang", "w000001", prefix=["d", "e"]) == len(want)
    dl = dict(eng.distincts("lang", "w000001", prefix=["d", "e"]))
    assert set(dl) == want
    assert dict(eng.distincts("lang", "w000001"))["de"] == dl["de"]
    # duplicate/overlapping prefixes never double-count a value
    assert (
        eng.distincts("lang", "w000001", prefix=["d", "de", "d"])
        == eng.distincts("lang", "w000001", prefix="d")
    )
    assert eng.uniques("lang", "zzzznotaterm") == 0


def test_metrics_sum_avg_both_paths_match_oracle(eng):
    import math
    import re

    site = lambda u: int(  # noqa: E731
        re.match(r"^https?://[a-z]*?(\d+)\.", u).group(1)
    )
    sums: dict = {}
    cnts: dict = {}
    for r in _expected("w000001"):
        b = (r["warc_us"] // HOUR_US) * HOUR_US
        sums[b] = sums.get(b, 0) + site(r["url"])
        cnts[b] = cnts.get(b, 0) + 1
    want_sum = sorted(sums.items())
    want_avg = [(b, sums[b] / cnts[b]) for b, _v in want_sum]
    assert eng.metrics("site", "w000001", 3600, "sum") == want_sum
    assert (
        eng.metrics("site", "w000001", 3600, "sum", local=False)
        == want_sum
    )
    for got in (
        eng.metrics("site", "w000001", 3600, "avg"),
        eng.metrics("site", "w000001", 3600, "avg", local=False),
    ):
        assert len(got) == len(want_avg)
        assert all(
            b1 == b2 and math.isclose(v1, v2)
            for (b1, v1), (b2, v2) in zip(got, want_avg)
        )
    assert eng.metrics("site", "zzzznotaterm", 3600, "sum") == []
    with pytest.raises(ValueError):
        eng.metrics("lang", "w000001")  # non-numeric field
    with pytest.raises(ValueError):
        eng.metrics("site", "w000001", kind="max")  # reference TODO too


def test_metrics_avg_interpolate_fills_gaps(eng):
    """interpolate=True = the anomaly plugin's metricingAvg
    (Anomaly.java:35-95): interior buckets with zero matched docs are
    linearly interpolated between non-empty neighbors."""
    import math
    import re

    import numpy as np

    site = lambda u: int(  # noqa: E731
        re.match(r"^https?://[a-z]*?(\d+)\.", u).group(1)
    )
    # 60s buckets over a rare-ish term leave genuine gaps
    term, b_us = "w000041", 60 * 1_000_000
    sums: dict = {}
    cnts: dict = {}
    for r in _expected(term):
        b = (r["warc_us"] // b_us) * b_us
        sums[b] = sums.get(b, 0) + site(r["url"])
        cnts[b] = cnts.get(b, 0) + 1
    pts = sorted((b, sums[b] / cnts[b]) for b in sums)
    assert len(pts) >= 2
    bs = np.array([b for b, _ in pts]) // b_us
    span = int(bs[-1] - bs[0]) + 1
    assert span > len(pts), "corpus must leave gap buckets for this test"
    full = np.arange(bs[0], bs[-1] + 1)
    want = [
        (int(b) * b_us, float(v))
        for b, v in zip(full, np.interp(full, bs, [v for _, v in pts]))
    ]
    for got in (
        eng.metrics("site", term, 60, "avg", interpolate=True),
        eng.metrics(
            "site", term, 60, "avg", local=False, interpolate=True
        ),
    ):
        assert len(got) == span
        assert all(
            b1 == b2 and math.isclose(v1, v2)
            for (b1, v1), (b2, v2) in zip(got, want)
        )
    # non-empty buckets keep their exact averages
    plain = dict(eng.metrics("site", term, 60, "avg"))
    interp = dict(eng.metrics("site", term, 60, "avg", interpolate=True))
    assert all(math.isclose(interp[b], v) for b, v in plain.items())
    with pytest.raises(ValueError):
        eng.metrics("site", term, 60, "sum", interpolate=True)


def test_trending_strategies_match_oracle(eng):
    import math

    import numpy as np

    by: dict = {}
    for r in _expected("w000001"):
        by.setdefault(r["lang"], collections.Counter())[
            r["warc_us"] // HOUR_US
        ] += 1
    bs = sorted({b for c in by.values() for b in c})
    lo, n = bs[0], bs[-1] - bs[0] + 1
    arrays = {}
    for v, c in by.items():
        a = np.zeros(n)
        for b, k in c.items():
            a[b - lo] = k
        arrays[v] = a
    x = np.arange(n, dtype=float)
    xc = x - x.mean()
    den = float((xc * xc).sum())
    want = sorted(
        (
            (v, float((xc * (a - a.mean())).sum() / den))
            for v, a in arrays.items()
        ),
        key=lambda t: (-t[1], t[0]),
    )
    got = eng.trending("lang", "w000001", bucket_seconds=3600)
    assert [v for v, _s in got] == [v for v, _s in want]
    assert all(
        math.isclose(s1, s2) for (_v1, s1), (_v2, s2) in zip(got, want)
    )
    # leader == distincts counts; highest_peak == max bucket
    leader = eng.trending(
        "lang", "w000001", bucket_seconds=3600, strategy="leader"
    )
    assert leader == [
        (v, float(c)) for v, c in eng.distincts("lang", "w000001")
    ]
    hp = eng.trending(
        "lang", "w000001", bucket_seconds=3600, strategy="highest_peak"
    )
    assert dict(hp) == {v: float(a.max()) for v, a in arrays.items()}
    # peaks runs and returns every candidate; unknown strategy rejected
    pk = eng.trending(
        "lang", "w000001", bucket_seconds=3600, strategy="peaks"
    )
    assert {v for v, _s in pk} == set(arrays)
    # the distributed single-job path (agg="waveforms") is identical
    old = eng.local_max_postings
    try:
        eng.local_max_postings = 1
        got_dist = eng.trending("lang", "w000001", bucket_seconds=3600)
    finally:
        eng.local_max_postings = old
    assert got_dist == got
    with pytest.raises(ValueError):
        eng.trending("lang", "w000001", strategy="zscore")
    assert eng.trending("lang", "zzzznotaterm") == []


def test_waveform_segments_mode_matches_reference_shape(eng):
    """segments=N = divideTimeRangeIntoNSegments (StumptownQuestion
    .java:115-129): duration = floor(range/N), DENSE N-entry answer
    with zero buckets, remainder tail truncated."""
    t0 = ROWS[100]["warc_us"]
    t1 = ROWS[2400]["warc_us"]
    n = 7
    dur = (t1 - t0) // n
    exp = [0] * n
    for r in _expected("w000001"):
        rel = r["warc_us"] - t0
        if 0 <= rel < n * dur:
            exp[rel // dur] += 1
    want = [(t0 + i * dur, exp[i]) for i in range(n)]
    got_l = eng.waveform("w000001", time_range_us=(t0, t1), segments=n)
    got_d = eng.waveform(
        "w000001", time_range_us=(t0, t1), segments=n, local=False
    )
    assert got_l == want
    assert got_d == want
    assert len(got_l) == n  # dense, zeros included
    # waveform_many shares the scoreset (AnalyticsQuery's true shape)
    wm = eng.waveform_many(
        {"a": "w000001", "none": "zzzznotaterm"},
        time_range_us=(t0, t1), segments=n,
    )
    assert wm["a"] == want
    assert wm["none"] == [(t0 + i * dur, 0) for i in range(n)]
    # stumptown carries the same dense waveform + its newest-k page
    st = eng.stumptown(
        "w000001", time_range_us=(t0, t1), segments=n, k=5
    )
    assert st["waveform"] == want
    assert len(st["results"]) == 5
    assert st == eng.stumptown(
        "w000001", time_range_us=(t0, t1), segments=n, k=5, local=False
    )
    # guard rails: segments without a range; sub-microsecond segments
    with pytest.raises(ValueError):
        eng.waveform("w000001", segments=4)
    with pytest.raises(ValueError):
        eng.waveform(
            "w000001", time_range_us=(t0, t0 + 3), segments=10
        )


def test_metrics_segments_mode(eng):
    """metrics(segments=N): dense long[N]-shaped sum; avg keeps
    non-empty buckets, interpolate densifies with flat edges."""
    import math
    import re

    site = lambda u: int(  # noqa: E731
        re.match(r"^https?://[a-z]*?(\d+)\.", u).group(1)
    )
    t0 = ROWS[0]["warc_us"]
    t1 = ROWS[2500]["warc_us"]
    n = 5
    dur = (t1 - t0) // n
    sums = [0] * n
    cnts = [0] * n
    for r in _expected("w000001"):
        rel = r["warc_us"] - t0
        if 0 <= rel < n * dur:
            sums[rel // dur] += site(r["url"])
            cnts[rel // dur] += 1
    want_sum = [(t0 + i * dur, sums[i]) for i in range(n)]
    for got in (
        eng.metrics(
            "site", "w000001", kind="sum", time_range_us=(t0, t1),
            segments=n,
        ),
        eng.metrics(
            "site", "w000001", kind="sum", time_range_us=(t0, t1),
            segments=n, local=False,
        ),
    ):
        assert got == want_sum
        assert len(got) == n
    want_avg = [
        (t0 + i * dur, sums[i] / cnts[i])
        for i in range(n) if cnts[i]
    ]
    for got in (
        eng.metrics(
            "site", "w000001", kind="avg", time_range_us=(t0, t1),
            segments=n,
        ),
        eng.metrics(
            "site", "w000001", kind="avg", time_range_us=(t0, t1),
            segments=n, local=False,
        ),
    ):
        assert len(got) == len(want_avg)
        assert all(
            b1 == b2 and math.isclose(v1, v2)
            for (b1, v1), (b2, v2) in zip(got, want_avg)
        )
    # interpolated avg is dense over all N segments
    gi = eng.metrics(
        "site", "w000001", kind="avg", time_range_us=(t0, t1),
        segments=n, interpolate=True,
    )
    assert len(gi) == n
    d_have = dict(want_avg)
    assert all(
        math.isclose(v, d_have[b]) for b, v in gi if b in d_have
    )


def test_stumptown_both_paths_match_pure_python(eng):
    """Stumptown = waveform + newest-k from ONE match pass
    (Stumptown.java:37-73); both routes identical and equal to a pure
    recomputation + the standalone waveform()/newest() answers."""
    sl = eng.stumptown("w000001 AND w000004", bucket_seconds=3600, k=7)
    sd = eng.stumptown(
        "w000001 AND w000004", bucket_seconds=3600, k=7, local=False
    )
    assert sl == sd
    assert sl["waveform"] == eng.waveform(
        "w000001 AND w000004", bucket_seconds=3600
    )
    exp = sorted(
        _expected("w000001"), key=lambda r: -r["warc_us"]
    )
    both = [
        r for r in exp if "w000004" in r["text"].split()
    ][:7]
    assert [u for u, _w, _p, _d in sl["results"]] == [
        r["url"] for r in both
    ]
    assert [w for _u, w, _p, _d in sl["results"]] == [
        r["warc_us"] for r in both
    ]
    # newest() agrees row-for-row
    nw = eng.newest(7, "w000001 AND w000004").collect()
    assert [(r["url"], r["pid"], r["doc_id"]) for r in nw] == [
        (u, p, d) for u, _w, p, d in sl["results"]
    ]
    # match-all covers the whole corpus; empty query yields empties
    st_all = eng.stumptown(None, bucket_seconds=3600, k=3)
    assert sum(c for _b, c in st_all["waveform"]) == N
    assert len(st_all["results"]) == 3
    assert eng.stumptown("zzzznotaterm", k=5) == {
        "waveform": [], "results": [],
    }


def test_trending_segments_mode(eng):
    """trending(segments=N) scores over the dense N-segment waveform
    (TrendingQueryScoreSet.divideTimeRangeIntoNSegments); serving and
    distributed paths agree, and the slope math matches a pure
    recompute over the dense arrays."""
    import math

    import numpy as np

    t0 = ROWS[0]["warc_us"]
    t1 = ROWS[2999]["warc_us"]
    n = 6
    dur = (t1 - t0) // n
    cells: dict = {}
    for r in _expected("w000009"):
        rel = r["warc_us"] - t0
        if 0 <= rel < n * dur:
            key = (r["lang"], rel // dur)
            cells[key] = cells.get(key, 0) + 1
    langs = sorted({v for v, _b in cells})
    x = np.arange(n, dtype=np.float64)
    xc = x - x.mean()
    den = float((xc * xc).sum())
    want = []
    for v in langs:
        a = np.zeros(n)
        for b in range(n):
            a[b] = cells.get((v, b), 0)
        want.append((v, float((xc * (a - a.mean())).sum() / den)))
    want.sort(key=lambda t: (-round(t[1], 12), t[0]))
    got = eng.trending(
        "lang", "w000009", time_range_us=(t0, t1), segments=n
    )
    assert len(got) == len(want)
    for (v1, s1), (v2, s2) in zip(got, want):
        assert v1 == v2 and math.isclose(s1, s2)
    # force the distributed waveforms kernel; identical answer
    old = eng.local_max_postings
    eng.local_max_postings = 0
    try:
        got_d = eng.trending(
            "lang", "w000009", time_range_us=(t0, t1), segments=n
        )
    finally:
        eng.local_max_postings = old
    assert len(got_d) == len(want)
    for (v1, s1), (v2, s2) in zip(got_d, want):
        assert v1 == v2 and math.isclose(s1, s2)
    with pytest.raises(ValueError):
        eng.trending("lang", "w000009", segments=4)


def test_serving_analytics_run_zero_spark_jobs(eng, spark):
    """The serving-node analytics paths answer in-process: no Spark job
    may start for any of them (same guarantee search_collect gives)."""
    # warm every decode/cache outside the measured window
    eng.count("w000001")
    eng.waveform("w000001", bucket_seconds=3600)
    eng.distincts("lang", "w000001")
    eng.metrics("site", "w000001", 3600, "avg")
    eng.aggregate_counts("site", "w000001", 0, 5)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    eng.count("w000001 AND w000009")
    eng.waveform("w000001 OR w000009", bucket_seconds=3600)
    eng.waveform_many({"a": "w000001", "b": None}, bucket_seconds=3600)
    eng.distincts("lang", "w000001 AND w000009")
    eng.uniques("lang", "w000001")
    eng.metrics("site", "w000009", 3600, "sum")
    eng.trending("lang", "w000009", bucket_seconds=3600)
    eng.aggregate_counts("site", "w000009", 0, 5)
    eng.stumptown("w000001 AND w000009", bucket_seconds=3600, k=5)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before


def test_distributed_metrics_avg_runs_one_job_like_sum(eng, spark):
    """The distributed metrics reducer emits each bucket's match count
    beside its sum, so kind="avg" launches exactly the jobs kind="sum"
    does (no second waveform job for the denominator), and both answers
    equal the serving node's."""
    args = ("site", "w000001 OR w000009", 3600)
    eng.metrics(*args, "sum", local=False)  # warm outside the window
    tracker = spark.sparkContext.statusTracker()

    def jobs(kind):
        before = len(tracker.getJobIdsForGroup(None) or [])
        got = eng.metrics(*args, kind, local=False)
        return got, len(tracker.getJobIdsForGroup(None) or []) - before

    got_sum, sum_jobs = jobs("sum")
    got_avg, avg_jobs = jobs("avg")
    assert avg_jobs == sum_jobs >= 1
    assert got_sum == eng.metrics(*args, "sum", local=True)
    assert got_avg == eng.metrics(*args, "avg", local=True)


def test_aggregate_counts_stream_page(eng):
    import re

    site = lambda u: int(  # noqa: E731
        re.match(r"^https?://[a-z]*?(\d+)\.", u).group(1)
    )
    latest: dict = {}
    cnt: collections.Counter = collections.Counter()
    for r in _expected("w000001"):
        s = site(r["url"])
        cnt[s] += 1
        if s not in latest or r["warc_us"] > latest[s]["warc_us"]:
            latest[s] = r
    order = sorted(latest, key=lambda s: -latest[s]["warc_us"])

    def want(lo, hi):
        return [
            (s, cnt[s], latest[s]["url"], latest[s]["warc_us"])
            for s in order[lo:hi]
        ]

    for kw in ({}, {"local": False}):
        got = eng.aggregate_counts("site", "w000001", 0, 5, **kw)
        assert [
            (r["value"], r["count"], r["url"], r["warc_us"]) for r in got
        ] == want(0, 5)
    # paging continues where the first page stopped
    page2 = eng.aggregate_counts("site", "w000001", 5, 5)
    assert [
        (r["value"], r["count"], r["url"], r["warc_us"]) for r in page2
    ] == want(5, 10)
    assert eng.aggregate_counts("site", "zzzznotaterm") == []
    assert eng.aggregate_counts("nosuchfield", "w000001") == []
    # gatherTermsForFields: each page doc's field values ride along
    by_url = {r["url"]: r for r in ROWS}
    page = eng.aggregate_counts(
        "site", "w000001", 0, 5, gather_fields=["lang", "site"]
    )
    for row in page:
        src = by_url[row["url"]]
        assert row["fields"]["lang"] == [src["lang"]]
        assert row["fields"]["site"] == [site(src["url"])]


def test_count_masks_tombstones(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("wave_rm") / "index")
    build_index(
        spark, webtext_df(spark, 600), idx,
        partition_seconds=PSEC, block_span=256,
    )
    eng = SearchEngine(spark, idx)
    before = eng.count("w000001")
    hit = eng.search_collect("w000001", k=1)[0]
    remove_docs(spark, idx, [(hit[0], hit[1])], version=5)
    eng2 = SearchEngine(spark, idx)
    assert eng2.count("w000001") == before - 1
    assert eng2.count("w000001", local=False) == before - 1
    wl = eng2.waveform("w000001", bucket_seconds=3600)
    assert sum(c for _b, c in wl) == before - 1
    eng.close()
    eng2.close()
