"""The shared match/mask/score evaluator (`_evaluate`), the composite
kernel over encoded posting rows (top-k and agg modes) and the agg
reducers' merge rules, checked in pure NumPy/pandas -- no Spark, no
index build. Also the engine's open-time index-format check."""

import json
import os
import sys

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import miru_spark.query.engine as E
from miru_spark.codec import encode_postings, encode_varint
from miru_spark.oracle import B, K1
from miru_spark.query.engine import (
    SearchEngine,
    _evaluate,
    _kernel_columns,
    _make_composite_kernel,
)

TERMS = ["a", "b", "c", "d"]
AVGDL = 7.5


class _NoSpark:
    """A session stand-in that fails on any use."""

    def __getattr__(self, name):
        raise AssertionError(f"Spark touched: {name}")


@pytest.mark.parametrize("meta", [{"format": 1}, {}])
def test_engine_refuses_pre_format_2_index(tmp_path, meta):
    """An index below format 2 (no per-block 't' time rows; a missing
    key counts as format 1) is refused when the engine opens, naming
    the format and asking for a rebuild, before any Spark call."""
    (tmp_path / "meta.json").write_text(json.dumps(meta))
    with pytest.raises(ValueError, match=r"format 1\b.*rebuild"):
        SearchEngine(_NoSpark(), str(tmp_path))


_leaves = st.one_of(
    st.sampled_from(TERMS).map(lambda t: ("term", t)), st.just(("all",))
)
_trees = st.recursive(
    _leaves,
    lambda ch: st.one_of(
        st.lists(ch, min_size=1, max_size=3).map(lambda cs: ("and", cs)),
        st.lists(ch, min_size=1, max_size=3).map(lambda cs: ("or", cs)),
        st.tuples(ch, ch).map(lambda pq: ("not", pq[0], pq[1])),
    ),
    max_leaves=6,
)


@st.composite
def _scenarios(draw):
    pids = sorted(
        draw(st.sets(st.integers(0, 6), min_size=2, max_size=3))
    )
    # structure (pids, sizes, densities, bounds, tree) is drawn; the id
    # sets themselves come from a drawn seed, which keeps generation fast
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    docs = {}
    for p in pids:
        n = draw(st.integers(1, 40))
        dls = rng.integers(1, 30, size=n)
        post = {}
        for t in TERMS:
            ids = np.flatnonzero(rng.random(n) < draw(st.sampled_from(
                [0.0, 0.2, 0.5, 1.0]
            ))).astype(np.int64)
            post[t] = (ids, rng.integers(1, 6, size=ids.size), dls[ids])
        bound = None
        if draw(st.booleans()):
            lo = draw(st.integers(0, n))
            bound = (lo, draw(st.integers(lo, n)))
        removed = np.flatnonzero(
            rng.random(n) < draw(st.sampled_from([0.0, 0.1, 0.5]))
        ).astype(np.int64)
        docs[p] = (n, post, bound, removed)
    return {
        "docs": docs,
        "tree": draw(_trees),
        "scoring": sorted(draw(st.sets(st.sampled_from(TERMS)))),
        "idf": {
            t: draw(st.floats(0.05, 8.0, allow_nan=False)) for t in TERMS
        },
        "score": draw(st.booleans()),
    }


def _ref_matches(node, n, post) -> set:
    tag = node[0]
    if tag == "term":
        return set(post[node[1]][0].tolist())
    if tag == "all":
        return set(range(n))
    if tag == "and":
        return set.intersection(*(_ref_matches(c, n, post) for c in node[1]))
    if tag == "or":
        return set.union(*(_ref_matches(c, n, post) for c in node[1]))
    return _ref_matches(node[1], n, post) - _ref_matches(node[2], n, post)


def _ref_score(d, post, scoring, idf) -> float:
    s = 0.0
    for t in scoring:
        ids, tfs, dls = post[t]
        i = int(np.searchsorted(ids, d))
        if i < ids.size and ids[i] == d:
            tf, dl = float(tfs[i]), float(dls[i])
            s += idf[t] * (
                tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / AVGDL))
            )
    return s


@settings(max_examples=100, deadline=None)
@given(_scenarios())
def test_evaluate_composite_equals_per_pid_and_reference(sc):
    """One `_evaluate` call over composite (pid << 32 | doc_id) ids
    equals the per-pid calls (local ids as pid 0, bounds {0: (lo, hi)})
    shifted and concatenated, and both equal a Python-set reference;
    scores are bit-identical across the two id spaces and to the
    sorted-term float64 reference sum."""
    docs, tree = sc["docs"], sc["tree"]
    scoring, idf, score = sc["scoring"], sc["idf"], sc["score"]
    empty = np.empty(0, dtype=np.int64)

    per_m, per_s = [], []
    for p, (n, post, bound, removed) in docs.items():
        m, s = _evaluate(
            tree,
            {t: v[0] for t, v in post.items()},
            {t: v[1] for t, v in post.items()},
            {t: v[2] for t, v in post.items()},
            {}, np.arange(n, dtype=np.int64), None,
            {0: bound} if bound is not None else {},
            removed if removed.size else None,
            scoring, idf, AVGDL, score,
        )
        per_m.append((p << 32) + m)
        per_s.append(s)
        # Python-set reference for this pid
        want = _ref_matches(tree, n, post)
        if bound is not None:
            want = {d for d in want if bound[0] <= d < bound[1]}
        want -= set(removed.tolist())
        assert m.tolist() == sorted(want)
        ref_s = [
            _ref_score(d, post, scoring, idf) if score else 0.0
            for d in sorted(want)
        ]
        assert s.tobytes() == np.array(ref_s, dtype=np.float64).tobytes()

    def comp(slot):
        return {
            t: np.concatenate(
                [
                    ((p << 32) + post[t][0]) if slot == 0 else post[t][slot]
                    for p, (_n, post, _b, _r) in docs.items()
                ]
            )
            for t in TERMS
        }

    rem = np.concatenate(
        [(p << 32) + r for p, (_n, _post, _b, r) in docs.items()]
    )
    universe = np.concatenate(
        [(p << 32) + np.arange(n) for p, (n, _post, _b, _r) in docs.items()]
    )
    cm, cs = _evaluate(
        tree, comp(0), comp(1), comp(2), {}, universe, None,
        {p: b for p, (_n, _post, b, _r) in docs.items() if b is not None},
        rem if rem.size else None, scoring, idf, AVGDL, score,
    )
    assert cm.tolist() == np.concatenate(per_m or [empty]).tolist()
    assert cs.tobytes() == np.concatenate(per_s).tobytes()


SPAN = 8  # docIDs per posting block
# kernel input columns; a row kind's unused columns are null ('p' rows
# carry no first_doc: a block's doc range is [blk * SPAN, (blk + 1) * SPAN))
BLANK = dict.fromkeys([
    "pid", "term", "blk", "n", "first_doc", "ids_bin", "tfs_bin",
    "dls_bin", "pos_bin", "rk",
])
PHRASE = ("phrase", (("a", 0), ("b", 1)))


@st.composite
def _kernel_scenarios(draw):
    pids = sorted(
        draw(st.sets(st.integers(1, 6), min_size=2, max_size=3))
    )
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    docs = {}
    for p in pids:
        n = draw(st.integers(1, 40))
        dls = rng.integers(1, 30, size=n)
        post = {}
        for t in TERMS:
            ids = np.flatnonzero(rng.random(n) < draw(st.sampled_from(
                [0.0, 0.3, 0.7, 1.0]
            ))).astype(np.int64)
            tfs = rng.integers(1, 4, size=ids.size)
            # per-occurrence token positions, tf distinct ones per doc
            pos = [np.sort(rng.choice(5, int(f), replace=False)) for f in tfs]
            post[t] = (ids, tfs, dls[ids], pos)
        warc = p * 10_000 + np.cumsum(rng.integers(1, 5, size=n))
        removed = np.flatnonzero(
            rng.random(n) < draw(st.sampled_from([0.0, 0.2]))
        ).astype(np.int64)
        docs[p] = (n, post, warc, removed)
    lo_w, hi_w = docs[pids[0]][2], docs[pids[-1]][2]
    time_range = (
        (int(lo_w[draw(st.integers(0, lo_w.size - 1))]),
         int(hi_w[draw(st.integers(0, hi_w.size - 1))]))
        if draw(st.booleans()) else None
    )
    tree = draw(_trees)
    join = draw(st.sampled_from([None, "and", "or"]))
    return {
        "docs": docs,
        "tree": tree if join is None else (join, [tree, PHRASE]),
        "join": join,
        "base": tree,
        "scoring": sorted(draw(st.sets(st.sampled_from(TERMS)))),
        "idf": {
            t: draw(st.floats(0.05, 8.0, allow_nan=False)) for t in TERMS
        },
        "time_range": time_range,
        "x_rows": draw(st.booleans()),
        "k": draw(st.integers(0, 6)),
    }


def _kernel_frame(sc):
    """Encoded rows as `kernel_frame` ships them: 'p' blocks (shed
    tf/dl blobs for filter-only terms, pos_bin for phrase members), the
    boundary pids' 't' rows, one 'z' marker per pid for match-all, and
    'x' tombstone rows when unpinned."""
    import pandas as pd

    phrase = sc["join"] is not None
    keep = set(sc["scoring"]) | ({"a", "b"} if phrase else set())
    rows = []
    for p, (n, post, warc, removed) in sc["docs"].items():
        for t, (ids, tfs, dls, pos) in post.items():
            blk = ids // SPAN
            for b in np.unique(blk).tolist():
                sel = np.flatnonzero(blk == b)
                gaps = [np.diff(pos[i], prepend=0) for i in sel.tolist()]
                rows.append({
                    "pid": p, "term": t, "blk": b, "n": sel.size,
                    "ids_bin": encode_postings(ids[sel]),
                    "tfs_bin": encode_varint(tfs[sel]) if t in keep else None,
                    "dls_bin": encode_varint(dls[sel]) if t in keep else None,
                    "pos_bin": (
                        encode_varint(np.concatenate(gaps))
                        if phrase and t in ("a", "b") else None
                    ),
                    "rk": "p",
                })
        boundary = (min(sc["docs"]), max(sc["docs"]))
        if sc["time_range"] is not None and p in boundary:
            for s in range(0, n, SPAN):
                rows.append({
                    "pid": p, "first_doc": s, "rk": "t",
                    "ids_bin": encode_varint(
                        np.diff(warc[s:s + SPAN], prepend=0)
                    ),
                })
        if "all" in E._tree_tags(sc["tree"]):
            rows.append({"pid": p, "rk": "z"})
        if sc["x_rows"]:
            rows.extend(
                {"pid": p, "first_doc": int(d), "rk": "x"}
                for d in removed.tolist()
            )
    return pd.DataFrame([{**BLANK, **r} for r in rows], columns=list(BLANK))


def _ref_answer(sc, strategy):
    """Python-set match + sorted-term float sum reference, as
    [(pid, doc_id, score)] in the kernel's output order."""
    hits = []
    for p, (n, post, warc, removed) in sc["docs"].items():
        post3 = {t: v[:3] for t, v in post.items()}
        want = _ref_matches(sc["base"], n, post3)
        if sc["join"] is not None:
            (ia, pa), (ib, pb) = [(post[t][0], post[t][3]) for t in "ab"]
            # "a b": some occurrence of a directly followed by one of b
            ph = {
                d for d in set(ia.tolist()) & set(ib.tolist())
                if set((pa[int(np.searchsorted(ia, d))] + 1).tolist())
                & set(pb[int(np.searchsorted(ib, d))].tolist())
            }
            want = want & ph if sc["join"] == "and" else want | ph
        if sc["time_range"] is not None and p in (
            min(sc["docs"]), max(sc["docs"])
        ):
            t0, t1 = sc["time_range"]
            want = {d for d in want if t0 <= warc[d] <= t1}
        want -= set(removed.tolist())
        for d in want:
            s = (
                _ref_score(d, post3, sc["scoring"], sc["idf"])
                if strategy == "tfidf" else 0.0
            )
            hits.append((p, d, s))
    if strategy == "tfidf":
        hits.sort(key=lambda h: (-h[2], h[0], h[1]))
    else:
        hits.sort(key=lambda h: (h[0], h[1]), reverse=True)
    return hits[: sc["k"]] if sc["k"] > 0 else hits


@settings(max_examples=60, deadline=None)
@given(_kernel_scenarios())
def test_composite_kernel_equals_reference(sc):
    """`_make_composite_kernel` over codec-encoded rows -- match-all
    markers, pinned or 'x'-row tombstones, phrase positions and a
    boundary-pid time range -- equals the Python reference under both
    strategies, scores bit-identical. Posting blocks of a boundary pid
    whose doc range [blk * SPAN, (blk + 1) * SPAN) misses its [lo, hi)
    never reach the shared decoder."""
    pdf = _kernel_frame(sc)
    docs = sc["docs"]
    pids = sorted(docs)
    time_spec = None
    keep_lo = {}
    if sc["time_range"] is not None:
        t0, t1 = sc["time_range"]
        time_spec = (t0, t1, pids[0], pids[-1])
        for p in (pids[0], pids[-1]):
            w = docs[p][2]
            keep_lo[p] = E._doc_interval(w, t0, t1)
    removed_comp = None
    if not sc["x_rows"]:
        removed_comp = np.concatenate(
            [(p << 32) + docs[p][3] for p in pids]
        )
        removed_comp = removed_comp if removed_comp.size else None
    decoded = []
    real = E._decode_rows

    def counting(cols):
        decoded.extend(zip(cols["pid"], cols["blk"]))
        return real(cols)

    E._decode_rows = counting
    try:
        for strategy in ("tfidf", "time"):
            decoded.clear()
            kern = _make_composite_kernel(
                sc["tree"], sc["scoring"], 100, AVGDL, sc["k"], {},
                time_spec, removed_comp, sc["idf"],
                {p: docs[p][0] for p in pids}, strategy, block_span=SPAN,
            )
            out = kern(pdf.copy())
            got = list(zip(
                out["pid"].tolist(), out["doc_id"].tolist(),
                out["score"].tolist(),
            ))
            want = _ref_answer(sc, strategy)
            assert [g[:2] for g in got] == [w[:2] for w in want]
            assert (
                np.array([g[2] for g in got], dtype=np.float64).tobytes()
                == np.array([w[2] for w in want], dtype=np.float64).tobytes()
            )
            p_rows = pdf[pdf["rk"] == "p"]
            expect = 0
            for p, b in zip(p_rows["pid"], p_rows["blk"]):
                lo, hi = keep_lo.get(p, (0, 1 << 40))
                expect += int((b + 1) * SPAN > lo and b * SPAN < hi)
            for p, b in decoded:
                lo, hi = keep_lo.get(p, (0, 1 << 40))
                assert (b + 1) * SPAN > lo and b * SPAN < hi, (p, b, lo, hi)
            assert len(decoded) == expect
    finally:
        E._decode_rows = real


def _first_last_rows(rows, bounds: dict):
    """The earlier pruning rule, kept here as the reference: a bounded
    pid's block survives when its [first_doc, last_doc] span meets
    [lo, hi)."""
    pids = rows["pid"].to_numpy()
    first = rows["first_doc"].to_numpy()
    last = rows["last_doc"].to_numpy()
    keep = np.ones(len(rows), dtype=bool)
    for p, (lo, hi) in bounds.items():
        keep &= (pids != p) | ((last >= lo) & (first < hi))
    return rows[keep]


@settings(max_examples=80, deadline=None)
@given(st.data())
def test_blk_span_pruning_keeps_every_first_last_block(data):
    """`_bounded_rows` bounds a block by its doc range [blk * span,
    (blk + 1) * span): it keeps every block the [first_doc, last_doc]
    rule keeps, and drops only blocks with no doc inside the bound."""
    import pandas as pd

    span = data.draw(st.integers(1, 16))
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    rows, docs, bounds = [], {}, {}
    for p in range(data.draw(st.integers(1, 4))):
        n = data.draw(st.integers(1, 80))
        for t in TERMS:
            ids = np.flatnonzero(rng.random(n) < 0.4)
            for b in np.unique(ids // span).tolist():
                sel = ids[ids // span == b]
                rows.append({"pid": p, "blk": b, "first_doc": int(sel[0]),
                             "last_doc": int(sel[-1])})
                docs[len(rows) - 1] = sel
        if data.draw(st.booleans()):
            lo = data.draw(st.integers(0, n))
            bounds[p] = (lo, data.draw(st.integers(lo, n + span)))
    frame = pd.DataFrame(
        rows, columns=["pid", "blk", "first_doc", "last_doc"]
    )
    kept = set(E._bounded_rows(frame, bounds, span).index)
    assert set(_first_last_rows(frame, bounds).index) <= kept
    for i, r in frame.iterrows():
        if i not in kept:
            lo, hi = bounds[r["pid"]]
            assert not ((docs[i] >= lo) & (docs[i] < hi)).any()
    assert len(E._bounded_rows(frame, bounds, None)) == len(frame)


@settings(max_examples=40, deadline=None)
@given(_kernel_scenarios())
def test_kernel_answers_same_under_both_pruning_rules(sc):
    """The composite kernel answers bit-identically whether boundary-pid
    blocks are pruned by their blk doc range or by the earlier
    [first_doc, last_doc] rule (over rows that carry both)."""
    from miru_spark.codec import decode_postings

    pdf = _kernel_frame(sc)
    p = (pdf["rk"] == "p").to_numpy()
    ids = [decode_postings(b) if k else None
           for b, k in zip(pdf["ids_bin"], p)]
    pdf["first_doc"] = [
        int(i[0]) if k else f for i, k, f in zip(ids, p, pdf["first_doc"])
    ]
    pdf["last_doc"] = [int(i[-1]) if k else None for i, k in zip(ids, p)]
    docs = sc["docs"]
    pids = sorted(docs)
    time_spec = None
    if sc["time_range"] is not None:
        time_spec = (*sc["time_range"], pids[0], pids[-1])

    def first_last(rows, bounds, _span):
        return _first_last_rows(rows, bounds) if bounds else rows

    real = E._bounded_rows
    outs = []
    for rule in (real, first_last):
        E._bounded_rows = rule
        try:
            outs.append(_make_composite_kernel(
                sc["tree"], sc["scoring"], 100, AVGDL, sc["k"], {},
                time_spec, None, sc["idf"],
                {p_: docs[p_][0] for p_ in pids}, block_span=SPAN,
            )(pdf.copy()))
        finally:
            E._bounded_rows = real
    assert outs[0]["pid"].tolist() == outs[1]["pid"].tolist()
    assert outs[0]["doc_id"].tolist() == outs[1]["doc_id"].tolist()
    assert (
        outs[0]["score"].to_numpy().tobytes()
        == outs[1]["score"].to_numpy().tobytes()
    )


def _waveforms_kernel(prefix):
    return _make_composite_kernel(
        ("term", "w1"), [], 6, 1.0, 0, {}, None, None, {}, {7: 6},
        agg="waveforms",
        spec=E._agg_spec(bucket_us=1000, facet_prefixes=[prefix]),
    )


def test_streamed_waveforms_empty_frames_keep_term_column():
    """Streamed-facet waveforms declare a `term` column; both of the
    composite kernel's empty answers (no 't' rows; no facet value in the
    match set) must carry the same columns the mapInPandas schema
    names."""
    import pandas as pd

    from miru_spark.fields import FIELD_SEP

    prefix = f"site{FIELD_SEP}"
    cols = _kernel_columns("waveforms")
    assert cols == ["term", "bucket", "cnt"]

    def prow(term, ids):
        return {
            "pid": 7, "term": term, "blk": 0, "n": len(ids),
            "first_doc": None,
            "ids_bin": encode_postings(np.array(ids)),
            "tfs_bin": None, "dls_bin": None, "rk": "p",
        }

    query = prow("w1", [1, 3])
    site = prow(prefix + "a.example", [0, 2, 5])
    trow = {
        "pid": 7, "term": None, "blk": 0, "n": 6, "first_doc": 0,
        "ids_bin": encode_varint(np.array([100, 1, 1, 1, 1, 1])),
        "tfs_bin": None, "dls_bin": None, "rk": "t",
    }
    kern = _waveforms_kernel(prefix)
    no_times = kern(pd.DataFrame([query, site]))
    assert no_times.empty and list(no_times.columns) == cols
    no_hits = kern(pd.DataFrame([query, site, trow]))
    assert no_hits.empty and list(no_hits.columns) == cols
    # a facet value inside the match set answers with the same columns
    hit = kern(pd.DataFrame([query, prow(prefix + "b.example", [3]), trow]))
    assert list(hit.columns) == cols
    assert hit[["bucket", "cnt", "term"]].values.tolist() == [
        [0, 1, prefix + "b.example"]
    ]


AGGS = tuple(E._AGG_COLUMNS)


def _fterms(field, values):
    from miru_spark.fields import compose, encode_num

    if field == "site":
        return [compose("site", encode_num(v)) for v in values]
    return [compose(field, v) for v in values]


@st.composite
def _agg_scenarios(draw):
    """2-4 pids, each with docs' warc_us, a query term `q` and
    multi-valued facet postings (a doc may carry several values of a
    field, or none), a sorted composite match set, a random split of
    the pids into two tasks and one spec per agg mode, epoch or
    `segments` bucketing, facet list or prefix mode."""
    pids = sorted(draw(st.sets(st.integers(1, 6), min_size=2, max_size=4)))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    fields = {
        "g": _fterms("g", ["a", "b", "c"]),
        "site": _fterms("site", [0, 3, 17]),
    }
    docs = {}
    for p in pids:
        n = draw(st.integers(1, 30))
        warc = p * 10_000 + np.cumsum(rng.integers(1, 40, size=n))
        post = {
            t: np.flatnonzero(rng.random(n) < draw(st.sampled_from(
                [0.0, 0.3, 0.7]
            ))).astype(np.int64)
            for t in ["q", *fields["g"], *fields["site"]]
        }
        docs[p] = (n, warc, post)
    lo = min(int(w[0]) for _n, w, _p in docs.values())
    hi = max(int(w[-1]) for _n, w, _p in docs.values())
    segments = draw(st.sampled_from([0, 0, 3, 7]))
    if segments:
        origin = draw(st.integers(lo - 500, hi))
        bucket = dict(
            bucket_us=draw(st.integers(20, 4000)),
            bucket_origin_us=origin, bucket_count=segments,
        )
    else:
        bucket = dict(bucket_us=draw(st.sampled_from([50, 300, 5000])))
    specs = {}
    for agg in AGGS:
        field = "site" if agg == "metrics" else draw(
            st.sampled_from(["g", "site"])
        )
        facet = (
            {"facet_terms": sorted(draw(
                st.sets(st.sampled_from(fields[field]))
            ))}
            if draw(st.booleans())
            else {"facet_prefixes": [field + "\x1f"]}
        )
        specs[agg] = E._agg_spec(
            k=draw(st.integers(0, 5)),
            tuple_specs=[(0, [fields["g"], fields["site"]]),
                         (9, [fields["site"], fields["g"], fields["g"]])],
            **bucket, **facet,
        )
    return {
        "docs": docs,
        "keep": draw(st.sampled_from([0.3, 0.7, 1.0])),
        "seed": draw(st.integers(0, 2**32 - 1)),
        "specs": specs,
    }


def _canon(cols: dict, agg: str, k: int):
    """Merge reducer rows by the engine's fixed column rules (group by
    the key columns, sum/max the values; stumptown's newest keeps the k
    largest ids) into a comparable form."""
    names = E._kernel_columns(agg)
    keys = [c for c in names if c in E._AGG_KEYS]
    vals = [c for c in names if c in E._AGG_MERGE]
    acc: dict = {}
    newest = []
    for row in zip(*(np.asarray(cols[c]).tolist() for c in names)):
        rec = dict(zip(names, row))
        if agg == "stumptown":
            if rec["newest"] >= 0:
                newest.append(rec["newest"])
            if not rec["cnt"]:
                continue
        key = tuple(rec[c] for c in keys)
        new = [rec[c] for c in vals]
        old = acc.setdefault(key, new)
        if old is not new:
            acc[key] = [
                max(o, n) if E._AGG_MERGE[c] == "max" else o + n
                for c, o, n in zip(vals, old, new)
            ]
    rows = sorted((*key, *v) for key, v in acc.items())
    if agg != "stumptown":
        return rows, None
    return rows, sorted(newest)[-k:] if k > 0 else []


def _ref_agg(matches, post, warcs, agg, spec):
    """Per-doc Python reference of one agg mode, in `_canon` form."""
    import collections
    import itertools

    from miru_spark.fields import decode_num

    terms = spec["facet_terms"]
    if terms is None:
        terms = sorted(
            t for t in post if t.startswith(tuple(spec["facet_prefixes"]))
        )
    members = {t: set(ids.tolist()) for t, ids in post.items()}
    bucket_us, n_seg = spec["bucket_us"], spec["bucket_count"]
    acc = collections.defaultdict(lambda: [0, 0, 0, -1])
    for cid in matches.tolist():
        ts = int(warcs[cid >> 32][cid & 0xFFFFFFFF])
        b = ts // bucket_us
        if n_seg:
            rel = ts - spec["bucket_origin_us"]
            b = rel // bucket_us if 0 <= rel < n_seg * bucket_us else None
        vals = [t for t in terms if cid in members[t]]
        if agg == "count":
            acc[()][0] += 1
        if agg in ("waveform", "stumptown") and b is not None:
            acc[(b,)][0] += 1
        for t in vals:
            if agg in ("distincts", "aggregate"):
                acc[(t,)][0] += 1
                acc[(t,)][3] = max(acc[(t,)][3], cid)
            if agg == "waveforms" and b is not None:
                acc[(t, b)][0] += 1
        if agg == "metrics" and b is not None:
            a = acc[(b,)]
            a[0] += 1
            a[1] += sum(decode_num(t.split("\x1f", 1)[1]) for t in vals)
            a[2] += len(vals)
        if agg == "pairs":
            for off, groups in spec["tuple_specs"]:
                idx = [
                    [i for i, t in enumerate(g) if cid in members[t]]
                    for g in groups
                ]
                for combo in itertools.product(*idx):
                    key = 0
                    for g, i in zip(groups, combo):
                        key = key * len(g) + i
                    acc[(key + off,)][0] += 1
    if agg == "count":
        return [(len(matches),)], None
    if agg == "metrics":
        rows = [(*k, a[1], a[2], a[0]) for k, a in acc.items()]
    elif agg == "aggregate":
        rows = [(*k, a[0], a[3]) for k, a in acc.items()]
    else:
        rows = [(*k, a[0]) for k, a in acc.items()]
    newest = None
    if agg == "stumptown":
        k = spec["k"]
        newest = sorted(matches.tolist())[-k:] if k > 0 else []
    return sorted(rows), newest


def _agg_rows(docs):
    """Codec-encoded kernel rows: every term's 'p' blocks (tf/dl blobs
    shed, as agg modes ship them) and every pid's 't' rows."""
    import pandas as pd

    rows = []
    for p, (n, warc, post) in docs.items():
        for t, ids in post.items():
            blk = ids // SPAN
            for b in np.unique(blk).tolist():
                sel = ids[blk == b]
                rows.append({
                    "pid": p, "term": t, "blk": b, "n": sel.size,
                    "ids_bin": encode_postings(sel), "rk": "p",
                })
        for s in range(0, n, SPAN):
            rows.append({
                "pid": p, "first_doc": s, "rk": "t",
                "ids_bin": encode_varint(np.diff(warc[s:s + SPAN], prepend=0)),
            })
    return pd.DataFrame([{**BLANK, **r} for r in rows], columns=list(BLANK))


@settings(max_examples=40, deadline=None)
@given(_agg_scenarios())
def test_agg_reducers_merge_over_pid_splits_and_match_kernel(sc):
    """For every agg mode: the reducer over the union of the pids'
    matches equals a per-doc Python reference and the merge of its
    outputs over a random split of the pids into tasks (the fixed
    column rules); and the composite kernel
    in agg mode, over codec-encoded rows, equals the reducer on the
    same decoded inputs, decoding only matched pids' time rows."""
    docs = sc["docs"]
    rng = np.random.default_rng(sc["seed"])
    warcs = {p: w for p, (_n, w, _post) in docs.items()}

    def times(ids):
        return E._times_of(ids, warcs)

    def reduce_on(reduce, matches, post, spec):
        # the kernel's hit lookup over `post` (streamed prefix mode
        # resolves to the prefix-matching terms among them)
        hits, spec = E._posting_hits(post, spec)
        return reduce(matches, hits, times, spec)

    def composite(pids, pick):
        terms = docs[pids[0]][2] if pids else {}
        return {
            t: np.concatenate(
                [(p << 32) + pick(p, docs[p][2][t]) for p in pids]
            )
            for t in terms
        }

    pids = sorted(docs)
    sub = {
        p: np.flatnonzero(rng.random(docs[p][0]) < sc["keep"])
        for p in pids
    }
    side = rng.integers(0, 2, size=len(pids))
    parts = [[p for p, s in zip(pids, side) if s == i] for i in (0, 1)]
    m_all = np.concatenate([(p << 32) + sub[p] for p in pids])
    post_all = composite(pids, lambda _p, ids: ids)

    frame = _agg_rows(docs)
    q_matches = post_all["q"]
    calls = {"n": 0}
    real = E._decode_times

    def counting(*a):
        calls["n"] += 1
        return real(*a)

    for agg in AGGS:
        spec = sc["specs"][agg]
        reduce = E._REDUCERS[agg]
        union = reduce_on(reduce, m_all, post_all, spec)
        assert _canon(union, agg, spec["k"]) == _ref_agg(
            m_all, post_all, warcs, agg, spec
        ), agg
        split = [
            reduce_on(
                reduce,
                np.concatenate(
                    [(p << 32) + sub[p] for p in part]
                    or [np.empty(0, dtype=np.int64)]
                ),
                composite(part, lambda _p, ids: ids),
                spec,
            )
            for part in parts
        ]
        merged = {
            c: np.concatenate([o[c] for o in split])
            for c in E._kernel_columns(agg)
        }
        assert _canon(union, agg, spec["k"]) == _canon(
            merged, agg, spec["k"]
        ), agg

        kern = _make_composite_kernel(
            ("term", "q"), [], 100, 1.0, 0, {}, None, None, {},
            {p: docs[p][0] for p in pids}, agg=agg, spec=spec,
        )
        calls["n"] = 0
        E._decode_times = counting
        try:
            out = kern(frame.copy())
        finally:
            E._decode_times = real
        assert list(out.columns) == E._kernel_columns(agg)
        got = {c: out[c].to_numpy() for c in out.columns}
        want = reduce_on(reduce, q_matches, post_all, spec)
        assert _canon(got, agg, spec["k"]) == _canon(
            want, agg, spec["k"]
        ), agg
        matched = {int(p) for p in np.unique(q_matches >> 32).tolist()}
        assert calls["n"] <= (len(matched) if agg in E._TIME_AGGS else 0)


def test_bucket_index_segment_edges():
    """Segment mode keeps exactly [origin, origin + count * dur): the
    last kept microsecond lands in bucket count - 1, while origin - 1
    and origin + count * dur are dropped -- by `_bucket_index` and so
    by the waveform reducer."""
    origin, dur, count = 1_000_000, 250, 4
    end = origin + count * dur
    spec = E._agg_spec(
        bucket_us=dur, bucket_origin_us=origin, bucket_count=count
    )
    ts = np.array([origin - 1, origin, end - 1, end], dtype=np.int64)
    b, ok = E._bucket_index(ts, spec)
    assert ok.tolist() == [False, True, True, False]
    assert b[ok].tolist() == [0, count - 1]
    ids = np.arange(ts.size, dtype=np.int64)
    wf = E._reduce_waveform(ids, None, lambda m: ts[m], spec)
    assert wf["bucket"].tolist() == [0, count - 1]
    assert wf["cnt"].tolist() == [1, 1]
