"""The shared match/mask/score evaluator (`_evaluate`) and the per-pid
kernel's output schema, checked in pure NumPy/pandas -- no Spark, no
index build. Also the engine's open-time index-format check."""

import json
import os
import sys

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miru_spark.oracle import B, K1
from miru_spark.query.engine import (
    SearchEngine,
    _evaluate,
    _kernel_columns,
    _make_kernel,
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


def _waveforms_kernel(prefix):
    return _make_kernel(
        ("term", "w1"), [], 10, AVGDL, 0, {7: 6}, {}, False, idf_map={},
        agg="waveforms", bucket_us=1000, facet_prefixes=[prefix],
    )


def test_streamed_waveforms_empty_frames_keep_term_column():
    """Streamed-facet waveforms declare a `term` column; both of the
    kernel's empty answers (no 't' rows; no facet value in the match
    set) must carry the same columns the mapInPandas schema names."""
    import pandas as pd

    from miru_spark.codec import encode_postings, encode_varint
    from miru_spark.fields import FIELD_SEP

    prefix = f"site{FIELD_SEP}"
    cols = _kernel_columns("waveforms", [prefix])
    assert cols == ["pid", "doc_id", "score", "cnt", "term"]

    def prow(term, ids):
        return {
            "pid": 7, "term": term, "blk": 0, "n": len(ids),
            "first_doc": ids[0], "last_doc": ids[-1], "max_tf": 1,
            "min_dl": 1, "ids_bin": encode_postings(np.array(ids)),
            "tfs_bin": None, "dls_bin": None, "rk": "p",
        }

    query = prow("w1", [1, 3])
    site = prow(prefix + "a.example", [0, 2, 5])
    trow = {
        "pid": 7, "term": None, "blk": 0, "n": 6, "first_doc": 0,
        "last_doc": 5, "max_tf": None, "min_dl": None,
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
    assert hit[["doc_id", "cnt", "term"]].values.tolist() == [
        [0, 1, prefix + "b.example"]
    ]
