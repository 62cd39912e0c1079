"""Index-backed gatherFeatures / collaborative filtering / strut.

Both engine paths (serving-node NumPy, distributed kernel) against
brute-force pure-Python oracles that restate the reference semantics:
MiruAggregateUtil.gatherFeatures:77-291 (per-doc feature tuple counts),
CollaborativeFiltering.java:75-213 (3-hop walk, contributor-weight
scoring), Strut.java:82-236 + :330-341 + :367-397 (max-accumulate,
strategy finalize, clip-to-1)."""

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from pyspark.sql import functions as F

from miru_spark.index.build import build_index
from miru_spark.query.engine import SearchEngine

N = 150


def _user(d):
    return f"u{d % 12:02d}"


def _items(d):
    # multi-valued (sometimes colliding -> dedupe) item labels
    return sorted({f"i{(d * 7) % 10}", f"i{(d * 3 + 1) % 10}"})


def _parent(d):
    return f"p{(d // 3) % 17}"


def _docs():
    return [
        {"d": d, "user": _user(d), "items": _items(d),
         "parent": _parent(d)}
        for d in range(N)
    ]


@pytest.fixture(scope="module")
def fx_engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fx_idx"))
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(N)
    wt = docs.select(
        F.format_string("doc%08d", F.col("doc_id")).alias("url"),
        F.timestamp_micros(
            F.lit(1704067200_000_000)
            + F.col("doc_id").cast("long") * 1_000_000
        ).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("und").alias("lang"),
        F.create_map(
            F.lit("user"),
            F.array(F.format_string("u%02d", F.col("doc_id") % 12)),
            F.lit("item"),
            F.array(
                F.format_string("i%d", (F.col("doc_id") * 7) % 10),
                F.format_string("i%d", (F.col("doc_id") * 3 + 1) % 10),
            ),
            F.lit("parent"),
            F.array(
                F.format_string("p%d", (F.col("doc_id") / 3).cast("long") % 17)
            ),
        ).alias("fields"),
    )
    build_index(
        spark, wt, d, partition_seconds=600, block_span=64,
        extra_fields=["user", "item", "parent"],
    )
    return SearchEngine(spark, d)


# -- gatherFeatures ----------------------------------------------------------


def _gf_oracle(fields, pred=lambda doc: True):
    cnt: Counter = Counter()
    for doc in _docs():
        if not pred(doc):
            continue
        groups = [
            doc["items"] if f == "item"
            else [doc["user"]] if f == "user"
            else [doc["parent"]]
            for f in fields
        ]
        tuples = [()]
        for g in groups:
            tuples = [t + (v,) for t in tuples for v in g]
        cnt.update(tuples)
    return sorted(cnt.items(), key=lambda vc: (-vc[1], vc[0]))


@pytest.mark.parametrize("local", [True, False])
def test_gather_features_pairs(fx_engine, local):
    got = fx_engine.gather_features(("user", "item"), local=local)
    assert got == _gf_oracle(("user", "item"))


@pytest.mark.parametrize("local", [True, False])
def test_gather_features_triples(fx_engine, local):
    got = fx_engine.gather_features(
        ("user", "item", "parent"), local=local
    )
    assert got == _gf_oracle(("user", "item", "parent"))


def test_gather_features_constrained_and_topn(fx_engine):
    # constrained to one parent's docs; both paths agree with oracle
    want = _gf_oracle(
        ("user", "item"), pred=lambda doc: doc["parent"] == "p3"
    )
    got = fx_engine.gather_features(("user", "item"), query="parent:p3")
    assert got == want
    got_d = fx_engine.gather_features(
        ("user", "item"), query="parent:p3", local=False
    )
    assert got_d == want
    assert fx_engine.gather_features(
        ("user", "item"), query="parent:p3", top_n=5
    ) == want[:5]


# -- collaborative filtering -------------------------------------------------


def _reco_oracle(me, k):
    docs = _docs()
    my = [doc for doc in docs if doc["user"] == me]
    parents = {doc["parent"] for doc in my}
    other = [
        doc for doc in docs
        if doc["parent"] in parents and doc["user"] != me
    ]
    weights = Counter(doc["user"] for doc in other)
    ranked = sorted(weights.items(), key=lambda uc: (-uc[1], uc[0]))[:k]
    scores: Counter = Counter()
    for user, w in ranked:
        theirs = {
            doc["parent"] for doc in docs if doc["user"] == user
        } - parents
        for p in theirs:
            scores[p] += w
    return sorted(scores.items(), key=lambda ps: (-ps[1], ps[0]))[:k]


@pytest.mark.parametrize("local", [True, False])
@pytest.mark.parametrize("me", ["u03", "u07"])
def test_reco_matches_reference_walk(fx_engine, me, local):
    got = fx_engine.reco(
        ("user", me), "parent", "user", "parent", k=5, local=local
    )
    assert got == _reco_oracle(me, 5)


def test_reco_field2_eq_field3_short_circuit(fx_engine):
    # contributors ARE the answer (CollaborativeFiltering.java:170-173)
    docs = _docs()
    my = [doc for doc in docs if doc["user"] == "u03"]
    parents = {doc["parent"] for doc in my}
    other = [
        doc for doc in docs
        if doc["parent"] in parents and doc["user"] != "u03"
    ]
    weights = Counter(doc["user"] for doc in other)
    want = sorted(weights.items(), key=lambda uc: (-uc[1], uc[0]))[:5]
    got = fx_engine.reco(("user", "u03"), "parent", "user", "user", k=5)
    assert got == want


def test_reco_remove_distincts(fx_engine):
    base = _reco_oracle("u03", 7)
    drop = base[0][0]
    got = fx_engine.reco(
        ("user", "u03"), "parent", "user", "parent", k=7,
        remove_distincts=[drop],
    )
    assert got == [vs for vs in base if vs[0] != drop][: len(got)]
    assert all(v != drop for v, _s in got)


def test_reco_unknown_user_empty(fx_engine):
    assert fx_engine.reco(
        ("user", "zzz"), "parent", "user", "parent", k=5
    ) == []


# -- strut --------------------------------------------------------------------


FEATS = [(1.0, "user"), (0.8, ("user", "item"))]


def _model(fi, vals):
    if fi == 0:
        return (int(vals[0][1:]) % 5, 7)  # some score 0 -> not positive
    # tuple feature: deterministic, sometimes > 1 to exercise the clip
    return 1.4 if (int(vals[0][1:]) + int(vals[1][1:])) % 2 else 0.3


MODEL = {
    (0, (f"u{u:02d}",)): _model(0, (f"u{u:02d}",)) for u in range(12)
} | {
    (1, (f"u{u:02d}", f"i{i}")): _model(1, (f"u{u:02d}", f"i{i}"))
    for u in range(12)
    for i in range(10)
}


def _strut_oracle(strategy, k, pred=lambda doc: True):
    docs = [doc for doc in _docs() if pred(doc)]
    cands = sorted({doc["parent"] for doc in _docs()})
    out = []
    for c in cands:
        mine = [doc for doc in docs if doc["parent"] == c]
        fscores = []
        for fi, (scalar, ff) in enumerate(FEATS):
            ff = (ff,) if isinstance(ff, str) else ff
            tuples = set()
            for doc in mine:
                groups = [
                    doc["items"] if f == "item" else [doc["user"]]
                    for f in ff
                ]
                cur = [()]
                for g in groups:
                    cur = [t + (v,) for t in cur for v in g]
                tuples.update(cur)
            best = 0.0
            for t in tuples:
                got = MODEL.get((fi, t))
                if isinstance(got, tuple):
                    s = got[0] / got[1]
                else:
                    s = got
                s = min(s, 1.0)
                up = s * scalar
                if up > best:
                    best = up
            fscores.append(best)
        pos = [s for s in fscores if s > 0]
        if strategy == "unit_weighted":
            score = sum(fscores) / len(FEATS) if pos else 0.0
        elif strategy == "regression_weighted":
            score = sum(fscores)
        else:
            score = max(fscores) if pos else 0.0
        if score > 0:
            out.append((c, score))
    out.sort(key=lambda vs: (-vs[1], vs[0]))
    return out[:k]


@pytest.mark.parametrize(
    "strategy", ["unit_weighted", "regression_weighted", "max"]
)
@pytest.mark.parametrize("local", [True, False])
def test_strut_strategies(fx_engine, strategy, local):
    got = fx_engine.strut(
        "parent", FEATS, model=MODEL, strategy=strategy, k=7,
        local=local,
    )
    want = _strut_oracle(strategy, 7)
    assert [v for v, _s in got] == [v for v, _s in want]
    for (_v1, s1), (_v2, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-12


def test_strut_constrained_query(fx_engine):
    got = fx_engine.strut(
        "parent", FEATS, model=MODEL, k=7, query="user:u03 OR user:u05"
    )
    want = _strut_oracle(
        "unit_weighted", 7, pred=lambda doc: doc["user"] in ("u03", "u05")
    )
    assert [v for v, _s in got] == [v for v, _s in want]


def test_strut_no_model_presence_scoring(fx_engine):
    # model=None scores every observed tuple 1.0: unit_weighted ->
    # every candidate with any activity scores mean(scalars) = 0.9
    got = fx_engine.strut("parent", FEATS, model=None, k=7)
    assert got and all(abs(s - 0.9) < 1e-12 for _v, s in got)


def test_strut_include_features(fx_engine):
    got = fx_engine.strut(
        "parent", FEATS, model=MODEL, k=3, include_features=True
    )
    for _v, score, fvec in got:
        assert len(fvec) == len(FEATS)
        assert abs(score - sum(fvec) / len(FEATS)) < 1e-12


def test_strut_model_cache(fx_engine):
    h0 = fx_engine.strut_cache_hits
    a = fx_engine.strut("parent", FEATS, model=MODEL, model_id="m1", k=5)
    assert fx_engine.strut_cache_hits == h0
    b = fx_engine.strut("parent", FEATS, model=MODEL, model_id="m1", k=5)
    assert fx_engine.strut_cache_hits == h0 + 1
    assert a == b
    # different request -> no false hit
    c = fx_engine.strut(
        "parent", FEATS, model=MODEL, model_id="m1", k=5,
        query="user:u03",
    )
    assert fx_engine.strut_cache_hits == h0 + 1
    assert c != a or c == a  # computed, not served from cache


def test_strut_rejects_bad_strategy(fx_engine):
    with pytest.raises(ValueError, match="strategy"):
        fx_engine.strut("parent", FEATS, strategy="nope")


# -- property: the vectorized per-doc cross-product counting core ------------


def test_tuple_counts_matches_bruteforce_property():
    """_tuple_counts (sorted-position merge + range expansion) ==
    brute-force per-doc cross-product Counter, over randomized
    multi-valued assignments, for 2 and 3 field groups."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from miru_spark.query.engine import _hits_of, _tuple_counts

    @settings(max_examples=60, deadline=None)
    @given(st.data())
    def run(data):
        n_docs = data.draw(st.integers(1, 30))
        n_groups = data.draw(st.integers(2, 3))
        sizes = [data.draw(st.integers(1, 5)) for _ in range(n_groups)]
        # per group: term -> sorted doc-id posting array
        assign = []  # per group: doc -> set of value idx
        for g in range(n_groups):
            per_doc = [
                data.draw(
                    st.sets(st.integers(0, sizes[g] - 1), max_size=3)
                )
                for _ in range(n_docs)
            ]
            assign.append(per_doc)
        match_mask = [
            data.draw(st.booleans()) for _ in range(n_docs)
        ]
        matches = np.array(
            [d for d in range(n_docs) if match_mask[d]], dtype=np.int64
        )
        postings = {}
        groups = []
        for g in range(n_groups):
            terms = [f"g{g}v{v}" for v in range(sizes[g])]
            groups.append(terms)
            for v, t in enumerate(terms):
                postings[t] = np.array(
                    [d for d in range(n_docs) if v in assign[g][d]],
                    dtype=np.int64,
                )
        keys, counts = _tuple_counts(
            matches, lambda m, ts: _hits_of(m, postings, ts), groups
        )
        got = dict(zip(keys.tolist(), counts.tolist()))
        want: dict = {}
        for d in range(n_docs):
            if not match_mask[d]:
                continue
            tuples = [()]
            for g in range(n_groups):
                tuples = [
                    t + (v,) for t in tuples for v in sorted(assign[g][d])
                ]
                if not assign[g][d]:
                    tuples = []
                    break
            for t in tuples:
                key = 0
                for g, v in enumerate(t):
                    key = key * (sizes[g] if g else 1) + v if g else v
                # packed key = ((v0 * n1 + v1) * n2 + v2)
                key = t[0]
                for g in range(1, n_groups):
                    key = key * sizes[g] + t[g]
                want[key] = want.get(key, 0) + 1
        assert got == want

    run()


def test_strut_distributed_is_one_kernel_job(fx_engine, spark):
    """F catwalk features never cost F kernel jobs: tuple_specs batches
    every feature's gather into ONE kernel pass (per-feature int64 key
    offsets), so the distributed strut plans one job total."""
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    got = fx_engine.strut(
        "parent", FEATS, model=MODEL, k=7, local=False
    )
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before == 1
    assert got == fx_engine.strut("parent", FEATS, model=MODEL, k=7,
                                  local=True)


def test_strut_serving_shares_one_match_pass(fx_engine, spark):
    # serving path: zero Spark jobs no matter how many features
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    fx_engine.strut("parent", FEATS, model=MODEL, k=7, local=True)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before


# -- catwalk training (Catwalk.java:120-197) ---------------------------------


def _catwalk_oracle(numerator_preds):
    """{(fi, vals): ((num_i...), den)} by brute force over the corpus."""
    out = {}
    for fi, (_s, ff) in enumerate(FEATS):
        ff = (ff,) if isinstance(ff, str) else ff
        for doc in _docs():
            groups = [
                doc["items"] if f == "item" else [doc["user"]]
                for f in ff
            ]
            tuples = [()]
            for g in groups:
                tuples = [t + (v,) for t in tuples for v in g]
            for t in tuples:
                nums, den = out.get(
                    (fi, t), ([0] * len(numerator_preds), 0)
                )
                nums = [
                    n + (1 if pred(doc) else 0)
                    for n, pred in zip(nums, numerator_preds)
                ]
                out[(fi, t)] = (nums, den + 1)
    return {
        k: (tuple(nums), den) for k, (nums, den) in out.items()
    }


@pytest.mark.parametrize("local", [True, False])
def test_catwalk_train_matches_bruteforce(fx_engine, local):
    got = fx_engine.catwalk_train(
        FEATS,
        ["parent:p3", "parent:p3 OR parent:p5"],
        local=local,
    )
    want = _catwalk_oracle(
        [
            lambda doc: doc["parent"] == "p3",
            lambda doc: doc["parent"] in ("p3", "p5"),
        ]
    )
    assert got == want


def test_catwalk_model_feeds_strut(fx_engine):
    """Train-then-score closure: the trained model drives strut
    directly (FeatureScore.getMaxScore = max(numerators)/denominator),
    both paths agreeing."""
    trained = fx_engine.catwalk_train(FEATS, ["parent:p3"])
    model = {
        k: (max(nums), den) for k, (nums, den) in trained.items()
    }
    a = fx_engine.strut("parent", FEATS, model=model, k=7, local=True)
    b = fx_engine.strut("parent", FEATS, model=model, k=7, local=False)
    assert a == b and a
    # p3 itself must rank first: its docs' tuples have the highest
    # P(parent=p3 | tuple) by construction
    assert a[0][0] == "p3"


def test_catwalk_model_roundtrips_through_parquet(
    fx_engine, spark, tmp_path
):
    """Model persistence (the catwalk service's model store analog):
    save -> load is exact, and the loaded model scores identically."""
    from miru_spark.query.featureops import (
        load_catwalk_model,
        save_catwalk_model,
    )

    trained = fx_engine.catwalk_train(FEATS, ["parent:p3", "parent:p5"])
    path = str(tmp_path / "model.parquet")
    save_catwalk_model(spark, trained, path)
    loaded = load_catwalk_model(spark, path)
    assert loaded == trained
    model = {k: (max(nums), den) for k, (nums, den) in loaded.items()}
    want = fx_engine.strut(
        "parent",
        FEATS,
        model={
            k: (max(nums), den) for k, (nums, den) in trained.items()
        },
        k=7,
    )
    assert fx_engine.strut("parent", FEATS, model=model, k=7) == want


def test_catwalk_merge_of_time_slices_matches_full_train(fx_engine):
    """The catwalk service's read-time model assembly
    (CatwalkModelService merge): training two disjoint time slices and
    merging them must reproduce the full-corpus model exactly for every
    tuple both slices observed, and the deflation step extrapolates the
    denominators of tuples only one slice observed."""
    from miru_spark.query.featureops import (
        deflate_model,
        merge_catwalk_models,
    )

    T0 = 1704067200_000_000
    # 30/120 split: narrow enough that some (user, item) tuples exist
    # in only one slice (every doc lands in exactly one slice)
    cut = 30 * 1_000_000
    nq = ["parent:p3", "parent:p3 OR parent:p5"]
    full = fx_engine.catwalk_train(FEATS, nq)
    m1 = fx_engine.catwalk_train(
        FEATS, nq, time_range_us=(T0, T0 + cut - 1)
    )
    m2 = fx_engine.catwalk_train(
        FEATS, nq, time_range_us=(T0 + cut, T0 + N * 1_000_000)
    )
    merged, total = merge_catwalk_models(m1, m2)
    assert total == 2
    # raw sums reproduce the full model for every key (each doc is in
    # exactly one slice)
    assert {k: v[:2] for k, v in merged.items()} == full
    # num_partitions bookkeeping: tuples in both slices carry 2
    both = set(m1) & set(m2)
    only = set(merged) - both
    assert both and only  # the corpus exercises both cases
    assert all(merged[k][2] == 2 for k in both)
    assert all(merged[k][2] == 1 for k in only)

    # deflation: shared tuples unchanged (den*2//2), single-slice
    # tuples extrapolate x2 (StrutModelCache.convert:206)
    defl = deflate_model(merged, total)
    for k in both:
        assert defl[k] == full[k]
    for k in only:
        assert defl[k][1] == 2 * full[k][1]

    # incremental fold: merging a merged model with a third slice
    # keeps the bookkeeping additive
    merged2, total2 = merge_catwalk_models((merged, total), m1)
    assert total2 == 3
    some = next(iter(both & set(m1)))
    assert merged2[some][2] == merged[some][2] + 1

    # the deflated model drives strut exactly like a trained one
    model = {k: (max(nums), den) for k, (nums, den) in defl.items()}
    got = fx_engine.strut("parent", FEATS, model=model, k=7, local=True)
    assert got == fx_engine.strut(
        "parent", FEATS, model=model, k=7, local=False
    )


def test_catwalk_merge_rejects_arity_mismatch():
    from miru_spark.query.featureops import merge_catwalk_models

    import pytest as _pytest

    a = {(0, ("x",)): ((1, 2), 5)}
    b = {(0, ("x",)): ((1,), 5)}
    with _pytest.raises(ValueError, match="arity"):
        merge_catwalk_models(a, b)
