"""The serving node's facet hit lookup (`_forward_hits` over per-pid
forward value columns built by `_invert_postings`) against the kernel's
(`_hits_of` over the same postings), in pure NumPy -- no Spark, no
index build: identical (value_idx, position) arrays in identical order,
and identical output from every agg reducer under either lookup."""

import os
import sys

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import miru_spark.query.engine as E
from miru_spark.fields import compose, encode_num
from miru_spark.query.featureops import _tuple_specs

# field -> (candidate values, multi-valued?); the last value of each
# field is never assigned to a doc, so it is absent from the dictionary
FIELDS = {
    "lang": (["de", "en", "fr", "ja", "zz"], False),
    "site": ([encode_num(v) for v in (0, 3, 17, 250, 9999)], False),
    "authz": (["a", "b", "c", "d", "zz"], True),
}


@st.composite
def _scenarios(draw):
    """1-4 pids; per pid, docs carrying at most one value of the
    single-valued fields and any number of the multi-valued one (a doc
    may carry none, and trailing docs carry no field at all); a sorted
    match set over the pids' docs; and facet term lists: subsets of the
    fields' values (absent values and an unknown field's term included)
    in unsorted order."""
    pids = sorted(draw(st.sets(st.integers(0, 9), min_size=1, max_size=4)))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    postings: dict = {}
    pid_counts, warcs, universe = {}, {}, []
    for p in pids:
        n = draw(st.integers(1, 40))
        pid_counts[p] = n + draw(st.integers(0, 3))
        warcs[p] = p * 100_000 + np.cumsum(
            rng.integers(1, 60, size=pid_counts[p])
        )
        for field, (vals, multi) in FIELDS.items():
            live = len(vals) - 1
            if multi:
                has = rng.random((n, live)) < draw(
                    st.sampled_from([0.0, 0.2, 0.6])
                )
            else:
                pick = rng.integers(-1, live, size=n)
                has = pick[:, None] == np.arange(live)[None, :]
            for j in range(live):
                docs = np.flatnonzero(has[:, j]).astype(np.int64)
                if docs.size:
                    t = compose(field, vals[j])
                    postings.setdefault(t, []).append((p << 32) + docs)
        universe.append((p << 32) + np.arange(pid_counts[p], dtype=np.int64))
    postings = {t: np.concatenate(c) for t, c in postings.items()}
    universe = np.concatenate(universe)
    matches = universe[
        rng.random(universe.size) < draw(st.sampled_from([0.0, 0.3, 1.0]))
    ]

    def term_list(fields):
        pool = [compose(f, v) for f in fields for v in FIELDS[f][0]]
        picked = draw(st.lists(st.sampled_from(pool), unique=True))
        return [*picked, compose("nofield", "x")][
            : len(picked) + draw(st.integers(0, 1))
        ]

    lists = [term_list([f]) for f in FIELDS] + [term_list(list(FIELDS))]
    return {
        "pids": pids, "pid_counts": pid_counts, "warcs": warcs,
        "postings": postings, "matches": matches, "lists": lists,
        "site": term_list(["site"]),
        "groups": [
            term_list([f]) for f in draw(st.permutations(list(FIELDS)))
        ],
        "bucket": draw(st.sampled_from([
            dict(bucket_us=5_000),
            dict(bucket_us=40_000),
            dict(bucket_us=700, bucket_origin_us=min(pids) * 100_000,
                 bucket_count=5),
        ])),
        "k": draw(st.integers(0, 4)),
    }


def _forward_lookup(sc):
    """`_forward_hits` over columns inverted from the scenario's
    postings, with the pinned-dictionary value ids (every field term
    that has postings, sorted)."""
    ids = {
        f: {
            t: i for i, t in enumerate(
                sorted(t for t in sc["postings"] if t.startswith(f + "\x1f"))
            )
        }
        for f in FIELDS
    }
    cols = {
        f: {
            p: col for p, (col, _n) in E._invert_postings(
                sc["postings"], ids[f], sc["pids"], sc["pid_counts"]
            ).items()
        }
        for f in FIELDS
    }

    def field_cols(field, pids):
        return {p: cols[field][p] for p in pids}

    return lambda matches, terms: E._forward_hits(
        matches, terms, lambda f: ids.get(f, {}), field_cols
    )


@settings(max_examples=60, deadline=None)
@given(_scenarios())
def test_forward_hits_equal_posting_hits_for_every_reducer(sc):
    """For every term list (one field or several fields mixed): the
    forward-column lookup returns exactly `_hits_of`'s arrays -- same
    values, dtypes and order (grouped by value in list order, positions
    ascending within a value). And every reducer in `_REDUCERS` gives
    identical columns under either lookup."""
    matches, postings = sc["matches"], sc["postings"]
    forward = _forward_lookup(sc)

    def posting(m, terms):
        return E._hits_of(m, postings, terms)

    for terms in [*sc["lists"], sc["site"], *sc["groups"]]:
        for m in (matches, matches[: matches.size // 2]):
            want, got = posting(m, terms), forward(m, terms)
            for w, g in zip(want, got):
                assert w.dtype == g.dtype
                assert np.array_equal(w, g), (terms, want, got)

    def times(ids):
        return E._times_of(ids, sc["warcs"])

    specs, _spans = _tuple_specs([sc["groups"][:2], sc["groups"]])
    for agg, reduce in E._REDUCERS.items():
        spec = E._agg_spec(
            k=sc["k"], tuple_specs=specs,
            facet_terms=sc["site"] if agg == "metrics" else sc["lists"][-1],
            **sc["bucket"],
        )
        want = reduce(matches, posting, times, spec)
        got = reduce(matches, forward, times, spec)
        assert list(want) == list(got) == E._kernel_columns(agg)
        for c in want:
            assert want[c].dtype == got[c].dtype, (agg, c)
            assert np.array_equal(want[c], got[c]), (agg, c)
