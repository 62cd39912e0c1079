"""`SearchEngine.explain` -- driver-side query-plan report.

Invariants: the reported route matches what `search` actually does
(serving-node eligibility), estimates come from the pinned term
dictionary, time pruning narrows the relevant-pid set, the report is
JSON-serializable, and producing it runs ZERO Spark jobs.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miru_spark.index.build import build_index
from miru_spark.query.engine import SearchEngine
from miru_spark.webtext import webtext_df

PSEC = 3600
N = 1500


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("explain") / "index")
    build_index(
        spark, webtext_df(spark, N), idx,
        partition_seconds=PSEC, block_span=256,
    )
    e = SearchEngine(spark, idx).cache()
    yield e
    e.close()


def test_explain_matches_actual_route_and_is_jsonable(eng):
    rep = eng.explain("w000001 AND w000004", k=10)
    assert rep["route"] == "serving-node"
    assert rep["spark_jobs"] == 0
    assert rep["distributed_reasons"] == []
    assert rep["n_scoring_terms"] == 2
    # the route claim is TRUE: the serving path answers it
    assert eng.search_collect("w000001 AND w000004", k=10)
    # estimate equals the dictionary df sum for plain terms
    assert rep["estimated_postings"] == sum(
        eng._term_df[t] for t in ("w000001", "w000004")
    )
    assert rep["term_df_top"]["w000001"] == eng._term_df["w000001"]
    json.dumps(rep)  # fully serializable


def test_explain_runs_zero_spark_jobs(eng, spark):
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    eng.explain("w000017 OR lang:de", k=10)
    eng.explain("w00042*", k=10)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before


def test_explain_distributed_route_reasons(eng):
    old = eng.local_max_postings
    try:
        eng.local_max_postings = 1  # force everything over budget
        rep = eng.explain("w000001", k=10)
        assert rep["route"] == "distributed-kernel"
        assert rep["spark_jobs"] == 2
        assert any("serving budget" in r for r in rep["distributed_reasons"])
        # plain scoring search: the composite task kernel (exhaustive)
        assert rep["kernel"] == "composite-task"
        assert "composite" in rep["blockmax"]
        # match-all shapes run the same composite task kernel
        rep_all = eng.explain(None, constraints="lang:de")
        if rep_all["route"] == "distributed-kernel":
            assert rep_all["kernel"] == "composite-task"
            assert "block-max" in rep_all["blockmax"]
    finally:
        eng.local_max_postings = old
    # serving-node route: no kernel flavor
    assert eng.explain("w000001", k=10)["kernel"] is None


def test_explain_time_pruning_and_match_all(eng):
    full = eng.explain("w000001", k=10)
    assert full["n_pids_relevant"] == full["n_pids_total"] >= 2
    assert full["time_pruning"] == "none"
    t0 = 1704067200_000_000
    pruned = eng.explain(
        "w000001", k=10, time_range_us=(t0, t0 + PSEC * 1_000_000 - 1)
    )
    assert pruned["n_pids_relevant"] < full["n_pids_total"]
    assert pruned["time_pruning"] == "kernel-side 't' rows (format 2)"
    # match-all + constraints-only request (query=None)
    all_rep = eng.explain(None, constraints="lang:de")
    assert all_rep["match_all"] is True
    assert all_rep["n_scoring_terms"] == 0
    assert all_rep["shed_blob_terms"] >= 1  # lang:de never scores


def test_explain_facet_view(eng):
    rep = eng.explain("w000001", field="lang")
    f = rep["facet"]
    assert f["n_values"] == len(eng.expand_prefix("lang\x1f")) >= 2
    # facet enumeration is UNCAPPED by design and says so
    assert f["truncated"] is False
    assert f["cap"] is None
    assert f["facet_postings"] == sum(
        eng._term_df[t] for t in eng.expand_prefix("lang\x1f")
    )
    assert f["route"] == "serving-node"
    # the facet budget can flip the route even when search() serves
    old = eng.local_max_postings
    try:
        eng.local_max_postings = rep["estimated_postings"] + 1
        f2 = eng.explain("w000001", field="lang")["facet"]
        assert f2["route"].startswith("distributed-kernel")
    finally:
        eng.local_max_postings = old
    assert "facet" not in eng.explain("w000001")
    import json

    json.dumps(rep)


def test_explain_prefix_expansion_counts(eng):
    rep = eng.explain("w00004*", k=10)
    n = rep["prefix_expansions"]["w00004"]
    assert n == len(eng.expand_prefix("w00004")) >= 2
    assert rep["n_fetch_terms"] == n


def test_explain_fragmentation_advisory(eng, spark, tmp_path):
    # the one-batch fixture reports compacted
    seg = eng.explain("w000001")["segments"]
    assert seg["n_commit_units"] == 1
    assert seg["advice"].startswith("compacted")
    assert seg["n_files"] >= 1

    # a second append fragments the index; the advisory flips and
    # names compact_index
    idx = str(tmp_path / "frag")
    build_index(spark, webtext_df(spark, 200), idx,
                partition_seconds=PSEC, block_span=256)
    # a later doc range lands in fresh pids, so resume appends a
    # second commit unit instead of skipping complete pids
    build_index(spark, webtext_df(spark, 200, start=1200), idx,
                partition_seconds=PSEC, block_span=256)
    e2 = SearchEngine(spark, idx)
    try:
        seg2 = e2.explain("w000001")["segments"]
        assert seg2["n_commit_units"] >= 2
        assert "compact_index" in seg2["advice"]
        json.dumps(seg2)
    finally:
        e2.close()
