"""Tests of the benchmark's corpus generator.

    python3 -m pytest perfbench/test_corpus.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import corpus  # noqa: E402
from miru_spark.analyzer import ENGLISH_STOPWORDS  # noqa: E402
from miru_spark.webtext import VOCAB  # noqa: E402


def test_same_rows_under_any_partitioning(tmp_path):
    whole = corpus.generate(7, 100, 3100)
    for cuts in ([100, 800, 2148, 3100], [100, 101, 3099, 3100]):
        parts = [corpus.generate(7, a, b) for a, b in zip(cuts, cuts[1:])]
        assert pa.concat_tables(parts).equals(whole)
    corpus.write_corpus(7, 100, 3100, str(tmp_path / "a"), chunk=512)
    corpus.write_corpus(7, 100, 3100, str(tmp_path / "b"), chunk=5000)
    a, b = (pq.read_table(str(tmp_path / d)).combine_chunks()
            for d in ("a", "b"))
    assert a.equals(b)
    assert a.equals(whole.combine_chunks())


def test_other_seed_gives_other_rows():
    a = corpus.generate(7, 0, 500)["text"].to_pylist()
    b = corpus.generate(8, 0, 500)["text"].to_pylist()
    assert sum(x != y for x, y in zip(a, b)) == 500


def test_schema_and_timestamps():
    t = corpus.generate(3, 0, 2 * corpus.DOCS_PER_PID)
    assert t.schema == corpus.SCHEMA
    us = t["warc_ts"].cast(pa.int64()).to_numpy()
    pids = us // (corpus.PARTITION_SECONDS * 1_000_000)
    # a row range starting at a multiple of DOCS_PER_PID starts a new pid
    assert np.bincount(pids - pids[0]).tolist() == [corpus.DOCS_PER_PID] * 2


def _tf_by_kind(seed: int, n: int):
    """tf of each document's topic terms, and of its other non-stopword
    terms."""
    plan = corpus.doc_plan(seed, 0, n)
    ids = corpus.token_ids(plan)
    doc = np.repeat(np.arange(n), plan["length"])
    pairs, tf = np.unique(doc * len(VOCAB) + ids, return_counts=True)
    d, term = pairs // len(VOCAB), pairs % len(VOCAB)
    is_topic = (plan["topics"][d] == term[:, None]).any(axis=1)
    stop = np.isin(np.array(VOCAB)[term], sorted(ENGLISH_STOPWORDS))
    return tf[is_topic], tf[~is_topic & ~stop]


def test_topic_tf_has_heavier_tail_than_background():
    topic, background = _tf_by_kind(11, 4000)
    assert np.quantile(topic, 0.99) > 4 * np.quantile(background, 0.99)
    assert topic.max() > 10 * background.max()


def test_corpus_builds_with_build_index(tmp_path):
    pytest.importorskip("pyspark")
    from miru_spark.index import build_index
    from miru_spark.query import SearchEngine
    from miru_spark.session import get_spark

    src = str(tmp_path / "corpus")
    corpus.write_corpus(5, 0, corpus.DOCS_PER_PID, src)
    spark = get_spark(app_name="perfbench-corpus-test", master="local[2]")
    rep = build_index(
        spark, spark.read.parquet(src), str(tmp_path / "index"),
        partition_seconds=corpus.PARTITION_SECONDS, block_span=512,
        resume=False,
    )
    assert rep.n_docs == corpus.DOCS_PER_PID
    assert len(rep.pids_built) == 1
    eng = SearchEngine(spark, str(tmp_path / "index"))
    assert len(eng.search_collect("w000100 OR w000101", k=10)) == 10
