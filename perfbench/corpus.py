"""Seeded, vectorized webtext corpus for the benchmark.

Emits the webtext schema (`url, warc_ts, html, text, lang`) that
`miru_spark.index.build_index` reads. Every value is a pure function of
(seed, row index): rows are derived from a counter-based hash, never from
a sequential RNG stream, so any split of a row range into chunks gives
identical rows.

The text of a document mixes two sources:

- background tokens, Zipf(s=1.07) over `miru_spark.webtext.VOCAB`
  (33 stopwords at the head, then `w000000` ..);
- topical tokens: each document draws one to three topic terms from the
  topic band and spends a heavy-tailed share of its tokens on them, so
  a topic term's tf is bursty and BM25 scores and per-block score maxima
  spread, unlike the homogeneous `webtext_df` corpus.

Document lengths are log-normal with a wide sigma (heavy-tailed).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the repository root, for `python3 perfbench/corpus.py` (run.py's child)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from miru_spark.webtext import VOCAB  # noqa: E402

STEP_US = 7_000_000  # one document every 7 s of crawl time
# Index partition span used by the benchmark: 2048 documents per pid.
DOCS_PER_PID = 2048
PARTITION_SECONDS = DOCS_PER_PID * STEP_US // 1_000_000
# First multiple of PARTITION_SECONDS after 2024-01-01T00:00:00Z, so a
# row range that starts at a multiple of DOCS_PER_PID starts a new pid.
BASE_TS_US = 1704077312_000_000
N_SITES = 499
# Topic band: vocabulary indices whose words can be a document's topic.
TOPIC_LO = VOCAB.index("w000100")
TOPIC_HI = VOCAB.index("w004100")
LANGS = np.array(["en", "de", "fr", "und"])
_LANG_CUT = np.array([0.90, 0.95, 0.98])

_VOCAB_PA = pa.array(VOCAB, pa.string())
_ranks = np.arange(1, len(VOCAB) + 1, dtype=np.float64)
_ZIPF_CDF = np.cumsum(_ranks**-1.07)
_ZIPF_CDF /= _ZIPF_CDF[-1]

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer over a uint64 array (wrapping arithmetic)."""
    x = x ^ (x >> np.uint64(30))
    x = x * _M1
    x = x ^ (x >> np.uint64(27))
    x = x * _M2
    return x ^ (x >> np.uint64(31))


def _unit(h: np.ndarray) -> np.ndarray:
    """Top 53 bits of a hash as a float in (0, 1)."""
    return ((h >> np.uint64(11)).astype(np.float64) + 0.5) / float(1 << 53)


def _row_keys(seed: int, rows: np.ndarray) -> np.ndarray:
    salt = _mix(np.array([seed & 0xFFFFFFFFFFFFFFFF], dtype=np.uint64))[0]
    return _mix(rows.astype(np.uint64) * _GOLDEN ^ salt)


def _draw(keys: np.ndarray, stream: int) -> np.ndarray:
    """One uniform per key for an independent named stream."""
    offset = (stream * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    return _unit(_mix(keys + np.uint64(offset)))


def doc_plan(seed: int, start: int, stop: int) -> dict:
    """Per-document parameters of rows [start, stop): length, language,
    topic terms (vocabulary indices, -1 when absent) and topic share."""
    rows = np.arange(start, stop, dtype=np.int64)
    keys = _row_keys(seed, rows)
    z = np.sqrt(-2.0 * np.log(_draw(keys, 1))) * np.cos(
        2.0 * np.pi * _draw(keys, 2)
    )
    length = np.clip(np.exp(4.7 + 0.8 * z), 8, 2048).astype(np.int64)
    lang = LANGS[np.searchsorted(_LANG_CUT, _draw(keys, 3), side="right")]
    n_topics = 1 + (_draw(keys, 4) * 3).astype(np.int64)
    band = TOPIC_HI - TOPIC_LO
    topics = np.stack(
        [TOPIC_LO + (_draw(keys, 10 + t) * band).astype(np.int64)
         for t in range(3)],
        axis=1,
    )
    topics[np.arange(3)[None, :] >= n_topics[:, None]] = -1
    # Pareto(1.2)-tailed share of the document spent on its topics
    share = np.minimum(0.6, 0.01 * _draw(keys, 5) ** (-1.0 / 1.2))
    return {
        "rows": rows,
        "keys": keys,
        "length": length,
        "lang": lang,
        "n_topics": n_topics,
        "topics": topics,
        "share": share,
    }


def token_ids(plan: dict) -> np.ndarray:
    """Vocabulary index of every token of every document, concatenated in
    row order (lengths in `plan["length"]`)."""
    length = plan["length"]
    doc = np.repeat(np.arange(len(length)), length)
    offsets = np.concatenate([[0], np.cumsum(length)[:-1]])
    pos = np.arange(int(length.sum()), dtype=np.int64) - offsets[doc]
    h = _mix(plan["keys"][doc] + (pos.astype(np.uint64) + np.uint64(1))
             * _GOLDEN * np.uint64(7))
    u_kind = _unit(h)
    h2 = _mix(h ^ _GOLDEN)
    background = np.searchsorted(_ZIPF_CDF, _unit(h2), side="right")
    background = np.minimum(background, len(VOCAB) - 1)
    topic_slot = (h2 % plan["n_topics"][doc].astype(np.uint64)).astype(
        np.int64
    )
    topical = plan["topics"][doc, topic_slot]
    return np.where(u_kind < plan["share"][doc], topical, background)


def generate(seed: int, start: int, stop: int) -> pa.Table:
    """Webtext rows [start, stop) for `seed` as an Arrow table."""
    plan = doc_plan(seed, start, stop)
    ids = token_ids(plan)
    offsets = np.concatenate([[0], np.cumsum(plan["length"])]).astype(
        np.int32
    )
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), _VOCAB_PA.take(pa.array(ids))
    )
    text = pc.binary_join(tokens, " ")
    rows = plan["rows"]
    lang = pa.array(plan["lang"])
    site = pa.array((rows % N_SITES).astype(str))
    url = pc.binary_join_element_wise(
        "https://site", site, ".example/", lang, "/page/",
        pa.array(rows.astype(str)), "",
    )
    html = pc.binary_join_element_wise(
        "<html><body><p>", text, "</p></body></html>", ""
    ).cast(pa.binary())
    warc = pa.array(BASE_TS_US + rows * STEP_US).cast(
        pa.timestamp("us", tz="UTC")
    )
    return pa.Table.from_arrays([url, warc, html, text, lang], schema=SCHEMA)


def write_corpus(
    seed: int, start: int, stop: int, out_dir: str, chunk: int = 20_000
) -> int:
    """Write rows [start, stop) as parquet files under `out_dir`, one file
    per `chunk` rows. Returns the UTF-8 byte count of the `text` column,
    the input size the index is measured against."""
    os.makedirs(out_dir, exist_ok=True)
    text_bytes = 0
    for i, lo in enumerate(range(start, stop, chunk)):
        tbl = generate(seed, lo, min(stop, lo + chunk))
        text_bytes += int(pc.sum(pc.binary_length(tbl["text"])).as_py())
        pq.write_table(tbl, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return text_bytes


def mem_bw_gbps() -> float:
    """Single-thread NumPy copy bandwidth of the host, GB/s."""
    a = np.empty(25_000_000, dtype=np.float64)  # 200 MB
    a.fill(1.0)
    t0 = time.perf_counter()
    for _ in range(3):
        a.copy()
    return 3 * a.nbytes * 2 / (time.perf_counter() - t0) / 1e9


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Write seeded corpus slices as parquet; print JSON "
        "{slice dir: text bytes} plus the host memory-bandwidth probe."
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--slice", action="append", default=[], metavar="START:STOP:DIR"
    )
    args = ap.parse_args()
    out = {"text_bytes": {}}
    for spec in args.slice:
        start, stop, out_dir = spec.split(":", 2)
        out["text_bytes"][out_dir] = write_corpus(
            args.seed, int(start), int(stop), out_dir
        )
    out["host_mem_bw_gbps"] = mem_bw_gbps()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
