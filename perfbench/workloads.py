"""The three benchmark workloads and the requests they send.

Every workload is a closed loop with one client: the next request is sent
when the previous one has returned. Request kinds:

- hot: top-10 BM25 over the fixed query pool, whose terms repeat;
- miss: an OR of two terms not used before in the run;
- dashboard: one page, a fixed panel set on the next pool term.

After the loop, a seeded sample of the answers is checked against the
distributed kernel (`search_many` and `search_collect(local=False)`).
"""

from __future__ import annotations

import itertools
import os
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

import corpus
import probes
from miru_spark.webtext import VOCAB

K = 10
BLOCK_SPAN = 512
ROUNDS = 3  # queries of each shape in the hot pool
# A read loop runs at least this many request blocks, so that every p90
# has at least ten samples beyond it.
MIN_BLOCKS = 34
# The loop is cut into windows of at least this many seconds; the host's
# CPU steal is read at each window's edges.
WINDOW_S = 1.0
# A window, or a second before the loop, is quiet when the hypervisor
# stole at most this share of the VM's CPU time in it.
QUIET_STEAL_PCT = 2.0
# Before a loop, wait at most this long for a quiet second.
QUIET_WAIT_S = 6.0
# Pool terms: Zipf-head words (after the stopwords) and topic-band words.
# Miss terms: topic-band words the pool does not use.
HEAD = VOCAB[VOCAB.index("w000000"):corpus.TOPIC_LO]
BAND = VOCAB[corpus.TOPIC_LO:corpus.TOPIC_HI]
PANELS = ("count", "waveform", "distincts", "metrics", "trending",
          "gather_features", "strut", "reco")
FEATUREOPS = ("gather_features", "strut", "reco")
SHAPES = (
    ("{} AND {}", "hb"),                  # AND2
    ("{} AND {} AND {} AND {}", "hhhb"),  # AND4
    ("{} OR {} OR {}", "bbb"),            # OR3
    ("{} AND ({} OR {})", "hbb"),         # mixed
    ("{} AND NOT {}", "bh"),              # NOT
    ("{} AND lang:de", "b"),              # keyword field
    ("{} AND site:[100 TO 140]", "b"),    # numeric range
)


def stratified(rng, words, n: int) -> list[str]:
    """One random word from each of `n` slices of the rank-ordered `words`,
    in order. Slice bounds are evenly spaced in log(rank): Zipf df falls as
    a power of rank, so every slice spans the same df ratio and every seed
    gets nearly the same df mix."""
    first = VOCAB.index(words[0]) + 1
    edges = np.geomspace(first, first + len(words), n + 1).astype(int) - first
    return [str(words[rng.integers(lo, max(lo + 1, hi))])
            for lo, hi in zip(edges, edges[1:])]


class StreamDry(Exception):
    """The miss stream has no fresh terms left."""


class Requests:
    """The seeded request streams of one run."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 0xBE7C])
        self.rng = rng
        need = {c: ROUNDS * sum(k.count(c) for _t, k in SHAPES) for c in "hb"}
        words = {"h": iter(stratified(rng, HEAD, need["h"])),
                 "b": iter(stratified(rng, BAND, need["b"]))}
        self.pool: list[tuple[str, list]] = []
        for _ in range(ROUNDS):
            for text, kinds in SHAPES:
                terms = [next(words[c]) for c in kinds]
                self.pool.append((text.format(*terms), terms))
        # prefixes: every 8th of 8 * ROUNDS narrow slices of the band
        for word in stratified(rng, BAND, 8 * ROUNDS)[::8]:
            stem = word[:-1]
            self.pool.append((stem + "*", [f"{stem}{i}" for i in range(10)]))
        self.pool_terms = {t for _q, ts in self.pool for t in ts}
        self._hot = itertools.cycle(rng.permutation(len(self.pool)))
        band = [t for t in BAND if t not in self.pool_terms]
        self.page_terms = [str(t) for t in rng.permutation(
            [t for t in BAND if t in self.pool_terms])]
        self._page = itertools.cycle(self.page_terms)
        # miss terms: round-robin over 20 rank slices of the rest of the
        # band, each slice in seeded order
        slices = [rng.permutation(s) for s in np.array_split(band, 20)]
        self._miss = (str(s[i]) for i in range(max(map(len, slices)))
                      for s in slices if i < len(s))

    def hot(self) -> tuple[str, list]:
        return self.pool[int(next(self._hot))]

    def miss(self) -> tuple[str, list]:
        try:
            a, b = str(next(self._miss)), str(next(self._miss))
        except StopIteration:
            raise StreamDry from None
        return f"{a} OR {b}", [a, b]

    def page_term(self) -> str:
        return str(next(self._page))

    def block(self, template: list[str]) -> list[str]:
        return [template[i] for i in self.rng.permutation(len(template))]


class Run:
    """Latencies, failures and spans of one benchmark run."""

    def __init__(self, spark, tracer, seed: int, seconds: float, log):
        self.spark = spark
        self.tracer = tracer
        self.traced_run = tracer.enabled
        self.seconds = seconds
        self.log = log
        self.reqs = Requests(seed)
        self.lat: dict[str, list] = defaultdict(list)
        self.lat_window: dict[str, list] = defaultdict(list)
        self.lat_traced: dict[str, list] = defaultdict(list)
        self.window_steal: list[float] = []  # steal % of each loop window
        self.quiet_windows: set = set()
        self.attempted = 0
        self.failed = 0
        self.seen_terms: set = set()
        self.term_uses = [0, 0]  # [repeated, total] over a traced run
        self.explains: list[dict] = []
        self.hits: list[int] = []
        self.answers: list[tuple] = []  # (kind, query, top-k rows)
        self.last_traced = False
        self.out: dict = {}

    def fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        self.log(f"FAILED {what} {detail}")

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def op(self, kind: str, fn):
        """One timed request. A traced run traces every other request; the
        untraced ones measure the tracing overhead."""
        self.attempted += 1
        tr = self.tracer
        traced = self.traced_run and self.attempted % 2 == 0
        self.last_traced = traced
        tr.enabled = traced
        t0 = time.perf_counter()
        try:
            with tr.span(f"harness:{kind}", request=tr.new_request(),
                         spark=True):
                out = fn()
        except Exception:
            self.fail(kind, traceback.format_exc(limit=4))
            return None
        finally:
            tr.enabled = self.traced_run
        ms = (time.perf_counter() - t0) * 1e3
        if traced:
            self.lat_traced[kind].append(ms)
        else:
            self.lat[kind].append(ms)
            self.lat_window[kind].append(len(self.window_steal))
        return out

    def quiet(self, kind: str) -> list[float]:
        """The untraced samples of `kind` taken in the loop's quiet
        windows: those whose CPU steal is at most QUIET_STEAL_PCT, or at
        most the median window's when fewer than half are that quiet.
        Another guest's burst slows every request it overlaps, so a
        sample from a stolen second measures the neighbour as much as the
        program. The report prints the all-window medians beside these."""
        return [x for x, w in zip(self.lat[kind], self.lat_window[kind])
                if w in self.quiet_windows]

    def loop(self, seconds: float, template: list[str], handlers: dict
             ) -> float:
        """Whole seeded blocks of requests until `seconds` have passed and
        at least MIN_BLOCKS blocks ran; returns requests per second. Also
        records, as run health, the CPU this process and its children
        (the JVM, Spark's Python workers) used per second of the loop."""
        cpu0 = (time.process_time(), probes.children_cpu_s())
        t0 = time.perf_counter()
        try:
            return self._blocks(seconds, template, handlers, t0)
        finally:
            wall = time.perf_counter() - t0
            self.out["loop_cpu_share"] = {
                "self": (time.process_time() - cpu0[0]) / wall,
                "children": (probes.children_cpu_s() - cpu0[1]) / wall,
            }

    def wait_quiet(self, eng) -> None:
        """Send untimed pool searches, at most QUIET_WAIT_S, until the
        host has a quiet second, so that a loop does not start inside
        another guest's burst. Steal only accrues to a vCPU that wants to
        run, so the host is probed under load, not asleep."""
        queries = itertools.cycle([q for q, _terms in self.reqs.pool])
        t0 = time.perf_counter()
        with self.untraced():
            while time.perf_counter() - t0 < QUIET_WAIT_S:
                before, w0 = probes.cpu_times(), time.perf_counter()
                while time.perf_counter() - w0 < WINDOW_S:
                    eng.search_collect(next(queries), k=K)
                steal = probes.steal_pct(before, probes.cpu_times())
                if steal is None or steal <= QUIET_STEAL_PCT:
                    break
        self.out["quiet_wait_s"] = time.perf_counter() - t0

    def _blocks(self, seconds, template, handlers, t0) -> float:
        """The loop itself, in windows of whole blocks. One whose miss
        stream runs dry ends there, and says so."""
        n = 0
        win_t0, win_cpu = t0, probes.cpu_times()

        def close_window(now):
            nonlocal win_t0, win_cpu
            cpu = probes.cpu_times()
            self.window_steal.append(probes.steal_pct(win_cpu, cpu) or 0.0)
            win_t0, win_cpu = now, cpu
            cut = max(QUIET_STEAL_PCT, sorted(self.window_steal)[
                (len(self.window_steal) - 1) // 2])
            self.quiet_windows = {i for i, st in enumerate(self.window_steal)
                                  if st <= cut}

        while True:
            try:
                for kind in self.reqs.block(template):
                    handlers[kind]()
                    n += 1
            except StreamDry:
                close_window(time.perf_counter())
                self.out["miss_stream_dry_s"] = time.perf_counter() - t0
                self.log(f"miss stream ran dry after {n} requests")
                if n < MIN_BLOCKS * len(template):
                    self.attempted += 1
                    self.fail("loop", "miss stream ran dry too early")
                return n / (time.perf_counter() - t0)
            now = time.perf_counter()
            done = n >= MIN_BLOCKS * len(template) and now - t0 >= seconds
            if done or now - win_t0 >= WINDOW_S:
                close_window(now)
            if done:
                return n / (time.perf_counter() - t0)

    @contextmanager
    def untraced(self):
        """Work that must not leave spans (warm-up, checks)."""
        self.tracer.enabled = False
        try:
            yield
        finally:
            self.tracer.enabled = self.traced_run

    # -- requests ---------------------------------------------------------
    def search(self, eng, kind: str, q: str, terms: list) -> None:
        """One timed search. After a traced one, and outside its timing,
        the same query is parsed and explained under its request id, so
        the traced latency carries only the cost of tracing itself."""
        if self.tracer.enabled:
            self.term_uses[0] += sum(t in self.seen_terms for t in terms)
            self.term_uses[1] += len(terms)
        self.seen_terms.update(terms)

        def call():
            with self.tracer.span("query.engine:search_collect"):
                return eng.search_collect(q, k=K)

        rows = self.op(kind, call)
        self.answers.append((kind, q, rows))
        if self.last_traced and rows is not None:
            self.hits.append(len(rows))
            self.profile(eng, q)

    def profile(self, eng, q: str) -> None:
        from miru_spark.queryparse import parse_query

        tr, request = self.tracer, self.tracer.current_request()
        with tr.span("queryparse:parse_query", request=request):
            parse_query(q)
        with tr.span("query.engine:explain", request=request):
            self.explains.append(eng.explain(q, k=K))

    def hot(self, eng) -> None:
        q, terms = self.reqs.hot()
        self.search(eng, "hot", q, terms)

    def miss(self, eng) -> None:
        q, terms = self.reqs.miss()
        self.search(eng, "miss", q, terms)

    def dashboard(self, eng) -> None:
        term = self.reqs.page_term()
        self.op("dashboard", lambda: self.page(eng, term))

    def page(self, eng, term: str) -> None:
        calls = {
            "count": lambda: eng.count(term),
            "waveform": lambda: eng.waveform(term, bucket_seconds=86400),
            "distincts": lambda: eng.distincts("lang", term),
            "metrics": lambda: eng.metrics("site", term, 86400, "avg"),
            "trending": lambda: eng.trending("lang", term,
                                             bucket_seconds=86400),
            "gather_features": lambda: eng.gather_features(
                ("lang", "site"), query=term),
            "strut": lambda: eng.strut("lang", [(1.0, "site")],
                                       query=term, k=K),
            "reco": lambda: eng.reco(("lang", "de"), "site", "lang",
                                     "doclen", k=K, constraints=term),
        }
        for p in PANELS:
            layer = "query.featureops" if p in FEATUREOPS else "query.engine"
            with self.tracer.span(f"{layer}:{p}"):
                calls[p]()

    def warm_up(self, eng) -> None:
        """Every request kind, untimed, so lazy init is charged to set-up:
        every pool query and every page term once, so hot searches and
        pages start hot, and one miss search."""
        with self.untraced():
            for q, _terms in self.reqs.pool:
                eng.search_collect(q, k=K)
            for term in self.reqs.page_terms:
                self.page(eng, term)
            q, terms = self.reqs.miss()
            self.seen_terms.update(terms)
            eng.search_collect(q, k=K)

    def sample(self, per_kind: int = 2) -> list[tuple]:
        """`per_kind` hot and miss answers, chosen by the run's seed."""
        out = []
        for kind in ("hot", "miss"):
            got = [a for a in self.answers
                   if a[0] == kind and a[2] is not None]
            for i in self.reqs.rng.choice(len(got), min(per_kind, len(got)),
                                          replace=False):
                out.append(got[int(i)])
        return out


def same_topk(a: list, b: list) -> bool:
    return [tuple(r[:3]) for r in a] == [tuple(r[:3]) for r in b]


def open_engine(run: Run, index_dir: str, **kw):
    from miru_spark.query import SearchEngine

    with run.tracer.span("query.engine:open"):
        return SearchEngine(run.spark, index_dir, **kw)


def build(run: Run, corpus_dir: str, index_dir: str, resume: bool = False):
    from miru_spark.index import build_index

    with run.tracer.span(
        f"index.build:{'append' if resume else 'build'}", spark=True
    ):
        return build_index(
            run.spark, run.spark.read.parquet(corpus_dir), index_dir,
            partition_seconds=corpus.PARTITION_SECONDS,
            block_span=BLOCK_SPAN, resume=resume,
        )


def timed_build(run: Run, corpus_dir: str, index_dir: str) -> None:
    t0 = time.perf_counter()
    rep = build(run, corpus_dir, index_dir)
    run.out["build_s"] = time.perf_counter() - t0
    run.out["build_docs"] = rep.n_docs


def route_identity(run: Run, index_dir: str) -> None:
    """A seeded sample of the run's hot and miss answers must come back
    identical from an engine with `local_max_postings=0`, whose routing
    sends every op to the Spark kernel: one `search_many` batch over the
    sample, and single searches for one hot and one miss query."""
    from miru_spark.query import SearchEngine

    sample = run.sample()
    queries = [q for _kind, q, _rows in sample]
    try:
        with run.untraced():
            dist = SearchEngine(run.spark, index_dir, local_max_postings=0)
        with run.tracer.span("query.engine:dist_search_many", spark=True):
            batch = dist.search_many(queries, k=K)
        single = {}
        for q in (queries[0], queries[-1]):
            with run.tracer.span("query.engine:dist_search", spark=True):
                single[q] = dist.search_collect(q, k=K)
        dist.close()
    except Exception:
        run.attempted += 1
        run.fail("distributed route", traceback.format_exc(limit=4))
        return
    for kind, q, rows in sample:
        run.check(f"serving == distributed search_many ({kind}) {q!r}",
                  same_topk(rows, batch[q]))
        if q in single:
            run.check(f"serving == distributed search ({kind}) {q!r}",
                      same_topk(rows, single.pop(q)))


# Requests of each kind in one seeded block. No traffic trace of this
# engine exists, so the mix is an assumption, chosen for sample counts: a
# 10 s loop gets hundreds of hot and miss searches and dozens of pages.
# The gated metrics are per-kind medians; `ops_per_s`, the throughput of
# this blend, is printed but not gated, so the assumed mix sets no gate.
MIX = {"hot": 8, "miss": 3, "dashboard": 1}


def read_loop(run: Run, eng, seconds: float) -> None:
    """The serving-node request mix, MIX per seeded block."""
    run.wait_quiet(eng)
    run.out["ops_per_s"] = run.loop(
        seconds, [k for k, n in MIX.items() for _ in range(n)],
        {"hot": lambda: run.hot(eng), "miss": lambda: run.miss(eng),
         "dashboard": lambda: run.dashboard(eng)},
    )


# -- workloads ----------------------------------------------------------------
def serve(run: Run, ctx: dict) -> None:
    """Serving node over a fresh index: hot and miss searches and full
    dashboard pages, answered in-process (no Spark job)."""
    timed_build(run, ctx["corpus"]["base"], ctx["index"])
    eng = open_engine(run, ctx["index"])
    run.warm_up(eng)
    run.out["setup_end"] = time.perf_counter()
    read_loop(run, eng, run.seconds)
    route_identity(run, ctx["index"])
    run.out["engine"] = eng


APPENDS = 4
PROBES = 6


def ingest(run: Run, ctx: dict) -> None:
    """Writes beside reads: build, append micro-batches each followed by
    tombstones, a reopen and a probe query, a read burst on the fragmented
    index, then compaction."""
    from miru_spark.index import compact_index, remove_docs

    idx = ctx["index"]
    with run.untraced():
        build(run, ctx["corpus"]["warm"], ctx["warm_index"])
    run.out["setup_end"] = time.perf_counter()

    timed_build(run, ctx["corpus"]["base"], idx)
    with run.untraced():
        eng = open_engine(run, idx)
        probe = run.reqs.pool[0][0]
        last = eng.search_collect(probe, k=K)
    removed: set = set()
    appended, append_s, refresh, victims = 0, 0.0, [], 0
    for i in range(APPENDS):
        t0 = time.perf_counter()
        rep = build(run, ctx["corpus"][f"append{i}"], idx, resume=True)
        append_s += time.perf_counter() - t0
        appended += rep.n_docs
        # tombstone the probe's current top 3, so the check below bites
        pairs = [(int(r[0]), int(r[1])) for r in last[:3]]
        with run.tracer.span("index.removals:remove_docs", spark=True):
            victims += remove_docs(run.spark, idx, pairs)
        removed.update(pairs)
        t0 = time.perf_counter()
        old, eng = eng, open_engine(run, idx)
        last = eng.search_collect(probe, k=K)
        refresh.append((time.perf_counter() - t0) * 1e3)
        old.close()
        run.check(f"no tombstoned doc after append {i}",
                  not removed & {(r[0], r[1]) for r in last})
    run.check("doc count == base + appended",
              eng.n_docs == run.out["build_docs"] + appended)

    t0 = time.perf_counter()
    run.warm_up(eng)
    run.out["warmup_s"] = time.perf_counter() - t0
    read_loop(run, eng, run.seconds / 2)
    for kind, q, rows in run.answers:
        if rows is not None:
            run.check(f"no tombstoned doc ({kind}) {q!r}",
                      not removed & {(r[0], r[1]) for r in rows})
    route_identity(run, idx)

    with run.untraced():
        probe_qs = [q for q, _t in run.reqs.pool[:PROBES]]
        before = {q: eng.search_collect(q, k=K) for q in probe_qs}
    units_before = commit_units(idx)
    t0 = time.perf_counter()
    with run.tracer.span("index.compact:compact_index", spark=True):
        crep = compact_index(run.spark, idx)
    compact_s = time.perf_counter() - t0
    new_unit = os.path.join(idx, "segments", f"b_{crep['tag']}")
    with run.untraced():
        eng.close()
        eng = open_engine(run, idx)
        for q in probe_qs:
            run.check(f"same answer after compaction {q!r}",
                      same_topk(before[q], eng.search_collect(q, k=K)))
    run.out.update(
        appended=appended, append_s=append_s, refresh_ms=refresh,
        tombstones=victims, compact_s=compact_s,
        compact_bytes=probes.dir_bytes(new_unit),
        units_before=units_before, units_after=commit_units(idx),
        engine=eng,
    )


def commit_units(index_dir: str) -> int:
    return sum(d.startswith("b_")
               for d in os.listdir(os.path.join(index_dir, "segments")))


WORKLOADS = {"serve": serve, "ingest": ingest}
