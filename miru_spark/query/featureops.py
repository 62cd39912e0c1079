"""Index-backed reco / strut / gatherFeatures -- the last reference
plugin family re-expressed over the real inverted index.

Re-expresses, over the blocked-postings index (not the event table):

- gatherFeatures: per-doc feature value-tuple co-occurrence counts over
  a match set (miru-plugin/.../solution/MiruAggregateUtil.java:77-291
  `gatherFeatures`: for each answer bitmap, walk its activities and
  count each observed combination of the feature fields' terms).
- collaborative filtering: the 3-hop bitmap walk of
  miru-reco-plugins/.../reco/CollaborativeFiltering.java:75-213
  ("I have viewed these things; among others who have also viewed
  these things, what have they viewed that I have not?").
- strut: model-weighted feature scoring of candidate terms,
  miru-stream-plugins/.../strut/Strut.java:82-236 (score:330-341
  max-accumulate, finalizeScore:367-397 per Strategy.java:6-10
  UNIT_WEIGHTED / REGRESSION_WEIGHTED / MAX), with the
  StrutModelScorer.java score-cache analog.
- inbox: the per-stream inbox dimension -- a composed stream field
  plays MiruInboxIndex (one posting list per streamId,
  miru-plugin/.../index/MiruInboxIndex.java), the aggregate-counts
  page machinery answers the stream question
  (miru-stream-plugins/.../filter/AggregateCountsInboxQuestion.java),
  and the streamed read-state table resolves unread flags the way
  MiruJustInTimeBackfillerizer applies READ/UNREAD/MARK_ALL_READ WAL
  ops to the unread bitmap (miru-service/.../stream/
  MiruJustInTimeBackfillerizer.java; op types
  MiruPartitionedActivity.java:17-19).

Spark-first shape: every hop is one engine reducer
(`_reduce_distincts` for value presence, `_reduce_pairs` for tuple
counts) run through `SearchEngine._agg` on the route `_route` picks --
the serving node (zero Spark jobs: match evaluation + one take of the
per-pid forward value columns per field group) or ONE composite-kernel
job whose tasks run the same reducer and emit only (value term, count)
or (packed tuple, count) rows. Postings blobs never cross an exchange,
candidate x value cross products happen per-DOC inside a task, and the
global merge is a groupBy over at most |observed tuples| rows. No
all-pairs joins at any scale.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from ..fields import FIELD_SEP, NUMERIC_FIELDS, compose, decode_num
from ..queryparse import with_access

__all__ = ["FeatureOpsMixin"]

# Strut.java finalizeScore strategies (Strategy.java:6-10)
_STRATEGIES = ("unit_weighted", "regression_weighted", "max")


def save_catwalk_model(spark, model: dict, path: str) -> None:
    """Persist a catwalk_train model as parquet -- the catwalk
    service's model store analog (miru-catwalk-shared CatwalkModel /
    miru-catwalk-deployable's amza-backed repository; here a model IS a
    small relation: one row per observed feature tuple). Values
    round-trip exactly via JSON (int/float/str tuple members)."""
    import json

    rows = [
        (int(fi), json.dumps(list(vals)),
         [int(n) for n in nums], int(den))
        for (fi, vals), (nums, den) in model.items()
    ]
    (
        spark.createDataFrame(
            rows,
            "feature_idx long, values_json string, nums array<long>, "
            "den long",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def load_catwalk_model(spark, path: str) -> dict:
    """Inverse of save_catwalk_model: parquet rows back to the
    {(feature_idx, values_tuple): ((num_0, ...), denominator)} dict
    `strut(model=...)` consumes."""
    import json

    return {
        (int(r["feature_idx"]), tuple(json.loads(r["values_json"]))): (
            tuple(int(n) for n in r["nums"]), int(r["den"])
        )
        for r in spark.read.parquet(path).collect()
    }


def _norm_score(v):
    # (nums, den) -> (nums, den, 1); (nums, den, n_partitions) kept
    if len(v) == 2:
        return (tuple(v[0]), int(v[1]), 1)
    return (tuple(v[0]), int(v[1]), int(v[2]))


def merge_catwalk_models(*models) -> tuple[dict, int]:
    """Merge trained catwalk models -- the catwalk service's
    cross-partition model assembly (CatwalkModelService.java:481-492
    merge: numerators add, denominators add, numPartitions add; the
    getModel gather:260-281 tracks how many partition models each
    feature merged). A model fresh out of `catwalk_train` covers ONE
    training scope (num_partitions=1 per tuple); pass either such a
    dict or a previous `(merged_dict, total)` result to fold further --
    which is the 100-TB maintenance shape: train ONLY the new time
    slice, merge into the stored model, never re-scan history (the
    reference stores one model row per (feature, partition range) and
    assembles at read for exactly this reason).

    Returns `(merged, total_partitions)`: merged maps key ->
    (nums, den, num_partitions), total_partitions = how many training
    scopes contributed overall (getModel's totalNumPartitions)."""
    out: dict = {}
    total = 0
    for m in models:
        if isinstance(m, tuple):
            m, t = m
        else:
            t = 1
        total += t
        for key, v in m.items():
            nums, den, np_ = _norm_score(v)
            if key in out:
                onums, oden, onp = out[key]
                if len(onums) != len(nums):
                    raise ValueError(
                        f"numerator arity mismatch for {key}: "
                        f"{len(onums)} vs {len(nums)}"
                    )
                out[key] = (
                    tuple(a + b for a, b in zip(onums, nums)),
                    oden + den,
                    onp + np_,
                )
            else:
                out[key] = (nums, den, np_)
    return out, total


def deflate_model(model: dict, total_partitions: int) -> dict:
    """StrutModelCache.convert:200-208 ("magical deflation"): before
    scoring, each tuple's denominator scales by totalNumPartitions /
    numPartitions, extrapolating the base rate of tuples that only some
    training scopes observed. Returns the {key: (nums, den)} shape
    `strut(model=...)` / `catwalk_train` outputs use (integer floor
    division, matching the reference's long arithmetic)."""
    out = {}
    for key, v in model.items():
        nums, den, np_ = _norm_score(v)
        out[key] = (nums, (den * int(total_partitions)) // np_)
    return out


def _decode_value(field: str, term: str):
    v = term.split(FIELD_SEP, 1)[1]
    return decode_num(v) if field in NUMERIC_FIELDS else v


def _finalize(scores: np.ndarray, strategy: str) -> np.ndarray:
    """Strut.finalizeScore:367-397 vectorized over candidates: scores is
    (n_candidates, n_features) of max-accumulated per-feature scores
    (0 = feature never observed / never positive)."""
    pos = scores > 0.0
    if strategy == "unit_weighted":
        return np.where(
            pos.any(axis=1), scores.sum(axis=1) / scores.shape[1], 0.0
        )
    if strategy == "regression_weighted":
        return scores.sum(axis=1)
    if strategy == "max":
        return scores.max(axis=1, initial=0.0)
    raise ValueError(f"strategy must be one of {_STRATEGIES}")


def _tuple_specs(group_sets: list) -> tuple[list, list]:
    """Batch several features' field groups into one pairs pass:
    ([(offset, groups)], [span]) -- each feature's packed tuple keys own
    [offset, offset + span), span = the product of its group sizes."""
    specs, spans, off = [], [], 0
    for groups in group_sets:
        span = math.prod(max(len(g), 1) for g in groups)
        specs.append((off, groups))
        spans.append(span)
        off += span
    return specs, spans


class FeatureOpsMixin:
    """SearchEngine methods for the reco plugin family. Mixed into
    SearchEngine (engine.py); every `self._*` helper lives there."""

    # -- shared plumbing ---------------------------------------------------

    def _field_terms(
        self, field: str, values=None, min_df: int = 0
    ) -> list[str]:
        """Composed terms of a field: the UNCAPPED dictionary prefix
        scan (every value that EXISTS in the index; field_terms, never
        the wildcard cap -- the reference's gather is uncapped,
        CollaborativeFiltering.java:110-125 streams all distinct
        parents), or an explicit value list composed + filtered to
        existing terms. `min_df` is the callers' EXPLICIT opt-in
        low-value-term floor (default off = exact)."""
        if values is None:
            return self.field_terms(field, min_df=min_df)
        from ..fields import compose_value

        composed = {compose_value(field, v) for v in values}
        if self._term_df is not None:
            df = self._term_df
            return sorted(t for t in composed if t in df)
        # unpinned dictionary: existence-filter via one bounded
        # termstats probe (|values|-sized isin, not a scan)
        rows = (
            self.termstats.filter(F.col("term").isin(sorted(composed)))
            .select("term")
            .distinct()
            .collect()
        )
        return sorted(r["term"] for r in rows)

    def _batched_tuple_counts(
        self, prep: dict, specs: list, spans: list, local: bool
    ) -> list:
        """Per-spec (keys, counts) for several tuple specs (`_tuple_specs`)
        out of ONE `_reduce_pairs` gather: the serving path shares one
        match evaluation + forward-column lookup; the distributed path
        batches every spec into ONE kernel job via per-spec int64 key
        offsets, globally merged by a sum groupBy."""
        cols = self._agg(prep, "pairs", local, tuple_specs=specs)
        o = np.argsort(cols["key"], kind="stable")
        allk, allc = cols["key"][o], cols["cnt"][o]
        out = []
        for (off, _groups), span in zip(specs, spans):
            lo, hi = np.searchsorted(allk, [off, off + span])
            out.append((allk[lo:hi] - off, allc[lo:hi]))
        return out

    def _present_field_terms(
        self, prep: dict, field: str, local: bool, min_df: int = 0
    ) -> list[tuple[str, int]]:
        """(composed term, match count) for every value of `field`
        PRESENT in the match set -- the gather/stream hop of the 3-hop
        walk, one `_reduce_distincts` pass. The distributed route ships
        no value list at all (streamed facet_prefixes mode; the exchange
        and the collect are bounded by present values, never by the
        field's value space). Sorted by composed term. A non-zero
        `min_df` ships the FLOORED enumeration (isin / dense-range
        selection), so sub-floor values' postings are never fetched --
        the documented point of the knob."""
        if local or min_df > 0:
            spec = {"facet_terms": self._field_terms(field, min_df=min_df)}
        else:
            spec = {"facet_prefixes": [f"{field}{FIELD_SEP}"]}
        cols = self._agg(prep, "distincts", local, **spec)
        return sorted(zip(cols["term"].tolist(), cols["cnt"].tolist()))

    def _narrow_wide_groups(
        self, prep: dict, fields: list, groups: list
    ) -> list:
        """Presence pre-pass for tuple gathers over WIDE value spaces:
        for every group larger than FACET_ISIN_MAX, ONE streamed kernel
        job (all wide fields share it via multiple facet prefixes)
        narrows the group to values PRESENT in the match set -- exact
        by construction, a tuple needs every member present. Returns
        the narrowed groups, original list objects where narrow."""
        wide = [
            i for i, g in enumerate(groups)
            if len(g) > self.FACET_ISIN_MAX
        ]
        if not wide:
            return groups
        prefixes = [f"{fields[i]}{FIELD_SEP}" for i in wide]
        rows = (
            self.kernel_frame(
                None, k=0, prep=prep, agg="distincts",
                facet_prefixes=prefixes,
            )
            .select("term")
            .distinct()  # per-task rows dedupe IN SPARK: the driver
            .collect()   # receives one row per present value, never
        )                # values x tasks
        present = {r["term"] for r in rows}
        out = list(groups)
        for i in wide:
            out[i] = [t for t in groups[i] if t in present]
        return out

    # -- gatherFeatures ----------------------------------------------------

    def gather_features(
        self,
        fields: tuple,
        query: str | None = None,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        local: bool | None = None,
        top_n: int | None = None,
        min_value_df: int = 0,
    ) -> list[tuple]:
        """Doc-co-occurrence counts of feature value tuples over the
        docs matching a query (+constraints/authz/time) -- the counting
        core of MiruAggregateUtil.gatherFeatures:77-291 with the match
        set as the single answer bitmap. `fields` is 2 or 3 field names;
        multi-valued fields expand per-DOC (the reference's per-activity
        termIds cross product). Returns [(values_tuple, count)] sorted
        by count desc then values asc, capped at `top_n`
        (topNValuesPerFeature)."""
        fields = tuple(fields)
        if not 2 <= len(fields) <= 3:
            raise ValueError("gather_features takes 2 or 3 fields")
        groups = [
            self._field_terms(f, min_df=min_value_df) for f in fields
        ]
        if not all(groups):
            return []
        prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        run_local = self._route(prep, local, [t for g in groups for t in g])
        if not run_local:
            # wide value spaces: one shared presence pre-pass narrows
            # each oversized group to present values (exact -- a tuple
            # needs every member present)
            groups = self._narrow_wide_groups(prep, list(fields), groups)
            if not all(groups):
                return []
        [(keys, counts)] = self._batched_tuple_counts(
            prep, *_tuple_specs([groups]), run_local
        )
        out = []
        sizes = [len(g) for g in groups]
        for key, c in zip(keys.tolist(), counts.tolist()):
            idxs = []
            for n in reversed(sizes[1:]):
                key, i = divmod(key, n)
                idxs.append(i)
            idxs.append(key)
            idxs.reverse()
            out.append(
                (
                    tuple(
                        _decode_value(f, g[i])
                        for f, g, i in zip(fields, groups, idxs)
                    ),
                    int(c),
                )
            )
        out.sort(key=lambda vc: (-vc[1], vc[0]))
        return out[:top_n] if top_n else out

    # -- collaborative filtering -------------------------------------------

    def reco(
        self,
        my: tuple,
        field1: str,
        field2: str,
        field3: str,
        k: int = 10,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        remove_distincts=None,
        local: bool | None = None,
        min_value_df: int = 0,
    ) -> list[tuple]:
        """The reference's collaborative filtering, hop for hop
        (CollaborativeFiltering.java:75-213) over the inverted index:

        1. myOkActivity = posting(`my` = (field, value)) AND ok
           (constraints/authz/time) -- :102.
        2. distinctParents = distinct `field1` terms I touched (gather,
           :110-125).
        3. otherOkField1Activity = ok activity on those parents MINUS
           mine (orMultiTx + and + andNot, :127-146).
        4. contributors = top-k `field2` terms of that set by count
           (stream into the contributorHeap, :148-166; k is the
           reference's overloaded desiredNumberOfDistincts).
        5. score(parent) = sum of contributor weights over contributors
           who touched the parent (`field3` gather per contributor,
           distinct per contributor, parents + removeDistincts excluded
           -- :168-213). Here hop 5 is ONE tuple-counts pass
           (contributor x parent presence), not a per-contributor loop.
        6. Top-k parents by (score desc, value asc). field2 == field3
           short-circuits to the contributor heap (:170-173).

        `min_value_df` (default 0 = exact) is the EXPLICIT cost knob
        for wide value spaces: every hop's candidate values skip terms
        with df below the floor BEFORE their postings are fetched --
        the engine-side rendering of the reference's multi-term-walk
        term skipping (LabFieldIndex.multiTxIndex
        considerIfLastIdGreaterThanN, LabFieldIndex.java:339-419).
        Non-zero floors drop rare parents/contributors by construction.

        Serving path: zero Spark jobs (three match evaluations).
        Distributed path: one kernel job per hop, three total."""
        allow_ph = bool(self.meta.get("positions", False))
        my_term = compose(str(my[0]), str(my[1]).lower())
        my_tree = with_access(
            ("term", my_term), constraints, authz, locale, allow_ph
        )
        prep_my = self._prep_tree(my_tree, time_range_us)
        f1_terms = self._field_terms(field1, min_df=min_value_df)
        if not f1_terms:
            return []
        run_local = self._route(
            prep_my,
            local,
            f1_terms + self._field_terms(field2, min_df=min_value_df),
        )
        # hop 1+2: distinct field1 parents of my ok activity -- the
        # streamed gather: distributed route ships no parent value
        # list, the collect is bounded by MY distinct parents
        parents = [
            t for t, _c in self._present_field_terms(
                prep_my, field1, run_local, min_value_df
            )
        ]
        if not parents:
            return []
        # hop 3+4: other ok activity on those parents -> contributors
        other_tree = (
            "not",
            with_access(
                ("or", [("term", t) for t in parents]),
                constraints, authz, locale, allow_ph,
            ),
            my_tree,
        )
        prep_other = self._prep_tree(other_tree, time_range_us)
        ranked = sorted(
            (
                (int(c), t)
                for t, c in self._present_field_terms(
                    prep_other, field2, run_local, min_value_df
                )
            ),
            key=lambda ct: (-ct[0], ct[1]),
        )[: max(k, 1)]
        if not ranked:
            return []
        if field2 == field3:
            # special case :170-173 -- contributors ARE the answer
            return [
                (_decode_value(field3, t), int(c)) for c, t in ranked
            ][:k]
        contrib_terms = [t for _c, t in ranked]
        weights = {t: c for c, t in ranked}
        # hop 5: contributor x parent presence in ONE pass
        contrib_tree = with_access(
            ("or", [("term", t) for t in contrib_terms]),
            constraints, authz, locale, allow_ph,
        )
        prep_c = self._prep_tree(contrib_tree, time_range_us)
        f3_terms = self._field_terms(field3, min_df=min_value_df)
        if not f3_terms:
            return []
        if not run_local:
            # wide field3: ship only parents PRESENT in the
            # contributors' activity (hop 5 scores presence; absent
            # parents contribute nothing)
            [f3_terms] = self._narrow_wide_groups(
                prep_c, [field3], [f3_terms]
            )
            if not f3_terms:
                return []
        groups = [contrib_terms, f3_terms]
        [(keys, _counts)] = self._batched_tuple_counts(
            prep_c, *_tuple_specs([groups]), run_local
        )
        excluded = {t.split(FIELD_SEP, 1)[1] for t in parents}
        if remove_distincts:
            excluded |= {str(v).lower() for v in remove_distincts}
        scores: dict[int, int] = {}
        n3 = len(f3_terms)
        for key in keys.tolist():
            ci, pi = divmod(key, n3)
            if f3_terms[pi].split(FIELD_SEP, 1)[1] in excluded:
                continue
            scores[pi] = scores.get(pi, 0) + weights[contrib_terms[ci]]
        out = [
            (_decode_value(field3, f3_terms[pi]), int(s))
            for pi, s in scores.items()
        ]
        out.sort(key=lambda vs: (-vs[1], str(vs[0])))
        return out[:k]

    # -- strut ---------------------------------------------------------------

    def strut(
        self,
        candidate_field: str,
        features: list,
        model=None,
        model_id: str | None = None,
        strategy: str = "unit_weighted",
        k: int = 10,
        query: str | None = None,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        local: bool | None = None,
        include_features: bool = False,
        min_value_df: int = 0,
    ) -> list[tuple]:
        """Model-weighted feature scoring of candidate terms
        (Strut.yourStuff, Strut.java:82-236): candidates are the
        `candidate_field` values present in the match set; for each
        candidate, every observed feature value tuple looks up a model
        score s = numerators/denominator (clipped to [0,1], :173-186)
        and max-accumulates s x featureScalar into that feature's slot
        (score:330-341); finalizeScore combines the slots per strategy
        (:367-397, Strategy.java UNIT_WEIGHTED/REGRESSION_WEIGHTED/MAX).

        `features` = [(scalar, field_or_fields), ...] (CatwalkFeature
        featureFields of 1 or 2 fields here). `model` maps
        (feature_idx, values_tuple) -> (numerator, denominator) | float;
        None scores every observed tuple 1.0. `model_id` set enables the
        serving-node score cache (StrutModelScorer.java analog -- keyed
        by model + request + index version, so repeated strut questions
        skip the gather entirely; `self.strut_cache_hits` counts).

        Returns [(candidate_value, score)] top-k by (score desc, value
        asc); with include_features=True each row appends the
        per-feature score vector (the Hotness list analog)."""
        if strategy not in _STRATEGIES:
            raise ValueError(f"strategy must be one of {_STRATEGIES}")
        feats = []
        for scalar, ff in features:
            ff = (ff,) if isinstance(ff, str) else tuple(ff)
            if not 1 <= len(ff) <= 2:
                raise ValueError("a strut feature takes 1 or 2 fields")
            feats.append((float(scalar), ff))
        cache_key = None
        if model_id is not None:
            rem = self._removed_comp
            cache_key = (
                model_id, candidate_field,
                tuple((s, f) for s, f in feats), strategy, k, query,
                locale, time_range_us, repr(constraints),
                tuple(authz) if authz else None, include_features,
                int(min_value_df),
                (int(rem.size), int(rem[0]), int(rem[-1]))
                if rem is not None and rem.size else None,
            )
            hit = self._strut_cache.get(cache_key)
            if hit is not None:
                self.strut_cache_hits += 1
                return hit
        cand_terms = self._field_terms(
            candidate_field, min_df=min_value_df
        )
        if not cand_terms:
            return []
        prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        field_groups = {
            f: self._field_terms(f, min_df=min_value_df)
            for _s, ff in feats
            for f in ff
        }
        run_local = self._route(
            prep,
            local,
            [t for g in [cand_terms, *field_groups.values()] for t in g],
        )
        if not run_local:
            # wide candidate/feature spaces: ONE shared streamed
            # presence pre-pass narrows every oversized group to values
            # PRESENT in the match set (exact -- absent values
            # contribute zero tuples), so the pairs exchange ships
            # |present| values' postings instead of whole field ranges.
            # This is the distributed rendering of the reference
            # rescoring only gathered candidates (StrutQuestion gathers
            # first, StrutQuestion.java:136-210)
            fnames = list(field_groups)
            narrowed = self._narrow_wide_groups(
                prep,
                [candidate_field] + fnames,
                [cand_terms] + [field_groups[f] for f in fnames],
            )
            cand_terms = narrowed[0]
            if not cand_terms:
                return []
            field_groups = dict(zip(fnames, narrowed[1:]))
        # every feature's tuple counts come out of ONE gather: the
        # serving path shares one match evaluation + value-column take
        # across features; the distributed path batches all features
        # into ONE kernel job via per-feature key offsets (tuple_specs)
        # -- F catwalk features never cost F jobs.
        specs, spans = _tuple_specs(
            [[cand_terms] + [field_groups[f] for f in ff] for _s, ff in feats]
        )
        per_feature = [
            keys
            for keys, _counts in self._batched_tuple_counts(
                prep, specs, spans, run_local
            )
        ]
        fscores = np.zeros((len(cand_terms), len(feats)), dtype=np.float64)
        for i, (scalar, ff) in enumerate(feats):
            _o, groups = specs[i]
            if not all(groups):
                continue
            keys = per_feature[i]
            sizes = [len(g) for g in groups]
            for key in keys.tolist():
                idxs = []
                for n in reversed(sizes[1:]):
                    key, j = divmod(key, n)
                    idxs.append(j)
                idxs.reverse()
                ci = key
                vals = tuple(
                    _decode_value(f, field_groups[f][j])
                    for f, j in zip(ff, idxs)
                )
                if model is None:
                    s = 1.0
                else:
                    got = (
                        model(i, vals) if callable(model)
                        else model.get((i, vals))
                    )
                    if got is None:
                        continue
                    if isinstance(got, tuple):
                        num, den = got
                        s = float(num) / float(den) if den else 0.0
                    else:
                        s = float(got)
                    # Strut.java:177-186 clips >1 and NaN
                    s = 0.0 if s != s else min(s, 1.0)
                up = s * scalar
                # score():330-341 -- max-accumulate when positive
                if up > 0.0 and up > fscores[ci, i]:
                    fscores[ci, i] = up
        final = _finalize(fscores, strategy)
        order = np.argsort(-final, kind="stable")
        out = []
        for ci in order.tolist():
            if final[ci] <= 0.0 or len(out) >= k:
                break
            row = (
                _decode_value(candidate_field, cand_terms[ci]),
                float(final[ci]),
            )
            if include_features:
                row = (*row, fscores[ci].tolist())
            out.append(row)
        if cache_key is not None:
            if len(self._strut_cache) >= 128:
                self._strut_cache.pop(next(iter(self._strut_cache)))
            self._strut_cache[cache_key] = out
        return out

    # -- catwalk training ------------------------------------------------------

    def catwalk_train(
        self,
        features: list,
        numerator_queries: list,
        query: str | None = None,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        local: bool | None = None,
    ) -> dict:
        """Train a strut model FROM THE INDEX -- the reference's Catwalk
        (miru-stream-plugins/.../catwalk/Catwalk.java:120-197): per
        feature value tuple, numerators[i] = docs carrying the tuple
        that also match `numerator_queries[i]` (:126-131), denominator =
        the tuple's total match cardinality in the gather scope (:163).
        Partition models merge by SUMMING numerators and denominators
        (CatwalkAnswerMerger.java:74-80) -- which is exactly what the
        global groupBy of the kernel's (packed tuple, count) rows does,
        so this IS the cluster-wide trainer.

        `features` uses strut's shape: [(scalar, field_or_fields), ...]
        (scalars ignored here, kept so one spec drives both train and
        score). Returns {(feature_idx, values_tuple):
        ((num_0, ..., num_k), denominator)} -- feed it to `strut` as
        `model={k: (max(nums), den), ...}` or wrap per numerator.

        One gather per match set: denominator scope + each numerator
        query = 1 + len(numerator_queries) passes, each a single kernel
        job distributed (tuple_specs batches all features) or a shared
        serving-node pass. The model size is O(observed tuples), never
        O(docs)."""
        feats = []
        for scalar, ff in features:
            ff = (ff,) if isinstance(ff, str) else tuple(ff)
            feats.append((float(scalar), ff))
        field_groups = {
            f: self._field_terms(f) for _s, ff in feats for f in ff
        }
        specs, spans = _tuple_specs(
            [[field_groups[f] for f in ff] for _s, ff in feats]
        )

        def _decode(fi: int, key: int) -> tuple:
            _o, groups = specs[fi]
            ff = feats[fi][1]
            sizes = [len(g) for g in groups]
            idxs = []
            for n in reversed(sizes[1:]):
                key, j = divmod(key, n)
                idxs.append(j)
            idxs.append(key)
            idxs.reverse()
            return tuple(
                _decode_value(f, g[j])
                for f, g, j in zip(ff, groups, idxs)
            )

        base_prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        run_local = self._route(
            base_prep, local, [t for g in field_groups.values() for t in g]
        )
        den = self._batched_tuple_counts(
            base_prep, specs, spans, run_local
        )
        nums = []
        for nq in numerator_queries:
            # numerator scope = base scope AND the numerator query
            # (Catwalk ANDs numerator term sets into the answer bitmap)
            nprep = self._prep_query(
                nq, locale, time_range_us,
                constraints=base_prep["tree"], authz=None,
            )
            nums.append(
                self._batched_tuple_counts(nprep, specs, spans, run_local)
            )
        model: dict = {}
        for fi in range(len(feats)):
            dk, dc = den[fi]
            dmap = dict(zip(dk.tolist(), dc.tolist()))
            nmaps = [
                dict(zip(nk.tolist(), nc.tolist()))
                for nk, nc in (nums[i][fi] for i in range(len(nums)))
            ]
            for key, d in dmap.items():
                model[(fi, _decode(fi, key))] = (
                    tuple(int(m.get(key, 0)) for m in nmaps),
                    int(d),
                )
        return model

    # -- inbox ---------------------------------------------------------------

    def inbox(
        self,
        stream_id,
        item_field: str = "item",
        stream_field: str = "stream",
        query: str | None = None,
        start: int = 0,
        count: int = 10,
        unread_only: bool = False,
        read_state=None,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        local: bool | None = None,
    ) -> dict:
        """The inbox stream question: newest-first page of distinct
        `item_field` values among the stream's matching docs, each with
        its match count and an unread flag, plus the stream's total
        unread count -- AggregateCountsInboxQuestion semantics (inbox
        bitmap AND constraints AND authz, unread filter optional) where
        the inbox bitmap is the composed `stream_field:stream_id`
        posting list (MiruInboxIndex: one bitmap per streamId).

        `read_state` resolves unread the backfillerizer way
        (MiruJustInTimeBackfillerizer applies READ/UNREAD/MARK_ALL_READ
        against inbox activity; rules restated in ops/readstate.py):
        an item is unread iff never marked, explicitly 'unread', or its
        newest matching activity is strictly newer than its effective
        read mark. Accepts the streamed state table (a path to the
        stream_read_state state dir, a DataFrame of its rows, or a
        driver-side row list) -- reads arriving AFTER the index build
        are consumed at query time, no rebuild. With a state table the
        stream key must be its numeric user_id.

        Returns {"page": [...aggregate-counts rows + "unread"...],
        "n_unread", "n_items"}. The page gather is bounded by the
        stream's distinct items (one user's inbox -- the same per-stream
        bound the reference's per-streamId bitmaps give)."""
        stream_tree = (
            "term", compose(stream_field, str(stream_id).lower())
        )
        if constraints is not None and not isinstance(constraints, tuple):
            from ..queryparse import parse_query

            constraints = parse_query(
                constraints, locale, bool(self.meta.get("positions", False))
            )
        combined = (
            stream_tree if constraints is None
            else ("and", [stream_tree, constraints])
        )
        n_vals = len(self._field_terms(item_field))
        if not n_vals:
            return {"page": [], "n_unread": 0, "n_items": 0}
        # unread resolution needs every item's last-activity ts but only
        # the returned page's display rows: fetch the full value list
        # WITHOUT the per-doc url gather (timestamps come from the
        # cached time index, O(pids)), then point-gather urls for the
        # final page only -- O(k), not O(stream items)
        rows = self.aggregate_counts(
            item_field, query=query, start=0, count=n_vals,
            locale=locale, time_range_us=time_range_us,
            constraints=combined, authz=authz, local=local,
            gather_urls=False,
        )
        explicit, m_ts = self._stream_read_marks(
            read_state, stream_id, self.spark
        )
        for r in rows:
            last_act = int(r["warc_us"])
            e = explicit.get(str(r["value"]).lower())
            if e is None and m_ts is None:
                unread = True
            elif m_ts is not None and (e is None or m_ts >= e[1]):
                unread = last_act > m_ts
            elif e[0] == "unread":
                unread = True
            else:
                unread = last_act > e[1]
            r["unread"] = unread
        n_unread = sum(1 for r in rows if r["unread"])
        page = [r for r in rows if r["unread"]] if unread_only else rows
        page = page[int(start): int(start) + int(count)]
        if page:
            pids = np.array([r["pid"] for r in page], dtype=np.int64)
            docs = np.array([r["doc_id"] for r in page], dtype=np.int64)
            gathered = self._gather_rows(
                pids, docs, np.zeros(pids.size)
            )
            urls = {(p, d): u for u, _w, p, d, _s in gathered}
            for r in page:
                r["url"] = urls.get((r["pid"], r["doc_id"]))
        return {
            "page": page,
            "n_unread": n_unread,
            "n_items": len(rows),
        }

    @staticmethod
    def _stream_read_marks(read_state, stream_id, spark=None):
        """Normalize a read-state source to this stream's driver-side
        marks: ({item_value -> (op, ts_us)}, markall_cutoff_us|None).
        The collect is one stream's touched items -- the same per-stream
        payload the reference pins as that streamId's unread bitmap."""
        if read_state is None:
            return {}, None
        rows = read_state
        if isinstance(read_state, str):
            from ..streaming.readstate import read_state as _load

            df = _load(spark, read_state)
            if df is None:
                return {}, None
            rows = df
        if hasattr(rows, "filter") and hasattr(rows, "collect"):
            try:
                uid = int(stream_id)
            except (TypeError, ValueError):
                raise ValueError(
                    "a read-state table keys streams by numeric "
                    "user_id; pass a driver-side row list for "
                    "non-numeric stream ids"
                )
            rows = rows.filter(F.col("user_id") == uid).collect()
        explicit: dict = {}
        m_ts = None

        def _us(ts):
            if isinstance(ts, (int, float)):
                return int(ts)
            from datetime import timezone

            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=timezone.utc)
            return int(ts.timestamp() * 1_000_000)

        for r in rows:
            get = r.get if isinstance(r, dict) else r.__getitem__
            op = get("op")
            ts_us = _us(get("ts"))
            if op == "mark_all_read":
                m_ts = ts_us if m_ts is None else max(m_ts, ts_us)
            else:
                key = str(get("item")).lower()
                prev = explicit.get(key)
                seq = get("seq") if "seq" in (
                    r.keys() if hasattr(r, "keys") else r
                ) else 0
                if prev is None or (ts_us, seq) >= (prev[1], prev[2]):
                    explicit[key] = (op, ts_us, seq)
        return {
            k: (op, ts) for k, (op, ts, _s) in explicit.items()
        }, m_ts
