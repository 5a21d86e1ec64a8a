#!/usr/bin/env python
"""Physical-plan audit: assert the headline queries compile to the plans
we want at 100 TB — filters pushed to the parquet scan, small dims
broadcast, no accidental cartesian products, windows partitioned (never
a global single-partition window), whole-stage codegen engaged.

Usage: python tools/explain_audit.py [sf_dir]
Exits non-zero on any violated expectation and prints the offending plan.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

CHECKS = {
    # query -> (must_contain, must_not_contain)
    "q_pricing": (["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate"], ["CartesianProduct"]),
    "q_nation_revenue": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    "q_top_customers": (["TakeOrderedAndProject"], ["CartesianProduct"]),
    # NOTE: transcripts are derived from `events` with one row_number
    # window (turn_idx synthesis) — that single Exchange belongs to the
    # sandbox fixture, not the operator; the transform itself is narrow
    # (txt_* checks below prove the no-shuffle property on a plain scan).
    "t_filter_regexp": (["Filter"], ["CartesianProduct"]),
    "w_tumbling": (["HashAggregate"], ["CartesianProduct"]),
    "j_user_tool": ([], ["CartesianProduct"]),
    "j_asof": (["Window"], ["CartesianProduct", "Window whole"]),
    "agg_salted": (["HashAggregate"], ["CartesianProduct"]),
    "dedup_minhash": ([], ["CartesianProduct"]),
    "dedup_ngram_jaccard": ([], ["CartesianProduct"]),
    "ann_brute": (["BroadcastNestedLoopJoin"], []),  # broadcast NLJ is the intended brute plan
    "ann_bucketed": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),  # equi-join on bucket
    # fingerprint is explode+window+agg: exactly one shuffle on doc_id
    # (window and agg share it); quality is pure narrow per-row
    "txt_fingerprint": (["Window"], ["CartesianProduct"]),
    "txt_quality": ([], ["Exchange"]),
    "txt_tokens": ([], ["Exchange"]),  # pure narrow per-row
    "w_session": ([], ["CartesianProduct"]),
    # ingestion replays: breaker/gate plans must stay join-free
    "http_ingest": ([], ["CartesianProduct", "SortMergeJoin"]),
    "api_paginated": ([], ["Exchange"]),  # a spool scan, nothing else
    # banded embedding near-dup: equi-join on band key only
    "dedup_embedding_cos": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # conversation assembly: ONE group agg on conv_id, per-group
    # sort_array — no global sort over the turn table. (A Window DOES
    # appear in the plan, but it's the sandbox fixture's turn_idx
    # derivation — see the transcripts NOTE above — not the operator.)
    "conv_assemble": (["Aggregate"], ["CartesianProduct", "Sort ["]),
    # vocabulary top-k: distributed TakeOrderedAndProject, not a global sort
    "txt_topk_tokens": (["TakeOrderedAndProject"], ["CartesianProduct"]),
    "corpus_stats": (["HashAggregate"], ["CartesianProduct", "SortMergeJoin"]),
    # curation gate: narrow projection + filter over one tokenize pass —
    # strictly shuffle-free
    "corpus_curate": ([], ["Exchange", "CartesianProduct"]),
    # kept-corpus manifest: a LeftAnti join with NO forced broadcast —
    # the drop-list is corpus-sized at real near-dup rates (10¹¹ ids at
    # 10¹² docs), so the strategy is AQE's call: broadcast when small
    # (the fixture case), shuffle when not. Only a cartesian is wrong.
    "dedup_keep": (["LeftAnti"], ["CartesianProduct"]),
    # object-store ingestion replay: a spool scan, nothing else
    "s3_ingest": ([], ["Exchange", "CartesianProduct"]),
    # per-stratum hash sample: a pure filter, shuffle-free
    "corpus_sample": (["Filter"], ["Exchange", "CartesianProduct"]),
    # sequence packing: ONE shuffle on shard feeding the per-shard
    # greedy loop — never a global sort over the corpus
    "corpus_pack": (["FlatMapGroupsInPandas"], ["CartesianProduct", "Sort ["]),
    # decontamination: the (small) eval shingle set must broadcast into
    # the shingle equi-join — never a sort-merge over the corpus side
    "corpus_decontam": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # repetition signals: one tokenize pass, narrow exprs, shuffle-free
    "txt_repetition": ([], ["Exchange", "CartesianProduct"]),
    # composed PII masks: narrow per-row regexes (the plan's single
    # Exchange is the transcripts fixture's turn_idx window derivation —
    # see the transcripts NOTE above — not the operator)
    "pii_scrub": (["Filter|Project"], ["CartesianProduct", "SortMergeJoin"]),
    # BM25 search: distributed top-k; the one BroadcastNestedLoopJoin is
    # the 1-row corpus-stats broadcast (intended), never a cartesian or
    # a sort-merge over the match stream
    "corpus_bm25": (["TakeOrderedAndProject"], ["CartesianProduct", "SortMergeJoin"]),
    # line-level boilerplate strip: flagged lines anti-join back with no
    # forced broadcast (the dedup_keep lesson — AQE decides)
    "txt_boilerplate": (["LeftAnti"], ["CartesianProduct"]),
    # exact-budget mixing: the running sum is a window PARTITIONED BY
    # the stratum (parallel across strata) — never a global sort/window
    "corpus_mix": (["Window"], ["CartesianProduct"]),
    # CEP sequence match: the assemble_conversations class — one shuffle
    # on conv_id, per-group sort_array, NO global sort
    "cep_role_seq": (["Aggregate"], ["CartesianProduct", "Sort ["]),
    # funnel: chained conv-keyed min-aggregates + equi-joins, all on the
    # same key; any stage pairing convs all-to-all is wrong
    "conv_funnel": (["HashAggregate"], ["CartesianProduct"]),
    # rate spikes: ONE map-side-combined aggregate then a per-key
    # integer-RANGE window — partitioned by key, never a whole-table
    # single-partition window
    "rate_spikes": (["Window"], ["CartesianProduct", "Window whole"]),
    # cohort retention: ONE key shuffle (partial collect_set) + explode
    # + small final agg — no join, no window, no all-pairs
    "cohort_retention": (
        ["ObjectHashAggregate", "Generate"],
        ["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # duplicate-passage coverage: passage df groupBy + equi-join back on
    # the passage + per-doc agg — candidate-sized, never doc×doc, and
    # the corpus-sized df table gets no broadcast hint
    "dedup_passage": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # percentile quality gate: the #langs-row threshold table MUST
    # broadcast into the corpus filter; the cumulative window runs on
    # the bounded histogram, never the corpus
    "quality_gate": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # BPE merge induction: distributed top-k over the pair counts,
    # never a global sort
    "vocab_merges": (["TakeOrderedAndProject"], ["CartesianProduct"]),
    # token-window chunking: pure narrow per-row expressions —
    # strictly shuffle-free
    "chunk_rag": ([], ["Exchange", "CartesianProduct"]),
    # cross-snapshot dedup: hashes only cross the wire, one LeftAnti on
    # md5 with no forced broadcast (snapshots are corpus-sized)
    "dedup_incremental": (["LeftAnti"], ["CartesianProduct"]),
    # per-group top-k WITHOUT a per-group sort: two-phase salted
    # collect_list top-k — a Window (full per-group sort) in this plan
    # means the skew-proof shape regressed to the straggler shape
    "group_topk": (
        ["ObjectHashAggregate"],
        ["Window", "CartesianProduct", "SortMergeJoin"],
    ),
    # sessionization: lag/cumsum window PARTITIONED by the key — never a
    # whole-table single-partition window
    "events_sessions": (["Window"], ["CartesianProduct", "Window whole"]),
    # exact length quantiles: the cumulative window runs on the bounded
    # histogram, never the corpus; the corpus-sized op is one hash-agg
    "corpus_quantiles": (["HashAggregate"], ["CartesianProduct"]),
    # response latency: lead window PARTITIONED by conversation
    "conv_latency": (["Window"], ["CartesianProduct", "Window whole"]),
    # index build: salted two-phase postings — a Window here means the
    # capped-posting shape regressed to a per-token sort
    "corpus_index": (["ObjectHashAggregate"], ["Window", "CartesianProduct"]),
    # co-occurrence lift: doc-keyed lead window + pair groupBy +
    # marginal equi-joins; ranking is distributed top-k, never a global
    # sort, and nothing may pair tokens all-to-all
    "cooccur_lift": (
        ["TakeOrderedAndProject", "Window"],
        ["CartesianProduct", "Window whole"],
    ),
    # BPE application: chained builtin replaces — strictly narrow,
    # shuffle-free, no UDFs (an Exchange here means the tokenizer
    # stopped riding the scan)
    "bpe_encode": ([], ["Exchange", "CartesianProduct", "BatchEvalPython"]),
    # lexicon blocklist: one narrow projection, shuffle-free
    "lexicon_filter": ([], ["Exchange", "CartesianProduct"]),
    # tool transitions: lag window PARTITIONED by conversation, then a
    # vocabulary-sized pair aggregate — never a whole-table window
    "tool_transitions": (["Window"], ["CartesianProduct", "Window whole"]),
    # shingle novelty: shingle-keyed min-groupBy + equi-join back +
    # doc rollup — no doc×doc pairs, no corpus-sized broadcast
    "corpus_novelty": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # JSON profiling: keys explode narrow, ONE partial+final aggregate
    # — no join, no window. min/max over STRINGS can't use the
    # fixed-width HashAggregate buffer, so Spark picks SortAggregate;
    # partial (map-side) aggregation still applies and the grouping key
    # cardinality is schema-sized, so the sort is trivial.
    "json_profile": (
        ["SortAggregate"],
        ["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # nested profiling: 4 unioned narrow explode levels (object-valued
    # rows only), still join-free — one partial+final aggregate
    "json_profile_nested": (
        ["SortAggregate", "Union"],
        ["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # exact windowed distinct users: a single distinct aggregate plans
    # as the double-aggregation rewrite (partial groupBy(window, user)
    # dedup → count), NOT the Expand form (that's multi-distinct only);
    # the second shuffle carries one row per distinct pair, never raw
    # events
    "w_distinct": (["HashAggregate"], ["CartesianProduct", "Window", "Expand"]),
    # centroid sufficient statistics: quantize + posexplode narrow,
    # ONE map-side-combined groupBy — model-sized result, no join
    "emb_centroids": (
        ["Generate", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # tokenizer fertility: tokenize-once narrow projection + ONE
    # map-side-combined groupBy(lang) — no join, no window
    "tok_fertility": (
        ["HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # conversation rollup: narrow per-turn quality + ONE groupBy(conv);
    # the transcripts derivation itself uses a conv-partitioned window
    # (turn ordering), so only a WHOLE-table window is forbidden
    "conv_quality": (
        ["HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "Window whole"],
    ),
    # fingerprint retrieval: per-doc winnow window (PARTITIONED by doc)
    # + fp equi-joins + (query, doc) groupBy — never a cross product
    "fingerprint_search": (
        ["Window", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # multi-resolution rollup: a 3-branch union of aggregates, no join;
    # runtime exchange REUSE (hour reads minutely's shuffle, day reads
    # hour's — one corpus scan total) is an AQE final-plan property,
    # pinned in tests/test_scale_ops_r6b.py::test_rollup_reuses_exchanges
    "rollup_multires": (
        ["Union", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "Window whole"],
    ),
    # binned interval join: the range join MUST plan as an EQUI-join on
    # the time bucket (hash/sort-merge) — a BroadcastNestedLoopJoin here
    # means the binning rewrite regressed to the planner's naive range
    # join, which dies once intervals outgrow the driver
    "j_interval": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # snapshot changeset: ONE full-outer equi-join on the id, md5s only
    # on the wire; no forced broadcast (both snapshots corpus-sized)
    "snapshot_diff": (
        ["FullOuter"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # train/val/test split: a pure per-row projection — shuffle-free
    "corpus_split": (["Project"], ["Exchange", "CartesianProduct"]),
    # changeset apply: equi-joins only (the diff's full-outer + the
    # left-anti drop), 16-byte md5s on the wire, never a cross product
    "changeset_apply": (
        ["LeftAnti"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # windowed heavy hitters: ONE map-side-combined groupBy(window,
    # token) + salted two-phase top-k — a row_number Window PARTITIONED
    # BY win_start would funnel each hot window through one task (the
    # transcripts derivation's conv-partitioned turn_idx window is fine)
    "trending_tokens": (
        ["HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "windowspecdefinition(win_start"],
    ),
    # hot-key audit: ONE groupBy(key) + salted global top-k + a 1-row
    # broadcast totals join (BroadcastNestedLoopJoin over 1 row is the
    # intended plan; a Window or a real cartesian is not)
    "skew_profile": (
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["CartesianProduct", "Window"],
    ),
    # cross-snapshot near-dup: band-key + shingle EQUI-joins only —
    # never all-pairs, never a nested loop
    "neardup_cross": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # dialogue-structure profile: conv-partitioned gaps-and-islands
    # windows + two aggs — join-free
    "conv_stats": (
        ["Window", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # CEP negation: ONE conv-partitioned window + ONE conv groupBy —
    # join-free; a window partitioned by nothing would be a global sort
    "cep_absence": (
        ["Window", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # occupancy sweep: the within-bucket prefix runs PARTITIONED BY
    # minute; the only unpartitioned window is the carry scan over
    # one-row-per-minute aggregates (time-range bounded by design)
    "w_concurrency": (
        ["windowspecdefinition(minute#"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # bloom prune (r7 one-pass funnel): the probe is ONE narrow pass —
    # bitset test + broadcast-hash membership join feeding a single
    # aggregate; the fact side is never shuffled for the join
    "bloom_prune": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # upsample: projection + bounded explode ("Generate"), shuffle-free
    "corpus_upsample": (["Generate"], ["Exchange", "CartesianProduct"]),
    # CUSUM: one hourly groupBy; grid join + windows run on key x hour
    # rows; windows PARTITION by key
    "cusum_drift": (
        ["HashAggregate", "windowspecdefinition(key#"],
        ["CartesianProduct"],
    ),
    # pattern library: ONE conversation Aggregate feeds all N regex
    # projections — the amortized-scan claim; no join anywhere
    "cep_multi": (
        ["ObjectHashAggregate|HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # CUBE: one scan feeding Expand (every margin from one pass)
    "corpus_cube": (["Expand"], ["CartesianProduct", "Union"]),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entry_mod
    from vaero_spark.session import get_spark

    spark = get_spark("explain_audit", master="local[8]")
    qs = entry_mod.queries()
    failures = []

    import contextlib

    # patch the CONCRETE class (pyspark.sql.classic...), not the
    # pyspark.sql.DataFrame base — Spark 4's concrete class overrides
    # the action methods, so base-class patches never intercept
    _DF = type(spark.range(1))

    @contextlib.contextmanager
    def no_actions(qname: str):
        """Eager-action guard: BUILDING a query plan must not call
        count/collect/first/take/toPandas — a driver-side action inside
        an operator is a full extra scan per invocation at 100 TB.
        (File listing / parquet schema-inference jobs are fine.)"""
        names = ["count", "collect", "first", "take", "toPandas"]
        saved = {m: getattr(_DF, m) for m in names}

        def banned(m):
            def _f(self, *a, **k):
                failures.append((qname, f"driver-side action .{m}() while building the plan"))
                return saved[m](self, *a, **k)

            return _f

        for m in names:
            setattr(_DF, m, banned(m))
        try:
            yield
        finally:
            for m in names:
                setattr(_DF, m, saved[m])

    # ingestion shims collect at BUILD time by design (the connector is
    # the driver-side subprocess role; the distributed path is the spool
    # stream) — exempt from the action guard, still plan-audited
    # (s3_ingest: the sink PUT + poller spool run at build time — the
    # driver-side-subprocess ingestion role; the distributed path is the
    # spool scan, which IS plan-audited)
    # bloom_prune: the bitset BUILD collects <= m/63 aggregate rows to
    # the driver (model-sized, the IVF-centroid precedent) — exempt;
    # the probe plan, where the corpus lives, is still audited
    ACTION_EXEMPT = {"api_paginated", "s3_ingest", "bloom_prune"}

    for name, (must, must_not) in CHECKS.items():
        guard = contextlib.nullcontext() if name in ACTION_EXEMPT else no_actions(name)
        with guard:
            df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        for frag in must:
            if not any(alt in plan for alt in frag.split("|")):
                failures.append((name, f"missing {frag!r}"))
        for frag in must_not:
            if frag in plan:
                failures.append((name, f"contains {frag!r}"))
        print(f"{'FAIL' if any(f[0] == name for f in failures) else 'OK':4} {name}")
        if any(f[0] == name for f in failures):
            print(plan[:4000])
    if failures:
        print("\nFAILURES:", failures)
        sys.exit(1)
    print("\nALL PLANS OK")


if __name__ == "__main__":
    main()
