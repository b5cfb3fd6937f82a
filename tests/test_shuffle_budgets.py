"""The mechanical shuffle-budget gate (VERDICT r7 item 4), both halves:

1. ``check_budgets`` unit behavior (no Spark) — the comparator bench.py
   runs against the measured sf0.1 shuffle bytes.
2. Scale-independent exchange-COUNT pins per representative plan via
   plans/lint.plan_report — a new exchange or a lost broadcast changes
   these counts deterministically at any SF, so the suite catches the
   plan regression even before a bench run. Includes a deliberately-
   broken plan (an injected repartition, and a de-hinted join) proving
   the gate actually trips.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from aggregator_spark.plans.lint import plan_report
from aggregator_spark.plans.shuffle_budgets import check_budgets

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- unit

def test_check_budgets_flags_over_budget():
    out = check_budgets({"k": 100.0}, 0.1, budgets={"k": 40.0})
    assert len(out) == 1 and "k" in out[0] and "100.0" in out[0]


def test_check_budgets_passes_under_budget():
    assert check_budgets({"k": 39.9}, 0.1, budgets={"k": 40.0}) == []


def test_check_budgets_ignores_other_scales():
    # budgets are sf0.1-specific: the sf1/sf10 scaling runs and local
    # sf0.001 smokes must never trip them
    assert check_budgets({"k": 1e9}, 1.0, budgets={"k": 40.0}) == []
    assert check_budgets({"k": 1e9}, 0.001, budgets={"k": 40.0}) == []


def test_check_budgets_skips_unmeasured_keys():
    # a restricted SPARK_GRAFT_KEYS run measures a subset; absent keys
    # are not violations
    assert check_budgets({}, 0.1, budgets={"k": 40.0}) == []


def test_check_budgets_group_sum():
    # attribution-coupled pairs are capped on their SUM: the probe may
    # attribute a shared eager sub-plan's bytes to either member
    groups = [(("a", "b"), 10.0)]
    ok = check_budgets({"a": 7.0, "b": 2.9}, 0.1, budgets={}, groups=groups)
    assert ok == []
    bad = check_budgets({"a": 7.0, "b": 3.1}, 0.1, budgets={}, groups=groups)
    assert len(bad) == 1 and "a+b" in bad[0] and "10.1" in bad[0]
    # a partial measurement (restricted run) checks the present members
    assert check_budgets({"a": 9.9}, 0.1, budgets={}, groups=groups) == []
    assert len(
        check_budgets({"a": 10.1}, 0.1, budgets={}, groups=groups)
    ) == 1
    assert check_budgets({}, 0.1, budgets={}, groups=groups) == []


def test_every_bench_key_budgeted():
    """The r9 claim 'caps cover EVERY bench key' is derived, not
    hand-maintained: every catalog key plus the bench-only ingest/
    accounting keys must appear in the per-key map or a group."""
    from aggregator_spark.plans.shuffle_budgets import (
        BUDGET_GROUPS,
        SHUFFLE_WRITE_BUDGET_MB,
    )

    bench_only = {
        # ingest keys timed by bench.py's pre-loop (cold cache builds)
        "variant_ingest", "ann_ivf_index_build", "ann_lsh_index_build",
        "dedup_bucket_index_build", "corpus_prepared_index_build",
        "bm25_index_build", "bpe_dict_build", "media_store_build",
        # incremental-dedup accounting split
        "dedup_batch_sign", "dedup_incremental_serve",
    }
    covered = set(SHUFFLE_WRITE_BUDGET_MB)
    for keys, _cap in BUDGET_GROUPS:
        covered |= set(keys)
    want = set(entry_mod.queries()) | bench_only
    missing = sorted(want - covered)
    assert not missing, f"bench keys without a shuffle budget: {missing}"


# -------------------------------------------------- exchange-count pins

# (shuffle Exchange count, BroadcastExchange count) per plan — exact
# pins, not ceilings: a REMOVED exchange is worth knowing about too
# (usually a broken reuse or a collapsed-to-one-partition accident).
# Counts are from the AQE-initial formatted plan at sf0.001; they are
# scale-independent because every query's shape is static.
EXCHANGE_PINS = {
    "daily_counts": (3, 0),
    "amplified_counts": (2, 1),   # broadcast dim join stays broadcast
    "missing_users": (2, 1),      # broadcast anti join stays broadcast
    "tpch_q1": (2, 0),
    "tpch_q6": (1, 0),            # scan -> partial agg -> single gather
    "bloom_prefiltered_join": (1, 1),
    "dedup_exact": (1, 0),
    # r9: band self-join + hamming verify joins broadcast at sf0.001
    # (threshold-governed; they degrade to shuffle joins at scale)
    "simhash_near_dup": (2, 3),
    # r9: fuzzy components (checkpointed sub-plan) + quality join +
    # per-component window
    # r13 small-graph CC: the size-gated driver union-find returns
    # broadcast-hinted labels (bounded by the edge ceiling), so the
    # component-label joins flip SMJ -> BHJ: -2 Exchange +1 Broadcast
    # per label join. Above the ceiling the distributed loop labels
    # join exactly as before (hint only exists on the small path).
    "dedup_keep_best": (2, 2),
    "doc_chunks": (1, 0),         # scatter only, no agg shuffle
    "pack_sequences": (2, 0),
    "mix_waterfill": (2, 0),      # corpus -> strata agg -> windows
    # r9 fourth wave: quota carve-out moved off the per-stratum window
    # onto the two-phase exact top-k — +1 exchange (the salted local
    # phase) +1 broadcast (the buckets×k winner set joins back small;
    # threshold-governed, degrades to a shuffle join if k explodes)
    "eval_split_quota": (3, 1),
    # index-artifact serves: pure scans of the persisted parquet —
    # ZERO exchanges is the whole point of the ingest/serve split
    "bm25_index_postings": (0, 0),
    "dedup_bucket_index": (0, 0),
    "ann_ivf_index": (0, 0),
    "prepared_probes": (0, 0),
    # r8 late entries: one stratum window for the curriculum quartiles;
    # the cross-corpus span rewrite's 5 broadcasts are the probe
    # DIRECTION contract (batch gram set out, hit set back — the
    # archive index must never shuffle)
    # r9 fourth wave: NTILE moved off the per-stratum window onto the
    # bounded-rank core — +local-rank/summary exchanges + the carry
    # broadcast (summary-sized; threshold-governed)
    "curriculum_bins": (3, 1),
    # r13: the span-rewrite single-pass rebuild dropped one broadcast
    # (n_tokens now comes from the rebuild aggregation itself; the old
    # final join broadcast a second per-doc relation). +1 Exchange:
    # text.gram_stream scatters the doc scan before its Arrow pass
    # (the doc_shingles discipline — a no-op only on a plain scan that
    # already has enough splits; after an exchange scatter always
    # adds its round-robin exchange)
    "span_rewrite_incremental": (6, 4),
    # r9 late novelties. ngram_novelty: gram-df agg + per-doc residue
    # joins (the corpus-wide gram relation is never joined back).
    # minhash_est_accuracy: candidate/sig pipelines are checkpointed
    # out of the plan; what remains is the candidate-bounded verify
    # (the ngram_jaccard SMJ family) + the two signature joins.
    # corpus_drift_js: token aggregate checkpointed (fact scanned
    # once); residual aggs + vocab join + scalar/total broadcasts.
    "ngram_novelty": (5, 2),
    # r13 session 5: shingle_pair_overlap consumes its input subtree
    # ONCE (window sizes over doc_id + hashed self-join key) — the
    # sizes groupBy+join-back subtrees and their exchanges are gone
    # from the verify residue ((15,5)→(9,3))
    "minhash_est_accuracy": (9, 3),
    "corpus_drift_js": (4, 3),
    # r9 line-dedup family: segment df agg (count_distinct two-phase)
    # + per-doc rebuild; the boiler-set and final doc joins broadcast
    # at sf0.001 only (threshold-governed — deliberately un-hinted, a
    # real crawl's boilerplate set is corpus-sized and must degrade to
    # a shuffle join)
    "line_dedup_rewrite": (3, 2),
    "boilerplate_stats": (4, 1),
    # r9 fourth wave. quality_percentile: ONE per-source window (no
    # global sort — the stratum-bounded ordering contract).
    # bpe_fertility: the encode's dictionary join (broadcast at
    # sf0.001, threshold-governed) + doc join + |sources|-row agg.
    "quality_percentile": (1, 0),
    "bpe_fertility": (2, 2),
    # bucketed twin: local-rank + summary-carry shuffles plus the
    # rank⋈carry join (broadcast at sf0.001 — threshold-governed, the
    # carry table is summary-sized and must degrade to a shuffle join
    # when tie-groups × buckets outgrow it)
    "quality_percentile_bucketed": (3, 1),
    # r10. union keep: the LSH-candidate and component-label sub-plans
    # are checkpointed out (same as dedup_keep_best); what remains is
    # the verified-Jaccard SMJ residue + simhash edge union + final
    # label join. contamination_by_source: the decontaminate fragment
    # (probe broadcast out / flags back) + doc join + |sources|-row agg.
    # r13 small-graph CC broadcast labels (see dedup_keep_best)
    "dedup_fuzzy_keep_union": (1, 1),
    # +1 Exchange r13: gram_stream's scatter before the Arrow gram
    # pass (see span_rewrite_incremental)
    "contamination_by_source": (6, 3),
    # family overlap: both families' full verify pipelines live in ONE
    # plan (nothing checkpointed out except the LSH candidates) — the
    # SMJ verify chain + simhash band join + the full-outer merge.
    # r13 session 5: (16,6)→(10,4) — shingle_pair_overlap's window
    # rewrite drops the sizes subtree + its two join-back exchanges
    "dedup_family_overlap": (10, 4),
    # continuous percentile: two-level carry = local-rank + fine/coarse
    # summary shuffles + carry joins (broadcast at sf0.001 —
    # threshold-governed, summary-sized)
    "quality_percentile_continuous": (6, 2),
    # r10 PQ pair. encode: codebook aggregate (2-phase) + the argmin
    # window over blocks×codes; the codebook join broadcasts BY HINT
    # (bounded by construction). adc: encode's exchanges + the LUT
    # broadcast join + the per-(query,vec) decimal sum + top-k window.
    "pq_encode": (5, 1),
    "pq_adc_topk": (10, 3),
    # r10 fifth wave. perplexity_gate: the LM scores are checkpointed
    # (scored once — the bounded-rank plan reads them from 3 branches);
    # what remains is the continuous-percentile two-level-carry shape.
    # priority_sample: TakeOrderedAndProject (NO sort exchange — the
    # whole point) + the tau scalar broadcast. dedup_bloom_ingest: one
    # agg exchange for the distinct corpus fingerprints is
    # checkpointed out (the fp relation feeds count + bloom build +
    # verify join); the verify join broadcasts at sf0.001
    # (threshold-governed — in production the build side is the
    # persisted survivor index, shuffle-joined).
    "perplexity_gate": (6, 2),
    "priority_sample": (0, 1),
    "dedup_bloom_ingest": (0, 1),
    # waves 6-9. ppl e2e: the gate's rank plan + the shared
    # fuzzy-dedup/span/pack pipeline (LM scores and fuzzy components
    # checkpointed out). per-source priority: salted local top-k +
    # winner rank + the |sources|-row tau broadcast. confusion: two
    # aggregates + the totals broadcast. percentiles: local-rank +
    # summary carry (single-level — lengths are discrete) + the carry
    # join broadcast at sf0.001 (threshold-governed). warclite: the
    # custom-source scan -> two-phase agg (countDistinct).
    # r13 small-graph CC broadcast labels: the fuzzy stage's label
    # join and its two downstream consumers flip SMJ -> BHJ
    # (-6 Exchange +3 Broadcast; see dedup_keep_best)
    "corpus_prepare_ppl_e2e": (9, 9),  # r13 span-rewrite window+single-pass
    "priority_sample_per_source": (4, 1),
    "lang_id_confusion": (2, 1),
    "length_percentiles_exact": (4, 1),
    "warclite_scan": (2, 0),
    # r11 first wave: chunk->pack->rollup checkpointed once (the ppl
    # lesson: the bounded-rank plan reads its input from local +
    # carry branches), then the two-level-carry rank: local window +
    # summary agg + coarse rollup + carry windows + final gather; the
    # 2 broadcasts are the summary-sized carry joins
    # (threshold-governed, degrade to shuffle joins at scale)
    "corpus_shard_emit": (6, 2),
    "shard_manifest": (7, 2),
    # r11 second wave: the base e2e's gate+LSH+span+pack exchanges
    # plus the SimHash candidate family (banded self-join + verify)
    # over the same survivors; broadcasts are the survivor-id/carry
    # joins (threshold-governed at sf0.001)
    "corpus_prepare_union_e2e": (9, 9),  # r13 small-graph CC (see ppl_e2e)
    # r11 third wave: cell assignment + codebook/code aggs + routing
    # windows; the BroadcastNestedLoopJoin is the deliberate 10-row
    # centroid fan-out (kmeans_assign's shape), never a shuffled
    # cartesian; 6 broadcasts = centroids/probes/LUT/codebooks
    "ann_topk_ivfpq": (14, 6),
    # r11 fourth wave: the rollup checkpoint truncates the prepared-
    # corpus subtree (it runs eagerly at plan build), so the visible
    # plan is the rollup + bounded-rank stages only
    "corpus_prepare_shard_e2e": (10, 0),
    # r11 fifth wave: dsir scored relation checkpointed once (25->10
    # exchanges — the ppl lesson again); the e2e matches the other
    # keep_ids-seam pipelines' shape
    "dsir_gate": (10, 0),
    "corpus_prepare_dsir_e2e": (9, 9),  # r13 small-graph CC (see ppl_e2e)
    # r11 sixth wave: token agg + first-occurrence agg + 20-row spine
    # windows (heaps); two bounded-rank NTILE branches + the interleave
    # join (zorder) — broadcasts are the max/carry relations
    "heaps_law_points": (6, 4),
    "zorder_layout_keys": (14, 4),
    # r11 seventh wave: both rank/rollup seams checkpointed, visible
    # plan = adjacency self-join + two rollups
    "shard_mixing_report": (4, 0),
    # r12 perceptual media waves. Signature entries: the decode
    # subtree is checkpointed out (the orderBy double-decode fix), so
    # the visible plan is checkpoint-scan -> global sort. Pairs: band
    # generate + candidate self-join + verify joins (broadcast at
    # sf0.001 — threshold-governed, the distinct-signature node table
    # is tiny; degrades to shuffle joins when nodes outgrow it).
    # Keeps: nodes/components checkpointed out; visible = the
    # signature-join fan-back + final sort (one SMJ at sf0.001).
    "image_dhash": (1, 0),
    "audio_fingerprint": (1, 0),
    "image_near_dup_pairs": (2, 3),
    # r13 small-graph CC broadcast labels (see dedup_keep_best)
    "image_near_dup_keep": (1, 3),
    "audio_near_dup_keep": (1, 3),  # r13 small-graph CC (see above)
    # video keep: fh/components checkpointed out; visible = hub agg +
    # edge SMJ + final sort over the label join. r13 window-min CC:
    # one fewer exchange; the tiny label relation now broadcasts
    # (threshold-governed, degrades to SMJ at scale)
    "video_near_dup_keep": (2, 1),
}


@pytest.mark.parametrize("name", sorted(EXCHANGE_PINS))
def test_exchange_count_pinned(spark, name):
    qs = entry_mod.queries()
    r = plan_report(qs[name](spark, SF))
    got = (r.get("Exchange", 0), r.get("BroadcastExchange", 0))
    assert got == EXCHANGE_PINS[name], (
        f"{name}: (Exchange, BroadcastExchange) {got} != pinned "
        f"{EXCHANGE_PINS[name]} — a plan regression (new/lost shuffle "
        f"or broadcast); update the pin only with a scale rationale"
    )


# ------------------------------------------------- broken-plan tripwire

def test_gate_catches_injected_exchange(spark):
    """An extra repartition — the classic accidental shuffle — must
    move the Exchange count off its pin."""
    qs = entry_mod.queries()
    broken = qs["daily_counts"](spark, SF).repartition(64)
    r = plan_report(broken)
    assert r.get("Exchange", 0) > EXCHANGE_PINS["daily_counts"][0]


def test_gate_catches_lost_broadcast(spark):
    """Dropping the broadcast hint under a disabled auto-broadcast
    threshold turns the dim join into a sort-merge join: broadcast
    count falls, shuffle count rises — both off their pins."""
    from pyspark.sql import functions as F

    from aggregator_spark.schemas import load_testdata

    events, customer = load_testdata(spark, SF, "events", "customer")
    rich = customer.filter(F.col("c_acctbal") > 9000.0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        good = events.join(
            F.broadcast(rich), events.user_id == rich.c_custkey
        )
        bad = events.join(rich, events.user_id == rich.c_custkey)
        rg, rb = plan_report(good), plan_report(bad)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert rg.get("BroadcastExchange", 0) >= 1
    assert rb.get("BroadcastExchange", 0) == 0
    assert rb.get("Exchange", 0) > rg.get("Exchange", 0)
