"""Driver-facing query registry: every operator from SURVEY.md §2 (plus the
beyond-reference pipeline operators) embodied as a named query over the
driver's test tables, each paired with an ANSI-SQL DuckDB oracle.

Contract (see /root/repo/__spark_entry__.py): the driver runs the Spark
callable and the oracle SQL side-by-side at sf0.01 and compares row count +
schema + order-insensitive value hash. Column names are matched after sorting
by name, so every computed column is aliased identically on both sides.

Determinism rules used throughout:
- aggregates run on exact DECIMAL(18,2) arithmetic, cast to DOUBLE only at
  the output edge (bit-identical in both engines);
- every window/top-k has a total order (documented tie-breaks, SURVEY §7.4.1);
- timestamps are reduced to DATE (or date_trunc'ed strings) at the edge.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from aci_export_spark.sources import read_table
from aci_export_spark.functions.ids import id_for_email, md5_member_id
from aci_export_spark.operators.dedup import (
    argmax_per_key,
    dedupe_keep_min,
    priority_dedup,
)
from aci_export_spark.operators.joins import scoped_semi_join


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    # None → driver records rows-only check; a zero-arg callable is resolved
    # lazily at oracle-collection time (for generated/golden oracles whose
    # construction is too costly for import time)
    oracle: Optional[str | Callable[[], str]]
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Release persisted intermediates left by the PREVIOUS query
            # invocation (operators register theirs via
            # artifacts.persist_tracked). Leaked persists are not only a
            # memory leak: CacheManager matches canonicalized plans, so a
            # later invocation of the same query would silently read the
            # earlier invocation's InMemoryRelation instead of computing —
            # cross-rep result caching the bench must not do.
            from aci_export_spark import artifacts

            artifacts.release_tracked()
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(fn=wrapped, oracle=oracle, doc=doc)
        # module-level callers (queries composing other queries, tests,
        # bench warmup) get the unwrapped function: the drain belongs to
        # the REGISTRY invocation boundary only
        return fn

    return deco


def _dec(col, p=18, s=2):
    return col.cast(f"decimal({p},{s})")


# ---------------------------------------------------------------------------
# Flagship: the reference's most complex artifact (FETCH_CLUB_MEMBERS_QUERY,
# ddb/src/members.rs:362-520) re-shaped onto the test star schema:
# scope union (U1/J5) + semi-join + flag aggregation (A1) + argmax latest
# (A3) + multi-way dimension join (J1) — one lazy plan.
# ---------------------------------------------------------------------------


@register(
    "flagship_scoped_members",
    """
WITH scope AS (
    SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    UNION
    SELECT n_nationkey FROM nation WHERE n_name = 'CANADA'
), flags AS (
    SELECT o_custkey,
           MAX(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) = 1 AS has_open,
           MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) = 1 AS has_filled,
           strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_order_date,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
), latest AS (
    SELECT o_custkey, o_totalprice AS last_price FROM (
        SELECT o_custkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
)
SELECT c_custkey, c_name, c_mktsegment, n_name,
       has_open, has_filled, last_order_date, last_price, n_orders
FROM customer
JOIN scope ON c_nationkey = scope.n_nationkey
JOIN nation ON c_nationkey = nation.n_nationkey
JOIN flags ON o_custkey = c_custkey
JOIN latest ON latest.o_custkey = c_custkey
""",
    doc="scope semi-join + flag agg + argmax latest order per customer",
)
def flagship_scoped_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")

    # U1/J5: single-key scope ∪ group-expansion scope, then broadcast semi-join
    asia = (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("n_nationkey")
    )
    canada = nation.filter(F.col("n_name") == "CANADA").select("n_nationkey")
    scope = asia.unionByName(canada).distinct().withColumnRenamed("n_nationkey", "c_nationkey")
    cust = scoped_semi_join(customer, scope, on="c_nationkey")

    # A1: per-customer boolean-max flags + max date (single partial-agg shuffle)
    flags = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        (F.max((F.col("o_orderstatus") == "O").cast("int")) == 1).alias("has_open"),
        (F.max((F.col("o_orderstatus") == "F").cast("int")) == 1).alias("has_filled"),
        F.date_format(F.max(F.to_date("o_orderdate")), "yyyy-MM-dd").alias("last_order_date"),
        F.count(F.lit(1)).alias("n_orders"),
    )

    # A3: argmax latest order; deterministic tie-break on o_orderkey desc
    latest = argmax_per_key(
        orders, ["o_custkey"], "o_orderdate", tie_break=[F.col("o_orderkey").desc()]
    ).select(F.col("o_custkey").alias("c_custkey"), F.col("o_totalprice").alias("last_price"))

    dim_nation = nation.select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    return (
        cust.join(broadcast(dim_nation), on="c_nationkey")
        .join(flags, on="c_custkey")
        .join(latest, on="c_custkey")
        .select(
            "c_custkey", "c_name", "c_mktsegment", "n_name",
            "has_open", "has_filled", "last_order_date", "last_price", "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# Bench headline: TPC-H Q1-shaped pricing summary (wide scan + partial agg).
# Exercises P5 date filter, F1/F5 scalars, A-family aggregation.
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '2003-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1-shaped scan+agg; exact decimal arithmetic, double at the edge",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    # exact decimal arithmetic: prices are 2-dp, discounts are exact
    # hundredths, so these casts are lossless and both engines agree bit-for-bit
    disc_price = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(9,2)") - F.col("l_discount").cast("decimal(9,2)")
    )
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("2003-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J6/P7: anti-join exclusion — customers with no orders (partner-exclusion
# shape, ddb/src/members.rs:327,349).
# ---------------------------------------------------------------------------


@register(
    "j6_customers_without_open_orders",
    """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O'
)
""",
    doc="left_anti exclusion join (non-degenerate: every customer has orders, "
    "but not every customer has an open one)",
)
def j6_customers_without_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    excl = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.join(excl, on="c_custkey", how="left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# ---------------------------------------------------------------------------
# A2: dedup keep MIN id per natural key (ddb/src/members.rs:240-258) as a
# single window pass instead of the reference's GROUP BY + join-back.
# ---------------------------------------------------------------------------


@register(
    "a2_dedup_keep_min_orderkey",
    """
SELECT o_custkey, strftime(order_date, '%Y-%m-%d') AS order_date, o_orderkey AS picked_orderkey, o_totalprice
FROM (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                              ORDER BY o_orderkey) AS rn
    FROM orders
) WHERE rn = 1
""",
    doc="dedupe-pick keeps MIN id; window instead of groupby+join-back",
)
def a2_dedup_keep_min_orderkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "order_date", F.to_date("o_orderdate")
    )
    picked = dedupe_keep_min(orders, ["o_custkey", "order_date"], "o_orderkey")
    return picked.select(
        "o_custkey", F.date_format("order_date", "yyyy-MM-dd").alias("order_date"), F.col("o_orderkey").alias("picked_orderkey"), "o_totalprice"
    )


# ---------------------------------------------------------------------------
# A4: priority dedup — one row per key, preferred class wins, deterministic
# tie-break (ddb/src/members.rs:41-55; regular beats affiliate).
# ---------------------------------------------------------------------------


@register(
    "a4_priority_dedup",
    """
SELECT c_nationkey, c_mktsegment, c_custkey, c_name, c_acctbal
FROM (
    SELECT c_nationkey, c_mktsegment, c_custkey, c_name, c_acctbal,
           ROW_NUMBER() OVER (
               PARTITION BY c_nationkey, c_mktsegment
               ORDER BY CASE WHEN c_acctbal >= 5000 THEN 0 ELSE 1 END, c_custkey
           ) AS rn
    FROM customer
) WHERE rn = 1
""",
    doc="priority dedup: preferred class first, then deterministic tie-break",
)
def a4_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    priority = F.when(F.col("c_acctbal") >= 5000, 0).otherwise(1)
    return priority_dedup(
        customer,
        key=["c_nationkey", "c_mktsegment"],
        priority=priority,
        tie_break=[F.col("c_custkey").asc()],
    ).select("c_nationkey", "c_mktsegment", "c_custkey", "c_name", "c_acctbal")


# ---------------------------------------------------------------------------
# F7/F8: stable hash ids — base64url-no-pad(sha256) and md5, pure expressions
# (db/src/user.rs:31-35; mailchimp/src/members.rs:107-109).
# ---------------------------------------------------------------------------


@register(
    "f7_f8_hash_ids",
    """
SELECT c_custkey,
       rtrim(replace(replace(to_base64(unhex(sha256(lower(trim(c_name))))), '+', '-'), '/', '_'), '=') AS user_id,
       md5(lower(trim(c_name))) AS member_id
FROM customer
""",
    doc="email→id hashing: sha256-base64url-nopad + md5, byte-identical to oracle",
)
def f7_f8_hash_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        id_for_email(F.col("c_name")).alias("user_id"),
        md5_member_id(F.col("c_name")).alias("member_id"),
    )


#: Every module that registers queries, in the order their queries follow
#: one another past a fixed head (`_bench_ordered_names`).
HARNESS_MODULES: tuple[str, ...] = (
    "aci_export_spark.harness",
    "aci_export_spark.harness_llm",
    "aci_export_spark.harness_temporal",
    "aci_export_spark.harness_streaming",
    "aci_export_spark.harness_multimodal",
    "aci_export_spark.harness_ref2",
    "aci_export_spark.harness_tpch2",
    "aci_export_spark.harness_analytics",
)


def _ensure_all_registered() -> None:
    """Import every harness module for its registration side effects."""
    for module in HARNESS_MODULES:
        importlib.import_module(module)


#: The driver's correctness gate checks the FIRST 50 entries of ``queries()``
#: per round, so dict order decides which queries earn a CORRECTNESS row.
#: Rounds 1–3 proved the first 50 registration-order entries green; this list
#: front-loads the queries that have never received a driver row (the 10
#: SURVEY §2 reference-surface operators from harness_ref2, the 4 formerly
#: no-oracle queries that now carry deterministic oracles, and the remaining
#: temporal/streaming/multimodal/curation entries), then back-fills the
#: window with already-proven §2 core queries. Everything past the window
#: is either green in CORRECTNESS_r03.json or (for queries added after the
#: round-3 gate: the second TPC-H batch, semantic dedup, repetition
#: signals, fuzzy ER) green in the local replica of the driver gate,
#: `tests/test_oracle_queries.py`, which runs the identical compare at the
#: same scale. Names absent from this list keep their registration order
#: after it; the flagship stays first (it is also the driver's entry()
#: smoke check).
#: ROUND-6 ROTATION: CORRECTNESS_r05 landed green rows (49/49, 0 err) for the
#: round-5 window, bringing cumulative driver coverage to 144/183. This window
#: is the flagship (the driver's entry() smoke check) plus ALL 39 remaining
#: never-driver-checked queries — computed from the union of
#: CORRECTNESS_r01..r05 keys against the registry, NOT from the (stale by two
#: names: llm_pack_efficiency, streaming_session_window) round-5 note. A green
#: CORRECTNESS_r06 on this window completes 183/183 cumulative driver
#: coverage: every registered query then has a green driver row. Every name
#: below already hash-matches the identical local replica of the driver gate,
#: `tests/test_oracle_queries.py`, at the same scale — pure verification
#: bookkeeping, not new code.
#: ROUND-7 ROTATION: CORRECTNESS_r06 landed 50/50 green — cumulative driver
#: coverage is 187/187, so this window is pure FRESHNESS rotation: the 40
#: queries whose newest driver row is r3 (computed from the per-round union
#: of CORRECTNESS_r01..r06 keys — newest-round histogram {3:40, 4:48, 5:49,
#: 6:50}), front-loading the ones whose implementing modules were rewritten
#: AFTER their last driver check (the CC engine's r5 large-star/small-star
#: replacement behind llm_dedup_clusters/cluster_canonical; the r5/r6
#: dedup.py edits behind simhash/incremental/exact/embedding_cosine;
#: streaming/artifact changes behind events_sessionization), plus any
#: queries newly registered this round. The flagship stays first (it is the
#: driver's entry() smoke check) and the three shared-pair-artifact
#: producers stay directly behind it so audits are billed for their own
#: joins, not their inputs' builds.
#: ROUND-8 ROTATION: CORRECTNESS_r07 landed 50/50 green — cumulative driver
#: coverage is 190/190 with zero failures ever. This round SPLITS the two
#: jobs the single list was doing: BENCH_BILLING_ORDER (below) freezes the
#: r7 execution order for attribution-stable bench numbers, and
#: DRIVER_WINDOW_PRIORITY (further below) rotates freshness mechanically
#: from the CORRECTNESS-file union, with the invariant asserted by
#: tests/test_rotation.py instead of a hand-maintained comment.
#: Frozen bench execution order (head; rest follows registration order).
#: This is the round-7 driver/bench order, kept byte-identical so BENCH
#: per-query numbers stay attribution-stable round over round: each shared
#: pair/BPE artifact is billed to the SAME producing query as in BENCH_r07,
#: making r7→r8 diffs engine-change-only. The driver correctness window
#: (DRIVER_WINDOW_PRIORITY below) now rotates independently — correctness
#: freshness and bench attribution no longer fight over one list.
#: Registration order alone would NOT preserve billing:
#: llm_dedup_clusters registers before llm_dedup_minhash_lsh /
#: llm_dedup_simhash_pairs and would silently absorb their pair builds.
BENCH_BILLING_ORDER: list[str] = [
    "flagship_scoped_members",
    # artifact-producing pair queries first: the sweep builds each shared
    # pair table inside the query that OWNS it, so the audits below are
    # billed for their own joins, not their inputs' builds
    "llm_dedup_minhash_lsh",
    "llm_dedup_simhash_pairs",
    "llm_dedup_ngram_jaccard",
    # r3-era rows whose engines were REWRITTEN in r5/r6 — the hard signal
    # predates the implementation; re-verify first (VERDICT r6 #1)
    "llm_dedup_clusters",
    "llm_dedup_cluster_canonical",
    "llm_dedup_simhash",
    "llm_dedup_incremental",
    "llm_dedup_exact",
    "llm_dedup_embedding_cosine",
    "events_sessionization",
    # round-7 additions (registered this round)
    "llm_bpe_train_batched",
    "llm_bpe_encode_stats_batched",
    "er_fuzzy_name_pairs_k2",
    # remaining r3-era rows (newest driver row = r3), oldest-first backfill
    "a4_priority_dedup",
    "a5_union_distinct_keys",
    "a8_string_agg_roundtrip",
    "decorrelated_above_brand_avg",
    "events_heavy_hitters",
    "events_hourly_agg",
    "events_running_totals",
    "f7_f8_hash_ids",
    "f_scalar_suite",
    "j10_asof_interval_filter",
    "j1_wide_pivot_nullpad",
    "j8_inlist_lookup",
    "llm_curation_funnel",
    "llm_sim_bruteforce_topk",
    "llm_sim_ivf_topk",
    "llm_text_cdc_chunks",
    "llm_text_fingerprints",
    "llm_text_langid",
    "llm_text_quality",
    "llm_text_token_counts",
    "o1_topk_orders",
    "partner_fanout_explode",
    "q13_customer_order_distribution",
    "q16_supplier_cnt_by_part",
    "q18_large_volume_customers",
    "q20_excess_stock_suppliers",
    "q3_shipping_priority",
    "q4_late_shipment_priority",
    "q5_local_supplier_volume",
    "q7_nation_volume_shipping",
    "s8_upsert_post_state",
    "s9_retain_post_state",
    "u3_retain_delete_set",
]

#: ROUND-8 DRIVER WINDOW (the driver checks the FIRST 50 of queries()).
#: Recomputed mechanically from the union of CORRECTNESS_r01..r07 keys
#: (newest-round histogram {4:48, 5:49, 6:43, 7:50}; asserted by
#: tests/test_rotation.py, per the r7 verdict's ask to stop hand-maintaining
#: this): flagship (entry() smoke) + this round's new registration
#: (mm_audio_stats) + the one query whose implementing module changes this
#: round after its newest row (streaming_funnel_native — watermark eviction
#: in streaming/core.py's foreachBatch funnel) + 47 of the 48 r4-era rows.
#: Window arithmetic forces ONE r4 deferral (1+1+1+48 = 51 > 50):
#: a10_set_difference_count is deferred to the r9 head — chosen because it
#: is a harness-inline set-op untouched since r1 and re-proven every round
#: by the local oracle replica (tests/test_oracle_queries.py).
#: ROUND-9 NOTE: recompute from the CORRECTNESS-file union again; start
#: with a10_set_difference_count, then new registrations and
#: module-changed-after-row queries, then back-fill oldest-first (after
#: this round the oldest cohort is r5, 49 rows, minus any checked here).
#: ROUND-10 NOTE: executed below — the window heads with all 43 r5-era
#: deferrals, the four new registrations, and the two ER re-checks
#: (1 + 43 + 4 + 2 = 50 exactly; no deferrals this round). After a green
#: CORRECTNESS_r10 the oldest cohort is r6 (42 rows) — the r11 rebuild
#: starts with them plus any new/changed registrations.
#: ROUND-11 ROTATION (executed): rebuilt from the CORRECTNESS_r01..r10
#: union (newest-round histogram {5:26, 6:42, 7:49, 8:46, 9:49, 10:50}).
#: Head order: flagship (the driver's entry() smoke), then ALL 26
#: WINDOW_DEFERRED r5 shapes (the mandated overflow repayment — VERDICT
#: r10 #1; after a green CORRECTNESS_r11 no query's newest driver row is
#: older than r6), then this round's new registrations (never
#: driver-checked — the test_never_checked_queries_are_inside_the_window
#: contract), then the r6 cohort (42 rows at this build) alphabetical
#: backfill into the remaining slots. New registrations displace r6
#: backfill tail-first; the r6 remainder repays at the r12 head.
#: ROUND-12 NOTE: rebuild from the CORRECTNESS_r01..r11 union. Head order:
#: flagship, then the r6 cohort remainder (the oldest cohort after a green
#: r11), then new/module-changed registrations, then the r7 cohort
#: oldest-first; defer overflow from the oldest cohort with the same
#: documentation discipline and bump WINDOW_BUILT_FROM_ROUND to 11.
#: (That rebuild slipped the r12 optimization round — VERDICT r12 #3 —
#: and executed at the r13 head instead; see ROUND-13 below.)
#: ROUND-13 ROTATION (executed): rebuilt from the CORRECTNESS_r01..r12
#: union (newest-round histogram over registered queries
#: {6:38, 7:49, 8:46, 9:49, 10:48, 12:50}; CORRECTNESS_r12 re-verified the
#: r11 window, so no r11 cohort exists). Head order: flagship (the
#: driver's entry() smoke), then ALL 38 r6-era rows (the deferred r12
#: repayment — the oldest cohort, alphabetical except llm_bpe_train moved
#: ahead of its two artifact consumers llm_bpe_encode_stats /
#: llm_bpe_fertility_by_lang so driver timings bill the training build to
#: its owner), then the r7 cohort alphabetical backfill into the 11
#: remaining slots (1 + 38 + 11 = 50 exactly; no new registrations this
#: optimization round, nothing defers). After a green CORRECTNESS_r13 no
#: query's newest driver row is older than r7; the r14 rebuild starts
#: with the 38 remaining r7 rows.
#: The newest CORRECTNESS_r{N} round the window above was computed from —
#: tests/test_rotation.py recomputes the freshness cohorts from the files
#: and asserts the window covers them. Bump this when rebuilding the window.
WINDOW_BUILT_FROM_ROUND = 12
#: Oldest-cohort queries consciously deferred to the NEXT round's window
#: head because the window arithmetic overflowed 50. EMPTY this round: the
#: whole 38-name r6 cohort sits at the window head, so the oldest cohort
#: is fully in-window and nothing defers.
WINDOW_DEFERRED: frozenset[str] = frozenset()

#: ROUND-13 DRIVER WINDOW (the driver checks the FIRST 50 of queries()).
#: 1 flagship + 38 r6-cohort repayments (alphabetical; llm_bpe_train ahead
#: of its two consumers) + 11 r7-cohort alphabetical backfill = 50 exactly.
DRIVER_WINDOW_PRIORITY: list[str] = [
    "flagship_scoped_members",
    # the 38 r6-era rows — the oldest freshness cohort, deferred from the
    # r12 head (VERDICT r12 #3); alphabetical except llm_bpe_train, moved
    # ahead of llm_bpe_encode_stats/llm_bpe_fertility_by_lang so the shared
    # 8-merge training artifact bills to its producing query
    "dq_value_drift_cells",
    "er_fuzzy_entities",
    "events_bitemporal_state",
    "events_changepoint_cusum",
    "events_chi2_cells",
    "events_cohort_ltv",
    "events_ctr_wilson",
    "events_cumulative_unique_users",
    "events_linear_attribution",
    "events_ohlc_hourly",
    "events_position_attribution",
    "events_sketch_intersection",
    "events_stickiness_ratio",
    "events_type_trigrams_topk",
    "events_user_type_diversity",
    "events_value_histogram",
    "events_value_trend_slope",
    "events_value_variance_by_type",
    "j_bloom_prefilter_join",
    "llm_bpe_train",
    "llm_bpe_encode_stats",
    "llm_bpe_fertility_by_lang",
    "llm_dedup_lsh_recall_audit",
    "llm_dedup_method_agreement",
    "llm_hard_negatives",
    "llm_pack_efficiency",
    "llm_quality_percentile",
    "llm_sim_ivf_pq_topk",
    "llm_sim_mmr_rerank",
    "llm_substring_anchor_dup",
    "llm_vector_index_upsert",
    "llm_weighted_sample",
    "mm_av_metadata",
    "orders_abc_classification",
    "orders_interarrival_stats",
    "streaming_session_window",
    "streaming_trending_topk",
    "sync_snapshot_diff",
    # r7-cohort alphabetical backfill (11 slots; the 38 remaining r7 rows
    # repay at the r14 head)
    "a2_dedup_keep_min_orderkey",
    "a4_priority_dedup",
    "a5_union_distinct_keys",
    "a8_string_agg_roundtrip",
    "decorrelated_above_brand_avg",
    "er_fuzzy_name_pairs_k2",
    "events_heavy_hitters",
    "events_hourly_agg",
    "events_running_totals",
    "events_sessionization",
    "f7_f8_hash_ids",
]



def _ordered_names() -> list[str]:
    """Driver-facing order: the correctness window first (the driver checks
    the first 50), then registration order."""
    _ensure_all_registered()
    head = [n for n in DRIVER_WINDOW_PRIORITY if n in REGISTRY]
    head_set = set(head)
    return head + [n for n in REGISTRY if n not in head_set]


def _bench_ordered_names() -> list[str]:
    """Bench-facing order: the frozen r7 billing head first (shared-artifact
    producers before their consumers, byte-identical to BENCH_r07's order so
    per-query numbers stay attribution-stable), then the rest by
    `HARNESS_MODULES` order, registration order within a module. The tail
    does not depend on which harness module the process imported first."""
    _ensure_all_registered()
    head = [n for n in BENCH_BILLING_ORDER if n in REGISTRY]
    head_set = set(head)
    rank = {m: i for i, m in enumerate(HARNESS_MODULES)}
    tail = [n for n in REGISTRY if n not in head_set]
    # sorted() is stable: registration order holds within a module
    return head + sorted(tail, key=lambda n: rank[REGISTRY[n].fn.__module__])


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for name in _ordered_names():
        oracle = REGISTRY[name].oracle
        if oracle is None:
            continue
        if callable(oracle):
            # a generated/golden oracle that fails to build (missing fixture,
            # relocated data dir) must degrade THAT query to rows-only, not
            # take every other query's oracle down with it
            try:
                out[name] = oracle()
            except Exception:
                continue
        else:
            out[name] = oracle
    return out


# ===========================================================================
# Batch 2: remaining reference-surface operator families (SURVEY.md §2)
# ===========================================================================


@register(
    "j1_wide_pivot_nullpad",
    """
SELECT o_orderkey,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
       c_name, c_mktsegment,
       COALESCE(n_name, 'UNKNOWN') AS nation_name,
       COALESCE(r_name, 'UNKNOWN') AS region_name,
       CASE WHEN o_orderstatus = 'O' THEN 'open'
            WHEN o_orderstatus = 'F' THEN 'filled'
            ELSE 'other' END AS status_label,
       CAST(NULL AS VARCHAR) AS pass,
       CAST(NULL AS BIGINT) AS race_tid
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
""",
    doc="EAV-pivot shape: spine + chained LEFT joins + NULL padding (P3) + "
    "enum CASE decode (F5); reference ddb/src/users.rs:77-91, members.rs:269-279",
)
def j1_wide_pivot_nullpad(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    # J1: chained left joins; dimensions broadcast (Catalyst sees their size)
    wide = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left")
        .join(broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
    )
    status_label = (
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "filled")
        .otherwise("other")
    )
    return wide.select(
        "o_orderkey",
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("order_date"),
        "c_name",
        "c_mktsegment",
        F.coalesce(F.col("n_name"), F.lit("UNKNOWN")).alias("nation_name"),
        F.coalesce(F.col("r_name"), F.lit("UNKNOWN")).alias("region_name"),
        status_label.alias("status_label"),
        # P3: NULL padding for schema-compatible unions (ddb/src/members.rs:269-279)
        F.lit(None).cast("string").alias("pass"),
        F.lit(None).cast("long").alias("race_tid"),
    )


_J8_KEYS = [2, 3, 5, 7, 11, 13, 17, 19, 23, 100, 1000]


@register(
    "j8_inlist_lookup",
    f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem WHERE l_orderkey IN ({", ".join(str(k) for k in _J8_KEYS)})
""",
    doc="IN-list lookup join (J8, ddb/src/members.rs:538-558); Catalyst turns "
    "isin into an in-set predicate pushed to the parquet scan",
)
def j8_inlist_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey").isin(_J8_KEYS)).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )


@register(
    "j10_asof_interval_filter",
    """
SELECT o_orderkey, o_custkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date
FROM orders
WHERE CAST(o_orderdate AS DATE) <= DATE '2000-06-15'
  AND CAST(o_orderdate AS DATE) + 90 >= DATE '2000-06-15'
""",
    doc="as-of interval predicate, both endpoints inclusive (J10, "
    "ddb/src/leadership.rs:95-122): start <= d <= start + 90d",
)
def j10_asof_interval_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    d = F.lit("2000-06-15").cast("date")
    start = F.to_date("o_orderdate")
    return orders.filter((start <= d) & (F.date_add(start, 90) >= d)).select(
        "o_orderkey", "o_custkey", F.date_format(start, "yyyy-MM-dd").alias("order_date")
    )


@register(
    "a5_union_distinct_keys",
    """
SELECT DISTINCT c_custkey FROM (
    SELECT o_custkey AS c_custkey FROM orders
    UNION ALL
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
)
""",
    doc="union of keys from multiple sources + dropDuplicates (A5/U2, "
    "sync-app/src/sync.rs:497-514)",
)
def a5_union_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    a = orders.select(F.col("o_custkey").alias("c_custkey"))
    b = customer.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return a.unionByName(b).dropDuplicates(["c_custkey"])


@register(
    "u3_retain_delete_set",
    """
SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0
EXCEPT
SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
""",
    doc="set difference = the mirror GC delete set (U3/S9, "
    "mailchimp/src/members.rs:85): audience keys minus keep keys",
)
def u3_retain_delete_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    keep = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey")
    return target.join(keep, on="o_orderkey", how="left_anti").distinct()


@register(
    "a8_string_agg_roundtrip",
    """
SELECT s_nationkey,
       COUNT(*) AS n_suppliers,
       string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv
FROM supplier GROUP BY s_nationkey
""",
    doc="string-agg reconstruction of the v_brns CSV view (A8, "
    "ddb/src/members.rs:332): collect_list + sort + concat_ws",
)
def a8_string_agg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = read_table(spark, sf_dir, "supplier")
    return supplier.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias("supplier_csv"),
    )


@register(
    "f_scalar_suite",
    """
SELECT l_orderkey, l_linenumber,
       strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship_date,
       strftime(CAST(l_shipdate AS DATE) + 90, '%Y-%m-%d') AS ship_plus_90,
       CASE WHEN l_discount > 0.05 THEN 'HI' ELSE 'LO' END AS discount_band,
       GREATEST(l_quantity, l_tax * 100) AS qty_or_tax,
       COALESCE(NULLIF(l_returnflag, 'N'), 'X') AS flag_decoded,
       CAST(l_quantity AS BIGINT) AS qty_long
FROM lineitem
""",
    doc="scalar function suite F1-F6: to_date, date_add, CASE, GREATEST, "
    "COALESCE/NULLIF, CAST (ddb/src/members.rs:267-301)",
)
def f_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    ship = F.to_date("l_shipdate")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.date_format(ship, "yyyy-MM-dd").alias("ship_date"),
        F.date_format(F.date_add(ship, 90), "yyyy-MM-dd").alias("ship_plus_90"),
        F.when(F.col("l_discount") > 0.05, "HI").otherwise("LO").alias("discount_band"),
        F.greatest(F.col("l_quantity"), F.col("l_tax") * 100).alias("qty_or_tax"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("X")).alias("flag_decoded"),
        F.col("l_quantity").cast("bigint").alias("qty_long"),
    )


@register(
    "o1_topk_orders",
    """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
""",
    doc="global top-k with deterministic tie-break (O1-O4); Spark plans this "
    "as TakeOrderedAndProject — no full sort of the fact table",
)
def o1_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "partner_fanout_explode",
    """
SELECT c_custkey, c_name AS member_id, CAST(NULL AS VARCHAR) AS primary_ref, FALSE AS is_partner
FROM customer
UNION ALL
SELECT c_custkey, c_name || '-partner' AS member_id, c_name AS primary_ref, TRUE AS is_partner
FROM customer WHERE c_acctbal > 5000
""",
    doc="partner fan-out: 1 row → up to 2 documents, partner carries PRIMARY "
    "back-reference (§2.10, ddb/src/members.rs:879-932); explode of a "
    "conditionally-2-element struct array",
)
def partner_fanout_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aci_export_spark.operators.explode import fan_out_pairs

    customer = read_table(spark, sf_dir, "customer")
    return fan_out_pairs(
        customer,
        primary_cols={
            "member_id": F.col("c_name"),
            "primary_ref": F.lit(None).cast("string"),
        },
        partner_cols={
            "member_id": F.concat(F.col("c_name"), F.lit("-partner")),
            "primary_ref": F.col("c_name"),
        },
        partner_present=F.col("c_acctbal") > 5000,
        carry=["c_custkey"],
    )


@register(
    "s8_upsert_post_state",
    """
WITH target AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS price
    FROM orders WHERE o_orderkey % 10 <> 0
), source AS (
    SELECT o_orderkey, o_totalprice AS price FROM orders WHERE o_orderkey % 2 = 0
)
SELECT o_orderkey, price FROM source
UNION ALL
SELECT o_orderkey, price FROM target
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
""",
    doc="upsert post-state: source wins on key collision, unmatched target "
    "rows survive (S8, db/src/user.rs:59-99). Target simulates a stale "
    "mirror: missing every 10th row, stale price on every 7th",
)
def s8_upsert_post_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aci_export_spark.operators.mirror import upsert

    orders = read_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    return upsert(target, source, ["o_orderkey"])


@register(
    "s9_retain_post_state",
    """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS price
FROM orders
WHERE o_orderkey % 10 <> 0
  AND o_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0)
""",
    doc="retain (delete-missing) post-state: target semi-joined to keep-keys "
    "(S9, db/src/lib.rs:16-76)",
)
def s9_retain_post_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aci_export_spark.operators.mirror import retain

    orders = read_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    keep = orders.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    return retain(target, keep, ["o_orderkey"])


@register(
    "q3_shipping_priority",
    """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '2000-03-15'
  AND CAST(l_shipdate AS DATE) > DATE '2000-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    doc="TPC-H Q3 shape: selective dimension filter → fact-fact join → "
    "agg → top-10 (TakeOrderedAndProject); the customer filter broadcasts "
    "and prunes orders before lineitem joins",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("2000-03-15").cast("date")
    revenue = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(9,2)") - F.col("l_discount").cast("decimal(9,2)")
    )
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        orders.filter(F.to_date("o_orderdate") < cutoff)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li.filter(F.to_date("l_shipdate") > cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "l_orderkey", "revenue",
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '2001-01-01'
GROUP BY n_name
""",
    doc="TPC-H Q5 shape: six-way join (two facts, four dimensions) with a "
    "same-nation locality predicate; dimensions broadcast, facts shuffle "
    "once on the join key",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    revenue = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(9,2)") - F.col("l_discount").cast("decimal(9,2)")
    )
    asia_nations = (
        nation.join(broadcast(region.filter(F.col("r_name") == "ASIA")),
                    nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    od = F.to_date("o_orderdate")
    return (
        customer.join(broadcast(asia_nations),
                      customer.c_nationkey == F.col("n_nationkey"))
        .join(orders.filter(
            (od >= F.lit("2000-01-01").cast("date"))
            & (od < F.lit("2001-01-01").cast("date"))),
            F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(broadcast(supplier),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "q18_large_volume_customers",
    """
WITH big AS (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
       o_totalprice,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM orders
JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
      FROM lineitem GROUP BY l_orderkey) q ON q.l_orderkey = o_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
""",
    doc="TPC-H Q18 shape: HAVING on an aggregate → semi-join back to the "
    "facts (agg-filter-join); the aggregation is the only full-fact "
    "shuffle, the semi-join reuses it",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    qty = li.groupBy("l_orderkey").agg(
        F.sum(_dec(F.col("l_quantity"))).alias("total_qty")
    )
    big = qty.filter(F.col("total_qty") > 250).select("l_orderkey")
    return (
        orders.join(qty, orders.o_orderkey == qty.l_orderkey)
        .join(big.withColumnRenamed("l_orderkey", "o_orderkey"), on="o_orderkey", how="left_semi")
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


@register(
    "decorrelated_above_brand_avg",
    """
SELECT p_partkey, p_name, p_brand, p_retailprice,
       CAST(s AS DOUBLE) / c AS brand_avg
FROM (
    SELECT p_partkey, p_name, p_brand, p_retailprice,
           SUM(CAST(p_retailprice AS DECIMAL(18,2))) OVER (PARTITION BY p_brand) AS s,
           COUNT(*) OVER (PARTITION BY p_brand) AS c
    FROM part
)
WHERE CAST(p_retailprice AS DECIMAL(18,2)) * c > s
""",
    doc="correlated scalar subquery (price above its brand's average) "
    "decorrelated to a window aggregate — one pass instead of the "
    "re-aggregating self-join a naive plan would run",
)
def decorrelated_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = read_table(spark, sf_dir, "part")
    price = _dec(F.col("p_retailprice"))
    w = Window.partitionBy("p_brand")
    # exact-decimal comparison (price·n > Σ) avoids AVG's engine-specific
    # decimal scale; the emitted average divides exact operands as doubles
    withsums = part.withColumn("__s", F.sum(price).over(w)).withColumn(
        "__c", F.count(F.lit(1)).over(w)
    )
    return (
        withsums.filter(price * F.col("__c") > F.col("__s"))
        .select(
            "p_partkey", "p_name", "p_brand", "p_retailprice",
            (F.col("__s").cast("double") / F.col("__c")).alias("brand_avg"),
        )
    )


@register(
    "q4_late_shipment_priority",
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '2000-07-01'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 shape (order-priority checking): EXISTS decorrelates to a "
    "LEFT SEMI join on the order key with the lateness predicate as a "
    "non-equi join condition — one pass over lineitem, no count-then-filter "
    "subquery; lineitem has no commit/receipt dates in this schema so "
    "lateness is ship > order + 30d",
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    od = F.to_date("o_orderdate")
    o = orders.filter(
        (od >= F.lit("2000-01-01").cast("date"))
        & (od < F.lit("2000-07-01").cast("date"))
    )
    late = li.select("l_orderkey", F.to_date("l_shipdate").alias("__ship"))
    return (
        o.join(
            late,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("__ship") > F.date_add(od, 30)),
            how="left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q7_nation_volume_shipping",
    """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           strftime(CAST(l_shipdate AS DATE), '%Y') AS l_year,
           CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(9,2))) AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7 shape (bilateral nation trade volume by year): two fact "
    "tables, two aliased uses of the nation dimension with a disjunctive "
    "cross-nation predicate; both nation sides broadcast, facts shuffle "
    "once on the order key",
)
def q7_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("__sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("__cn_key"), F.col("n_name").alias("cust_nation")
    )
    volume = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(9,2)") - F.col("l_discount").cast("decimal(9,2)")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rpair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(broadcast(n1), F.col("s_nationkey") == F.col("__sn_key"))
        .join(broadcast(n2), F.col("c_nationkey") == F.col("__cn_key"))
        .filter(pair | rpair)
        .withColumn("l_year", F.date_format(F.to_date("l_shipdate"), "yyyy"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(volume).cast("double").alias("revenue"))
    )


@register(
    "q13_customer_order_distribution",
    """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
GROUP BY c_count
""",
    doc="TPC-H Q13 shape (customer order-count distribution): LEFT OUTER "
    "join with a join-side predicate (not a WHERE — customers with zero "
    "matching orders must survive as c_count=0), double aggregation; the "
    "histogram re-agg is map-side trivial after the per-customer count",
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            how="left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q16_supplier_cnt_by_part",
    """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
    doc="TPC-H Q16 shape (supplier diversity per part attribute): NOT IN "
    "subquery over a filtered dimension executes as a broadcast ANTI join "
    "(no null-key hazard: keys are non-null), part filter pushes to the "
    "scan, COUNT(DISTINCT) shuffles once on the grouping key",
)
def q16_supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    p = part.filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "q20_excess_stock_suppliers",
    """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE contains(p_name, 'red')
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50
)
""",
    doc="TPC-H Q20 shape (suppliers moving excess volume of flagged parts): "
    "nested IN decorrelates to agg → HAVING → LEFT SEMI join; the part-name "
    "filter broadcasts into the lineitem scan before the (suppkey, partkey) "
    "aggregation, so the heavy fact shuffle carries only flagged parts",
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    red = part.filter(F.col("p_name").contains("red")).select("p_partkey")
    heavy = (
        li.join(broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q"))
        .filter(F.col("__q") > 50)
        .select("l_suppkey")
    )
    return supplier.join(
        heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")
