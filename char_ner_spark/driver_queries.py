"""Driver-contract query registry (SURVEY.md §2 operator coverage).

Three kinds of entries:
  - SHARED_SQL: one ANSI-SQL text that runs verbatim on BOTH Spark and
    DuckDB (joins, aggs, windows, set ops, rollup — the relational core).
  - PAIRED_SQL: (spark_sql, duck_sql) where dialects diverge (array/json/
    regexp functions).
  - SPARK_FN: a Python callable for non-SQL operators (tagger, MinHash
    dedup, SimHash, KG pipeline); entries with a ``duck`` oracle where
    expressible (connected components via recursive CTE, streaming
    window counts via the equivalent batch aggregation).

Registry size is capped at 50 entries (the driver checks at most 50), so
closely-related scalar operators share one query (e.g. date extraction +
month formatting; UNION and UNION ALL). ``build_queries`` emits SPARK_FN
first so the flagship KG queries are always within the checked prefix.

Contract invariants (learned in round 1):
  - every computed numeric column is integerized (cents / e4 fixed-point
    via ROUND→BIGINT) so Spark and DuckDB hash identically;
  - no array-typed output columns — the driver's canonicalizer sorts
    column values in pandas and lists are unhashable; arrays are projected
    to concat_ws strings of fixed-point ints;
  - DuckDB string literals do NOT process backslash escapes while Spark's
    do, so regex patterns are built per-dialect ('\\\\b' Spark, '\\b' duck).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .dedup import DUCK, SPARK, minhash_bands_sql, shingles_cte, simhash_sql

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# WeakKeyDictionary, not id(spark)-keyed dict: a GC'd session's address can
# be reused by a new SparkSession, which would then silently skip view
# registration (same stale-cache class as the round-1 broadcast-cache bug)
from weakref import WeakKeyDictionary

_REGISTERED: "WeakKeyDictionary[SparkSession, set[str]]" = WeakKeyDictionary()


#: tables whose consumers are per-row-COMPUTE-heavy (regex extraction and
#: shingling over text; 64-d array math) rather than scan-heavy. When the
#: file layout under-splits them (the sf dirs are single-file tables with
#: one parquet row group, so every scan runs on 1-2 tasks regardless of
#: core count), rebalance after the read (guide §2.5: fix input skew /
#: under-parallel input right after the scan). Measured at sf1.0,
#: local[24]: quality_token_stats 3.3s → 2.8s, ann_dot_topk 1.2s → 0.3s.
#: The relational tables deliberately KEEP their scan layout: their
#: consumers are codegen scan+agg/join pipelines where an extra full-table
#: shuffle costs more than the parallelism buys (measured: q1 1.0s → 1.6s,
#: agg_rollup 0.5s → 1.2s with a blanket rebalance). The partition-count
#: guard makes this a no-op on real multi-file corpora, whose scans
#: already split to ≥ the shuffle parallelism.
_REBALANCE_TABLES = {"documents", "embeddings"}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    done = _REGISTERED.setdefault(spark, set())
    if sf_dir in done:
        return
    n_target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for t in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if t in _REBALANCE_TABLES and df.rdd.getNumPartitions() < n_target:
            df = df.repartition(n_target)
        df.createOrReplaceTempView(t)
    done.add(sf_dir)


_REV_CENTS = "CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)"

# --------------------------------------------------------------------------
# 1. one SQL text, both engines (SURVEY §2.1-2.8 relational operators)
# --------------------------------------------------------------------------

SHARED_SQL: dict[str, str] = {
    # TPC-H Q1 shape: scan + filter + hash agg (partial/final)
    "q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
               {_REV_CENTS} AS sum_disc_cents,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    # TPC-H Q3 shape: 3-way join + agg + top-k
    "q3_shipping_priority": f"""
        SELECT o_orderkey, {_REV_CENTS} AS revenue_cents
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
        GROUP BY o_orderkey
        ORDER BY revenue_cents DESC, o_orderkey
        LIMIT 10
    """,
    # TPC-H Q5 shape: 6-way join, dims broadcast
    "q5_region_revenue": f"""
        SELECT n_name, {_REV_CENTS} AS revenue_cents
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE'
        GROUP BY n_name
    """,
    "filter_project_orders": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 100000
    """,
    "join_broadcast_dims": """
        SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    "semi_join_customers_with_orders": """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "anti_join_customers_without_orders": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "agg_rollup_returns": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    "window_topk_orders_per_customer": """
        SELECT o_custkey, o_orderkey, rnk FROM (
            SELECT o_custkey, o_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            FROM orders) t
        WHERE rnk <= 3
    """,
    "window_running_revenue": """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS running_cents
        FROM orders
    """,
    "window_lag_events": """
        SELECT user_id, event_id,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    """,
    "topk_parts_by_price": """
        SELECT p_partkey, p_name, CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents
        FROM part ORDER BY price_cents DESC, p_partkey LIMIT 10
    """,
    # UNION (distinct) and UNION ALL exercised in one query (§2.7)
    "set_union_ops": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_union_all,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                    SELECT c_nationkey AS k FROM customer
                    UNION SELECT s_nationkey FROM supplier) u) AS n_union_distinct
        FROM (SELECT c_nationkey AS k FROM customer
              UNION ALL SELECT s_nationkey FROM supplier) t
    """,
    "set_intersect_nationkeys": """
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT SELECT s_nationkey FROM supplier
    """,
    "set_except_nationkeys": """
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT SELECT s_nationkey FROM supplier
    """,
    # INTERSECT ALL + EXCEPT ALL in one query, tagged by op (§2.7)
    "set_all_ops_custkeys": """
        SELECT 'intersect_all' AS op, k FROM (
            SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
            INTERSECT ALL
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') a
        UNION ALL
        SELECT 'except_all' AS op, k FROM (
            SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
            EXCEPT ALL
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') b
    """,
    "sample_deterministic": """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY MD5(CAST(o_orderkey AS STRING)), o_orderkey LIMIT 100
    """,
    "distinct_counts_orders": """
        SELECT COUNT(DISTINCT o_custkey) AS n_custs,
               COUNT(DISTINCT o_orderstatus) AS n_status,
               COUNT(*) AS n_orders
        FROM orders
    """,
    "scalar_string_funcs": """
        SELECT p_partkey, UPPER(p_name) AS upper_name,
               CAST(LENGTH(p_name) AS BIGINT) AS name_len,
               SUBSTRING(p_name, 1, 5) AS name_pfx,
               CONCAT(p_brand, '-', p_type) AS brand_type
        FROM part
    """,
    "cube_agg_lineitem": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    "grouping_sets_lineitem": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "having_frequent_customers": """
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        GROUP BY o_custkey HAVING COUNT(*) >= 15
    """,
    "in_subquery_parts": """
        SELECT p_partkey, p_name FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
    """,
    "scalar_math_funcs": """
        SELECT l_orderkey, l_linenumber,
               CAST(CEIL(l_discount * 100) AS BIGINT) AS ceil_disc,
               CAST(FLOOR(l_tax * 100) AS BIGINT) AS floor_tax,
               CAST(ROUND(SQRT(l_quantity) * 10000) AS BIGINT) AS sqrt_qty_e4,
               CAST(ROUND(LN(l_extendedprice) * 10000) AS BIGINT) AS ln_price_e4
        FROM lineitem
    """,
    "conditional_case_funcs": """
        SELECT o_orderkey,
               COALESCE(NULLIF(o_orderstatus, 'F'), 'FINAL') AS status2,
               CASE WHEN o_totalprice > 200000 THEN 'big'
                    WHEN o_totalprice > 100000 THEN 'mid'
                    ELSE 'small' END AS size_bucket
        FROM orders
    """,
}

# --------------------------------------------------------------------------
# 2. dialect-paired SQL: (spark_sql, duck_sql)
# --------------------------------------------------------------------------

# Spark unescapes '\\b' in string literals → regex \b; DuckDB standard
# strings keep backslashes verbatim, so the pattern needs a single '\b'
# (ADVICE r1: the double-backslash duck pattern matched nothing).
_LANGID_WORDS = {
    "en": "the|and|of|fast|slow",
    "de": "der|und|die|das",
    "es": "el|la|de|que",
    "fr": "le|et|la|les",
}


def _langid_sql(count_expr: Callable[[str], str], boundary: str) -> str:
    cnt = {k: count_expr(f"{boundary}({w}){boundary}") for k, w in _LANGID_WORDS.items()}
    return f"""
        SELECT doc_id, lang AS meta_lang,
               CASE WHEN {cnt['en']} >= {cnt['de']} AND {cnt['en']} >= {cnt['es']} AND {cnt['en']} >= {cnt['fr']} THEN 'en'
                    WHEN {cnt['de']} >= {cnt['es']} AND {cnt['de']} >= {cnt['fr']} THEN 'de'
                    WHEN {cnt['es']} >= {cnt['fr']} THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM documents
    """


_SESSIONIZE = """
    WITH g AS (
      SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events)
    SELECT user_id, event_id,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                         OR {epoch_ts} - {epoch_prev} > 1800 THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM g
"""

# word-trigram shingle Jaccard near-dup pairs (e4 fixed-point, threshold 0.2):
# see _fn_ngram_jaccard; tokens are split ONCE (Catalyst re-evaluates a
# `split()` inside every lambda element access otherwise — measured 8× on the
# shingle stage). itertools.count: next() is atomic under the GIL, so
# overlapped driver threads can never derive the same view namespace (a
# bare global += was a read-modify-write race).
import itertools as _it

_NJ_CALL_SEQ = _it.count(1)


def _nj_stage_dd(spark: SparkSession, docs_table: str) -> str:
    """Stage the per-doc shingle set as a per-call temp view
    (doc_id, sid, c, rn, n) and return the view namespace prefix.

    Three scale decisions live here, paid ONCE and reused by every
    downstream branch (the set feeds candidate generation AND verification;
    localCheckpoint materializes it — Spark would otherwise re-expand the
    tokenize→explode→distinct chain per reference, and truncating the
    lineage also sidesteps a Spark 4.1 InlineCTE re-resolution bug over
    lazy nested view plans; at cluster scale this becomes a checkpointed/
    bucketed temp table):
      - shingles are DICTIONARY-ENCODED to BIGINT ``sid`` via an equality
        join against the distinct-shingle set (exact — no hash-collision
        risk), so the candidate self-join and the verification joins
        shuffle 8-byte ints instead of ~30-byte strings (measured ~2× on
        the verify shuffle at sf0.1);
      - the global document frequency ``c`` rides along;
      - the per-doc global-order rank ``rn`` (ORDER BY c, sid — rarest
        first) and set size ``n`` are computed in one window pass here so
        neither the candidate nor the verify branch re-windows."""
    # per-call view namespace: a fixed "nj_*" prefix would make concurrent
    # or repeated invocations (different docs_table args, overlapped driver
    # threads) clobber each other's intermediates mid-plan; views are
    # dropped after the final plan resolves (Spark analyzes eagerly)
    from .dedup import shingle_set_sql

    v = f"nj{next(_NJ_CALL_SEQ)}"
    dd = spark.sql(shingle_set_sql(docs_table)).localCheckpoint()
    dd.createOrReplaceTempView(f"{v}_dd")
    return v


def _nj_candidates_sql(dd: str, threshold_e4: int) -> str:
    """Prefix-filtered candidate pairs (PPJoin-style, EXACT — no recall
    caveat). Shingles get a global total order (df ASC, shingle ASC: rarest
    first); each doc only exposes its first n - ⌈t·n⌉ + 1 shingles in that
    order. Completeness: for a pair with Jaccard ≥ t the overlap o satisfies
    o ≥ ⌈t·n⌉ on BOTH sides (o ≥ t(na+nb)/(1+t) ≥ t·max(na,nb)), so the
    globally-smallest common shingle cannot hide in either doc's
    (⌈t·n⌉-1)-suffix — it lands in both prefixes and generates the pair.
    This removes the old rare-shingle f² blowup: a boilerplate shingle (high
    df) sorts LAST and falls outside every long doc's prefix, so it
    generates no candidates at all; the length filter (min·1e4 ≥ t·max)
    prunes cross-size pairs before they exist. The ⌈⌉ is integer-exact
    ((n·t_e4 + 9999) DIV 10000) — float ceil could round the prefix a row
    short and silently drop a qualifying pair.

    The prefix-overlap count is aggregated straight off the self-join (one
    map-side-combined groupBy, the same fused shape the pre-prefix-filter
    implementation had — a separate DISTINCT + recount pass measured ~3×
    slower at sf0.1), and pairs are pruned by a Jaccard UPPER BOUND before
    any exact verification: every common shingle outside the prefix-prefix
    overlap lies in one of the two (⌈t·n⌉-1)-suffixes, so
    o ≤ cnt_p + suf_a + suf_b (clamped to min(n)); J(o) is monotone in o,
    so ub_jaccard < t proves the pair fails without counting it. Survivors
    are within a whisker of the final result set — the exact verify join
    stays O(|answers| × doc size)."""
    ceil_a = f"((a.n * {threshold_e4} + 9999) DIV 10000)"
    ceil_b = f"((b.n * {threshold_e4} + 9999) DIV 10000)"
    return f"""
        WITH pref AS (
          SELECT doc_id, sid, n FROM {dd}
          WHERE rn <= n - ((n * {threshold_e4} + 9999) DIV 10000) + 1),
        common_pref AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 COUNT(*) AS cnt_p,
                 MAX(a.n) AS na, MAX(b.n) AS nb,
                 MAX({ceil_a}) - 1 AS suf_a, MAX({ceil_b}) - 1 AS suf_b
          FROM pref a JOIN pref b
            ON a.sid = b.sid AND a.doc_id < b.doc_id
          WHERE LEAST(a.n, b.n) * 10000 >= GREATEST(a.n, b.n) * {threshold_e4}
          GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b, na, nb
        FROM (SELECT doc_a, doc_b, na, nb,
                     LEAST(cnt_p + suf_a + suf_b, LEAST(na, nb)) AS ub
              FROM common_pref)
        WHERE ub * 10000.0 / (na + nb - ub) >= {threshold_e4}"""


def ngram_jaccard_candidates(spark: SparkSession,
                             docs_table: str = "documents",
                             threshold_e4: int = 2000,
                             dd_table: str | None = None,
                             verify_index: bool = True) -> DataFrame:
    """The candidate stage of :func:`ngram_jaccard_pairs`, exposed so its
    volume is testable: on a degenerate corpus (hundreds of docs sharing one
    hot shingle) this must stay ≪ f² — the hot shingle sorts last in the
    global df order and never enters a prefix.

    When ``dd_table`` names a :func:`~char_ner_spark.dedup.write_shingle_index`
    table, its recorded source fingerprint is re-verified against the live
    source first (one pruned scan; ``verify_index=False`` skips it — the
    caller then owns invalidation of the point-in-time copy, ADVICE r4)."""
    if dd_table is not None:
        if verify_index:
            from .dedup import verify_shingle_index

            verify_shingle_index(spark, dd_table)
        return spark.sql(_nj_candidates_sql(dd_table, threshold_e4))
    v = _nj_stage_dd(spark, docs_table)
    out = spark.sql(_nj_candidates_sql(f"{v}_dd", threshold_e4))
    spark.catalog.dropTempView(f"{v}_dd")
    return out


def ngram_jaccard_pairs(spark: SparkSession, docs_table: str = "documents",
                        threshold_e4: int = 2000,
                        dd_table: str | None = None,
                        verify_index: bool = True) -> DataFrame:
    """Word-trigram Jaccard pairs (≥ ``threshold_e4``/1e4), exact output.

    Two stages, both sub-quadratic (the round-3 verdict's last remaining
    all-pairs shape): (1) prefix-filtered candidate generation
    (:func:`_nj_candidates_sql` — only each doc's globally-rarest
    n - ⌈t·n⌉ + 1 shingles generate join rows, with a length-ratio prune),
    then (2) an exact intersection count for the surviving candidate pairs
    only. The verify pass first prunes the staged (doc_id, shingle) set to
    docs that appear in ≥1 candidate pair (semi-join; AQE picks broadcast
    while the candidate doc set fits — no hard hint, because that set grows
    linearly with the corpus and a forced broadcast would OOM the driver at
    10^12 docs; past broadcast size the join shuffles by doc_id, a
    partitioning the collect_list aggregation immediately reuses), then
    counts shared shingles per pair — linear in |candidates| × doc size. The old df_cap/hot-correction machinery is
    gone: the prefix filter is unconditionally exact, with no "must share a
    sub-cap shingle" caveat.

    ``dd_table`` indexes are re-verified against their recorded source
    fingerprint unless ``verify_index=False`` (see
    :func:`ngram_jaccard_candidates`).

    Adaptive dispatch (round 6, optimization guide §8 "decide with small
    rows"): when no pre-built index is supplied and the corpus's total
    shingle count fits the broadcast budget
    (:func:`~char_ner_spark.dedup.ngram_jaccard_pairs_counting` — default
    40M distinct (doc, shingle) rows, env CHAR_NER_NJ_BROADCAST_MAX), the
    exact intersection counts are computed by broadcast postings +
    vectorized multiset counting with ZERO pair-keyed shuffle — on the
    dense bench corpus the SQL prefix join materializes ~85M candidate
    pairs at sf1.0 for ~2.5k answers, and this path removes both pair
    shuffles outright (measured 114s → ~10s at sf1.0). Same results,
    bit-for-bit (path-equality tested + the same DuckDB oracle); past the
    budget the SQL path below remains the scale shape."""
    if dd_table is None:
        from .dedup import ngram_jaccard_pairs_counting

        fast = ngram_jaccard_pairs_counting(spark, docs_table, threshold_e4)
        if fast is not None:
            return fast
    if dd_table is not None:
        if verify_index:
            from .dedup import verify_shingle_index

            verify_shingle_index(spark, dd_table)
        dd_rel, v = dd_table, f"nj{next(_NJ_CALL_SEQ)}"
    else:
        v = _nj_stage_dd(spark, docs_table)
        dd_rel = f"{v}_dd"
    cand = spark.sql(_nj_candidates_sql(dd_rel, threshold_e4)).localCheckpoint()
    cand.createOrReplaceTempView(f"{v}_cand")
    # verify via per-doc sid ARRAYS, not a join expansion: folding each
    # candidate doc's shingle set into one array<bigint> row keeps the
    # exact-count join at |candidates| rows with array_intersect doing the
    # per-pair set intersection JVM-side (the expansion variant — pair ⋈
    # per-shingle rows ⋈ per-shingle rows — shuffled ~30× more rows and
    # measured ~4× slower at sf0.1). Arrays are bounded by doc size, so
    # the row width is bounded too; at 10^12 docs this stays linear in
    # |candidates| and never rematerializes the corpus.
    arr = spark.sql(
        f"""WITH cd AS (
          SELECT doc_a AS doc_id FROM {v}_cand
          UNION SELECT doc_b FROM {v}_cand)
        SELECT d.doc_id, collect_list(d.sid) AS sids
        FROM {dd_rel} d JOIN cd ON d.doc_id = cd.doc_id
        GROUP BY d.doc_id"""
    ).localCheckpoint()  # referenced by BOTH sides of the pair join below
    arr.createOrReplaceTempView(f"{v}_arr")
    out = spark.sql(
        f"""WITH inter AS (
          SELECT c.doc_a, c.doc_b, c.na, c.nb,
                 size(array_intersect(a.sids, b.sids)) AS cnt
          FROM {v}_cand c
          JOIN {v}_arr a ON a.doc_id = c.doc_a
          JOIN {v}_arr b ON b.doc_id = c.doc_b)
        SELECT doc_a, doc_b,
               CAST(ROUND(cnt * 10000.0 / (na + nb - cnt)) AS BIGINT) AS jaccard_e4
        FROM inter
        WHERE cnt * 10000.0 / (na + nb - cnt) >= {threshold_e4}"""
    )
    # plans are analyzed eagerly, so the resolved DataFrames no longer need
    # the views — drop them to leave the catalog clean (the caller-supplied
    # dd_table, if any, is theirs to keep)
    for suffix in (("_cand", "_arr") if dd_table is not None
                   else ("_dd", "_cand", "_arr")):
        spark.catalog.dropTempView(f"{v}{suffix}")
    return out


def _fn_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return ngram_jaccard_pairs(spark)

# the shingle definition is shared with dedup.py (one source of truth for
# both the production dedup operators and this verification query + oracle)
_NGRAM_JACCARD_DUCK = f"""
    WITH sh AS ({shingles_cte('documents', DUCK)}),
    d AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM d GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS cnt
      FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           CAST(ROUND(cnt * 10000.0 / (sa.n + sb.n - cnt)) AS BIGINT) AS jaccard_e4
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE cnt * 10000.0 / (sa.n + sb.n - cnt) >= 2000
"""

# quantized-cosine brute-force top-k: components quantized to ints BEFORE
# the dot products so both engines sum exact integers; the final divide/
# sqrt/round is a fixed IEEE double expression evaluated identically.
_COSINE_TOPK_SPARK = """
    WITH q AS (SELECT transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
               FROM embeddings WHERE vec_id = 0),
    v AS (SELECT vec_id, transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ev
          FROM embeddings)
    SELECT vec_id,
           CAST(ROUND(
             CAST(aggregate(zip_with(ev, qv, (x, y) -> x * y), CAST(0 AS BIGINT), (a, z) -> a + z) AS DOUBLE)
             * 1000000.0
             / (SQRT(CAST(aggregate(transform(ev, x -> x * x), CAST(0 AS BIGINT), (a, z) -> a + z) AS DOUBLE))
              * SQRT(CAST(aggregate(transform(qv, x -> x * x), CAST(0 AS BIGINT), (a, z) -> a + z) AS DOUBLE)))
           ) AS BIGINT) AS cosine_e6
    FROM v CROSS JOIN q
    ORDER BY cosine_e6 DESC, vec_id LIMIT 10
"""

_COSINE_TOPK_DUCK = """
    WITH q AS (SELECT list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
               FROM embeddings WHERE vec_id = 0),
    v AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ev
          FROM embeddings)
    SELECT vec_id,
           CAST(ROUND(CAST(list_dot_product(ev, qv) AS DOUBLE) * 1000000.0
                / (SQRT(CAST(list_dot_product(ev, ev) AS DOUBLE))
                 * SQRT(CAST(list_dot_product(qv, qv) AS DOUBLE)))) AS BIGINT) AS cosine_e6
    FROM v CROSS JOIN q
    ORDER BY cosine_e6 DESC, vec_id LIMIT 10
"""

PAIRED_SQL: dict[str, tuple[str, str]] = {
    "sessionize_events": (
        _SESSIONIZE.format(epoch_ts="unix_timestamp(ts)",
                           epoch_prev="unix_timestamp(prev_ts)"),
        _SESSIONIZE.format(epoch_ts="CAST(epoch(ts) AS BIGINT)",
                           epoch_prev="CAST(epoch(prev_ts) AS BIGINT)"),
    ),
    # array slice/sort projected to a fixed-point string (driver canonicalizer
    # cannot hash array cells — round-1 failure)
    "array_slice_sort": (
        """SELECT vec_id,
                  concat_ws(',', transform(sort_array(slice(embedding, 1, 4)),
                            x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000) AS BIGINT))) AS first4_sorted_e4,
                  CAST(size(embedding) AS BIGINT) AS dim
           FROM embeddings""",
        """SELECT vec_id,
                  array_to_string(list_transform(list_sort(list_slice(embedding, 1, 4)),
                                  x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000) AS BIGINT)), ',') AS first4_sorted_e4,
                  CAST(len(embedding) AS BIGINT) AS dim
           FROM embeddings""",
    ),
    "scalar_json_events": (
        """SELECT event_type,
                  SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS sum_k,
                  COUNT(*) AS n
           FROM events GROUP BY event_type""",
        """SELECT event_type,
                  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                  COUNT(*) AS n
           FROM events GROUP BY event_type""",
    ),
    # date-part extraction + month formatting (merged scalar_month_string)
    "scalar_date_funcs": (
        """SELECT o_orderkey,
                  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
                  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month,
                  CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS order_day,
                  DATE_FORMAT(o_orderdate, 'yyyy-MM') AS order_month_str
           FROM orders""",
        """SELECT o_orderkey,
                  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
                  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month,
                  CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS order_day,
                  STRFTIME(o_orderdate, '%Y-%m') AS order_month_str
           FROM orders""",
    ),
    # exact dedup, hash-keyed shuffle: Spark groups by sha2(text) so shuffle
    # keys are 64-byte digests, not multi-KB documents (same groups — the
    # oracle keeps the raw-text definition)
    "dedup_exact_documents": (
        """SELECT doc_id AS kept_doc_id FROM documents
           WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY sha2(text, 256))""",
        """SELECT doc_id AS kept_doc_id FROM documents
           WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)""",
    ),
    "dedup_exact_groups": (
        """SELECT MIN(text) AS text, COUNT(*) AS n_dups,
                  CAST(MIN(doc_id) AS BIGINT) AS keeper
           FROM documents GROUP BY sha2(text, 256) HAVING COUNT(*) > 1""",
        """SELECT text, COUNT(*) AS n_dups, CAST(MIN(doc_id) AS BIGINT) AS keeper
           FROM documents GROUP BY text HAVING COUNT(*) > 1""",
    ),
    # token counting + quality scoring in one pass: whitespace tokens,
    # BPE-ish regex pieces (word runs + single non-word marks), chars/token,
    # punctuation ratio, stopword ratio (all e4 fixed-point)
    "quality_token_stats": (
        """SELECT doc_id,
                  CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
                  CAST(size(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 ]', 0)) AS BIGINT) AS n_pieces,
                  CAST(LENGTH(text) AS BIGINT) AS n_chars_text,
                  CAST(n_chars AS BIGINT) AS n_chars_meta,
                  CAST(ROUND(LENGTH(text) * 10000.0 / size(split(text, ' '))) AS BIGINT) AS chars_per_token_e4,
                  CAST(ROUND(size(regexp_extract_all(text, '[^a-zA-Z0-9 ]', 0)) * 10000.0
                             / GREATEST(LENGTH(text), 1)) AS BIGINT) AS punct_ratio_e4,
                  CAST(ROUND(size(regexp_extract_all(LOWER(text), '\\\\b(the|and|of|a|in|to|der|und|el|la|de|le|et)\\\\b', 0)) * 10000.0
                             / size(split(text, ' '))) AS BIGINT) AS stopword_ratio_e4
           FROM documents""",
        """SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_pieces,
                  CAST(LENGTH(text) AS BIGINT) AS n_chars_text,
                  CAST(n_chars AS BIGINT) AS n_chars_meta,
                  CAST(ROUND(LENGTH(text) * 10000.0 / len(string_split(text, ' '))) AS BIGINT) AS chars_per_token_e4,
                  CAST(ROUND(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) * 10000.0
                             / GREATEST(LENGTH(text), 1)) AS BIGINT) AS punct_ratio_e4,
                  CAST(ROUND(len(regexp_extract_all(LOWER(text), '\\b(the|and|of|a|in|to|der|und|el|la|de|le|et)\\b')) * 10000.0
                             / len(string_split(text, ' '))) AS BIGINT) AS stopword_ratio_e4
           FROM documents""",
    ),
    # document fingerprinting: sha256 + md5 (raw and lowercased) + translate
    # + polynomial rolling hash over token hashes (order-sensitive — equal
    # only for documents with the same token SEQUENCE; mod 2^31-1 keeps
    # every intermediate exact in BIGINT on both engines)
    "scalar_hash_translate": (
        """SELECT doc_id, SHA2(text, 256) AS sha, MD5(text) AS md5h,
                  MD5(LOWER(text)) AS fp_lower,
                  TRANSLATE(lang, 'aeiou', 'AEIOU') AS lang_t,
                  aggregate(
                    transform(split(text, ' '),
                      t -> CAST(conv(substr(md5(t), 18, 15), 16, 10) AS BIGINT) % 2147483647),
                    CAST(0 AS BIGINT), (a, b) -> (a * 31 + b) % 2147483647) AS rollhash31
           FROM documents""",
        """SELECT doc_id, SHA256(text) AS sha, MD5(text) AS md5h,
                  MD5(LOWER(text)) AS fp_lower,
                  TRANSLATE(lang, 'aeiou', 'AEIOU') AS lang_t,
                  list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(text, ' '),
                        t -> CAST(('0x' || substr(md5(t), 18, 15)) AS BIGINT) % 2147483647)),
                    (a, b) -> (a * 31 + b) % 2147483647) AS rollhash31
           FROM documents""",
    ),
    "langid_heuristic": (
        _langid_sql(lambda pat: f"size(regexp_extract_all(text, '{pat}', 0))", "\\\\b"),
        _langid_sql(lambda pat: f"len(regexp_extract_all(text, '{pat}'))", "\\b"),
    ),
    # char-bigram counts — the shape of the reference's transition-matrix
    # estimation (SURVEY §2.4 A2: bigram counts → log-prob matrix)
    "char_bigram_counts": (
        """SELECT bg, COUNT(*) AS n FROM (
             SELECT substring(text, i, 2) AS bg
             FROM documents LATERAL VIEW explode(sequence(1, length(text) - 1)) t AS i
             WHERE length(text) >= 2) x
           GROUP BY bg ORDER BY n DESC, bg LIMIT 20""",
        """SELECT bg, COUNT(*) AS n FROM (
             SELECT substring(text, CAST(i AS INT), 2) AS bg
             FROM documents, unnest(range(1, len(text))) AS t(i)
             WHERE len(text) >= 2) x
           GROUP BY bg ORDER BY n DESC, bg LIMIT 20""",
    ),
    # quantized-dot-product brute-force ANN top-k (integer-exact in both)
    "ann_dot_topk": (
        """
        SELECT vec_id,
               CAST(aggregate(zip_with(embedding, qe,
                    (x, y) -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                            * CAST(ROUND(CAST(y AS DOUBLE) * 1000) AS BIGINT)),
                    CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT) AS dot_q
        FROM embeddings
        CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        ORDER BY dot_q DESC, vec_id LIMIT 10
        """,
        """
        SELECT vec_id,
               CAST(list_dot_product(
                    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)),
                    list_transform(qe, x -> round(CAST(x AS DOUBLE) * 1000))) AS BIGINT) AS dot_q
        FROM embeddings
        CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        ORDER BY dot_q DESC, vec_id LIMIT 10
        """,
    ),
    "cosine_topk_embeddings": (_COSINE_TOPK_SPARK, _COSINE_TOPK_DUCK),
}

# cross-engine SQL dedup operators (char_ner_spark/dedup.py): ONE template
# generates both dialects, so the hash gate checks Spark's distributed
# execution against an independent engine. These are also the production
# corpus-dedup path at scale: built-in string/bit SQL, zero Python
# crossings, whole-stage codegen end to end (the NumPy MinHash in textops
# remains the alias-LSH *linking* implementation, where signatures feed
# Python scoring anyway).
PAIRED_SQL["minhash_dedup_buckets"] = (
    minhash_bands_sql(SPARK), minhash_bands_sql(DUCK)
)
PAIRED_SQL["simhash_documents"] = (simhash_sql(SPARK), simhash_sql(DUCK))

# --------------------------------------------------------------------------
# 3. Spark callables (non-SQL operators); optional DuckDB oracle
# --------------------------------------------------------------------------


def _fn_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CC operator (SURVEY §2.9 M7) on a supplier—nation bipartite graph,
    oracle-checked against a DuckDB recursive CTE."""
    from pyspark.sql import functions as F

    from .pipeline import connected_components

    register_views(spark, sf_dir)
    sup = spark.table("supplier")
    verts = (
        spark.table("nation").select(F.col("n_nationkey").cast("long").alias("id"))
        .union(sup.select((F.col("s_suppkey") + 1000).cast("long").alias("id")))
        .distinct()
    )
    edges = sup.select(
        (F.col("s_suppkey") + 1000).cast("long").alias("src"),
        F.col("s_nationkey").cast("long").alias("dst"),
    )
    return connected_components(verts, edges)


_CC_DUCK_SQL = """
    WITH RECURSIVE verts AS (
        SELECT n_nationkey::BIGINT AS id FROM nation
        UNION SELECT s_suppkey + 1000 FROM supplier),
    edges AS (
        SELECT s_suppkey + 1000 AS src, s_nationkey::BIGINT AS dst FROM supplier
        UNION SELECT s_nationkey::BIGINT, s_suppkey + 1000 FROM supplier),
    cc(id, label) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.id = e.src)
    SELECT id AS entity_id, MIN(label) AS canonical_id FROM cc GROUP BY id
"""


# flagship KG fixture corpus: fixed size (NOT sized from the sf tables) so
# the staged golden-oracle parquet below matches the Spark query at any sf
_KG_N_ENTITIES, _KG_N_PAGES = 120, 240


def _kg_corpus():
    from .fixtures import make_alias_table, make_pages

    alias = make_alias_table(_KG_N_ENTITIES, seed=42)
    pages = make_pages(_KG_N_PAGES, seed=42, alias_df=alias)
    return alias, pages


def _kg_gold_paths() -> dict[str, str]:
    """Stage the single-process golden run (oracle.run_oracle — the same
    pure semantics composed sequentially in pandas, no Spark) as parquet
    for the DuckDB side. The driver's value-hash gate then verifies that
    every distribution mechanism in the Spark pipeline — mapInPandas
    batching, salted repartition, broadcast linking, distributed
    canonicalization, shuffled dedup — reproduces the sequential
    composition bit-for-bit (scores/confidences included, via e6
    fixed-point). Floats use floor(x*1e6+0.5): same double inputs on both
    sides (verified bitwise in tests/test_pipeline_spark.py), same rule."""
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .oracle import run_oracle

    # cache key: PINNED to the round-6-start source fingerprint of the
    # golden-run closure (oracle, fixtures, tagger, textops, linking,
    # relations, spans, driver_queries). The oracle SQL text embeds this
    # path, and the driver freezes oracle SQL text across the optimization
    # round — a source-derived fingerprint would turn any perf-only edit
    # into a spurious text change. Golden SEMANTICS stay guarded by the
    # driver's value-hash gate itself (Spark output vs freshly staged
    # golden run); if those semantics are ever intentionally changed, bump
    # this literal (`_code_fp(oracle, fixtures, tagger, textops, linking,
    # relations, spans, driver_queries)` prints the new value) so stale
    # /tmp stagings from the old semantics cannot be read back.
    code_fp = "089e310dc884"
    tmp = tempfile.gettempdir()
    paths = {
        k: os.path.join(
            tmp,
            f"cns_kg_gold_{k}_{_KG_N_PAGES}x{_KG_N_ENTITIES}_{code_fp}.parquet",
        )
        for k in ("triples", "mentions")
    }
    if not all(os.path.exists(p) for p in paths.values()):
        alias, pages = _kg_corpus()
        gold = run_oracle(pages, alias)
        tri = gold["triples"].copy()
        tri["conf_e6"] = np.floor(
            tri["conf"].astype("float64") * 1e6 + 0.5
        ).astype("int64")
        tri = tri[["subj", "pred", "obj", "url", "sent_idx", "conf_e6"]]
        men = gold["mentions"].copy()
        men["score_e6"] = np.floor(
            men["score"].astype("float64") * 1e6 + 0.5
        ).astype("int64")
        men = men[
            ["url", "sent_idx", "begin", "end", "surface", "ner_type", "lang", "score_e6"]
        ]
        for k, pdf in (("triples", tri), ("mentions", men)):
            t = f"{paths[k]}.tmp.{os.getpid()}"  # atomic stage (see media fixture)
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), t)
            os.replace(t, paths[k])
    return paths


def _kg_triples_duck_sql() -> str:
    p = _kg_gold_paths()["triples"]
    return f"SELECT subj, pred, obj, url, sent_idx, conf_e6 FROM read_parquet('{p}')"


def _kg_mentions_duck_sql() -> str:
    p = _kg_gold_paths()["mentions"]
    return (
        "SELECT url, sent_idx, begin, \"end\", surface, ner_type, lang, score_e6 "
        f"FROM read_parquet('{p}')"
    )


def _fn_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship KG pipeline (extract → tag → link → canonicalize → triples)
    on the deterministic fixture corpus, hash-checked against the staged
    single-process golden run (see _kg_gold_paths)."""
    from .pipeline import run_pipeline

    register_views(spark, sf_dir)
    alias, pages_pdf = _kg_corpus()
    pages = spark.createDataFrame(pages_pdf)
    return run_pipeline(spark, pages, alias)["triples"].selectExpr(
        "subj", "pred", "obj", "url", "sent_idx",
        "CAST(FLOOR(CAST(conf AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS conf_e6",
    )


def _fn_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagger stage alone — the production fused extract+tag crossing
    (tag_pages: extract_text + BiLSTM + Viterbi in one vectorized UDF),
    hash-checked against the golden run's mention table — scores included
    (e6 fixed-point; batch composition is provably score-invariant,
    tests/test_tagger_oracle.py)."""
    from .pipeline import tag_pages

    register_views(spark, sf_dir)
    alias, pages_pdf = _kg_corpus()
    pages = spark.createDataFrame(pages_pdf)
    return tag_pages(pages).selectExpr(
        "url", "sent_idx", "begin", "end", "surface", "ner_type", "lang",
        "CAST(FLOOR(CAST(score AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS score_e6",
    )


def _fn_pivot_operator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native pivot() operator, oracle-checked against the manual
    CASE-WHEN pivot SQL in DuckDB (same result contract)."""
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    return (
        spark.table("customer")
        .join(spark.table("orders"),
              F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "c_mktsegment",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


_PIVOT_DUCK_SQL = """
    SELECT c_mktsegment,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
"""


def _fn_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL, SURVEY §2.4 A6). The sketch value is
    engine-specific, so the oracled columns are the exact count plus a
    within-10%-relative-error flag (HLL rsd default 0.05 ⇒ observed error
    5-7% on these tables; deterministic for fixed data, and the oracle
    asserts the bound holds)."""
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
               CAST(CASE WHEN ABS(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey))
                              <= 0.10 * COUNT(DISTINCT o_custkey)
                         THEN 1 ELSE 0 END AS BIGINT) AS within_10pct
        FROM orders
    """)


_APPROX_DISTINCT_DUCK_SQL = """
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
           CAST(1 AS BIGINT) AS within_10pct
    FROM orders
"""


def _fn_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path, now hash-checked (was rows-only `ann_lsh_topk` in
    r2): IVF cell-probe top-k at FULL probe (`nprobe == nlist`), where the
    result provably equals brute force regardless of the trained centroids
    — so the whole distributed IVF plumbing (driver-side spherical k-means
    quantizer, Arrow-GEMM cell assignment, probe-cell explode, broadcast
    candidate join, per-query rank window) is verified bit-for-bit against
    plain quantized-cosine SQL in DuckDB. Scores are integer-exact e6
    cosines over e3-quantized components (similarity.ivf_topk_e6). The
    genuinely-approximate evidence (pruned probes, hyperplane-LSH banding)
    is pinned in tests/test_similarity.py against this exact baseline."""
    from pyspark.sql import functions as F

    from .similarity import ivf_topk_e6

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_e6(emb, queries, k=10, nlist=16)


_ANN_IVF_DUCK_SQL = """
    WITH q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding,
                 x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qq
      FROM embeddings WHERE vec_id < 5),
    v AS (
      SELECT vec_id,
             list_transform(embedding,
                 x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
      FROM embeddings),
    scored AS (
      SELECT query_id, vec_id,
             CAST(ROUND(CAST(list_dot_product(qe, qq) AS DOUBLE) * 1000000.0
                  / (SQRT(CAST(GREATEST(list_dot_product(qe, qe), 1) AS DOUBLE))
                   * SQRT(CAST(GREATEST(list_dot_product(qq, qq), 1) AS DOUBLE))))
               AS BIGINT)
               AS cosine_e6
      FROM v CROSS JOIN q),
    ranked AS (
      SELECT query_id, vec_id, cosine_e6,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine_e6 DESC, vec_id) AS BIGINT) AS rk
      FROM scored)
    SELECT query_id, vec_id, cosine_e6, rk FROM ranked WHERE rk <= 10
"""


def _fn_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column pipeline (SURVEY §2.11; REAL pure-NumPy
    BMP/WAV/AVI decode as of round 5 — every fixture format except the
    deliberately-opaque compressed-container rows decodes for real). The
    fixture is staged as parquet so DuckDB can read the same bytes; the
    Spark side runs the production decoders inside mapInPandas and emits
    integer-exact columns the oracle recomputes from the raw payload plus
    the fixture's format contract:

    - ``payload_hex`` proves the binary column crossed Arrow byte-identically;
    - ``img_w``/``img_h``/``n_samples``/``sample_rate``/``n_frames``/
      ``frame_ms`` come from the REAL header parse (BMP DIB / WAV fmt
      chunk / AVI avih + chunk walk) — the oracle derives them from the
      fixture's metadata columns and the canonical 54/44/232-byte header
      layouts, so a wrong parse hash-mismatches;
    - ``hist16`` is the high-nibble histogram of the DECODED content
      (pixel array for images, int16 samples for audio, stacked RGB frame
      array for uncompressed-AVI video, raw payload for the opaque
      compressed-container rows) — the oracle recomputes it from the
      payload's content byte range(s) (nibble histograms are
      permutation-invariant, so BGR-bottom-up file order vs RGB-top-down
      array order agree exactly; for AVI the ranges are the per-frame
      '00db' pixel regions at the canonical encoder layout);
    - thumb dims come from the actually-resized decoded pixels.

    The float32 feature + sha256 surface is covered in
    tests/test_multimodal.py (float normalization isn't reproducible
    bit-exactly in double-precision SQL, so it stays out of the hash)."""
    import binascii
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from .multimodal import decode_audio, decode_image, decode_video, is_avi, resize_image

    register_views(spark, sf_dir)
    media = spark.read.parquet(_media_fixture_path())

    verify_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("hist16", T.StringType()),
            T.StructField("payload_hex", T.StringType()),
            T.StructField("img_w", T.IntegerType()),
            T.StructField("img_h", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("frame_ms", T.IntegerType()),
            T.StructField("thumb_w", T.IntegerType()),
            T.StructField("thumb_h", T.IntegerType()),
        ]
    )

    def verify_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in verify_schema.fields}
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                img_w = img_h = n_samp = rate = thumb_w = thumb_h = None
                n_frames = frame_ms = None
                if kind == "image":
                    img = decode_image(b)  # REAL BMP decode, no fake fallback
                    content = img.tobytes()
                    img_h, img_w = int(img.shape[0]), int(img.shape[1])
                    thumb = resize_image(img, 8, 8)
                    thumb_w, thumb_h = int(thumb.shape[1]), int(thumb.shape[0])
                elif kind == "audio":
                    samples, rate, _ch = decode_audio(b)  # REAL PCM decode
                    content = samples.tobytes()
                    n_samp, rate = int(samples.size), int(rate)
                elif kind == "video" and is_avi(b):
                    frames, fms = decode_video(b)  # REAL AVI decode
                    content = frames.tobytes()
                    n_frames, frame_ms = int(frames.shape[0]), int(fms)
                    img_h, img_w = int(frames.shape[1]), int(frames.shape[2])
                else:  # compressed-container video: content = raw payload
                    content = b
                arr = np.frombuffer(content, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=16)
                rows["media_id"].append(int(mid))
                rows["kind"].append(kind)
                rows["n_bytes"].append(len(b))
                rows["hist16"].append(",".join(str(int(x)) for x in hist))
                rows["payload_hex"].append(binascii.hexlify(b).decode())
                rows["img_w"].append(img_w)
                rows["img_h"].append(img_h)
                rows["n_samples"].append(n_samp)
                rows["sample_rate"].append(rate)
                rows["n_frames"].append(n_frames)
                rows["frame_ms"].append(frame_ms)
                rows["thumb_w"].append(thumb_w)
                rows["thumb_h"].append(thumb_h)
            yield pd.DataFrame(rows)

    return media.select("media_id", "kind", "payload").mapInPandas(
        verify_batches, schema=verify_schema
    )


def _code_fp(*modules) -> str:
    """Source fingerprint for staged-fixture cache keys (stale /tmp files
    from a previous code revision must never survive a semantic change)."""
    import hashlib

    h = hashlib.sha256()
    for mod in modules:
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _media_fixture_path() -> str:
    """Stage the deterministic media fixture as a parquet file both engines
    read (Spark via spark.read.parquet, DuckDB via read_parquet)."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import multimodal
    from .multimodal import make_media_fixture

    path = os.path.join(
        tempfile.gettempdir(),
        # pinned round-6-start fingerprint of multimodal.py (oracle SQL text
        # embeds this path and is frozen for the optimization round; bump
        # the literal to _code_fp(multimodal) on an intentional semantic
        # change — see _kg_gold_paths)
        "char_ner_spark_media_fixture_abe82a621bb4.parquet",
    )
    if not os.path.exists(path):
        # atomic stage: a killed/concurrent first writer must never leave a
        # half-written parquet at the final path (exists() would then skip
        # regeneration forever)
        pdf = make_media_fixture(96, seed=42)
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
        os.replace(tmp, path)
    return path


def _media_duck_sql() -> str:
    """Lazy oracle for the REAL-decode media query: recompute every column
    from the staged parquet bytes plus the fixture's format contract —
    images are canonical 54-byte-header pad-free 24-bit BMPs (pixel region
    = bytes 55..54+3wh, dims = the fixture's metadata columns, which the
    Spark side must REDISCOVER by parsing the actual DIB header), audio is
    canonical 44-byte-header PCM16 mono WAV at 8 kHz (sample region =
    bytes 45.., n_samples = (len-44)/2, rate = 8000 — Spark must parse the
    fmt chunk to match), video with metadata dims is a canonical-layout
    uncompressed AVI (n_frames = duration_ms/1000 pad-free 24-bit DIB
    frames of 3wh bytes each, frame k's pixel region starting at byte
    offset 232 + k*(3wh+8) per multimodal.AVI_FRAME0_OFFSET — Spark must
    walk the real chunk tree to match), and dim-less video rows are
    opaque compressed containers (content = whole payload). hist16 is the
    high-nibble histogram of the content range(s) (hex-digit trick: the
    high nibble of 0-based byte j is hex char 2j+1, 1-based); nibble
    histograms are permutation-invariant, so the oracle's file-order bytes
    equal Spark's decoded-array-order bytes exactly."""
    path = _media_fixture_path()
    return f"""
    WITH m AS (
        SELECT media_id, kind, payload, lower(hex(payload)) AS h,
               CAST(octet_length(payload) AS BIGINT) AS len,
               CASE WHEN kind = 'image' THEN 54
                    WHEN kind = 'audio' THEN 44
                    WHEN kind = 'video' AND width IS NOT NULL THEN 232
                    ELSE 0 END AS off,
               CASE WHEN kind = 'image' OR (kind = 'video' AND width IS NOT NULL)
                         THEN 3 * CAST(width AS BIGINT) * CAST(height AS BIGINT)
                    WHEN kind = 'audio'
                         THEN CAST(octet_length(payload) AS BIGINT) - 44
                    ELSE CAST(octet_length(payload) AS BIGINT) END AS clen,
               CASE WHEN kind = 'video' AND width IS NOT NULL
                    THEN CAST(duration_ms AS BIGINT) // 1000
                    ELSE 1 END AS nf,
               CASE WHEN kind = 'video' AND width IS NOT NULL
                    THEN 3 * CAST(width AS BIGINT) * CAST(height AS BIGINT) + 8
                    ELSE 0 END AS stride,
               CAST(width AS INTEGER) AS meta_w, CAST(height AS INTEGER) AS meta_h,
               CAST(duration_ms AS BIGINT) AS duration_ms
        FROM read_parquet('{path}')),
    regions AS (
        SELECT media_id, h, off + unnest(range(0, nf)) * stride AS roff, clen
        FROM m),
    idx AS (
        SELECT media_id, h, unnest(range(roff + 1, roff + clen + 1)) AS i
        FROM regions),
    digits AS (
        SELECT media_id,
               strpos('0123456789abcdef', substring(h, CAST(2*i - 1 AS INTEGER), 1)) - 1 AS v
        FROM idx),
    counts AS (SELECT media_id, v, COUNT(*) AS n FROM digits GROUP BY media_id, v),
    bins AS (
        SELECT m.media_id, b.v AS v, COALESCE(c.n, 0) AS n
        FROM m CROSS JOIN (SELECT unnest(range(0, 16)) AS v) b
        LEFT JOIN counts c ON c.media_id = m.media_id AND c.v = b.v),
    hists AS (
        SELECT media_id, string_agg(CAST(n AS VARCHAR), ',' ORDER BY v) AS hist16
        FROM bins GROUP BY media_id)
    SELECT m.media_id, m.kind, m.len AS n_bytes,
           hists.hist16, m.h AS payload_hex,
           CASE WHEN m.kind = 'image'
                     OR (m.kind = 'video' AND m.meta_w IS NOT NULL)
                THEN m.meta_w END AS img_w,
           CASE WHEN m.kind = 'image'
                     OR (m.kind = 'video' AND m.meta_w IS NOT NULL)
                THEN m.meta_h END AS img_h,
           CASE WHEN m.kind = 'audio'
                THEN CAST((m.len - 44) // 2 AS INTEGER) END AS n_samples,
           CASE WHEN m.kind = 'audio' THEN 8000 END AS sample_rate,
           CASE WHEN m.kind = 'video' AND m.meta_w IS NOT NULL
                THEN CAST(m.duration_ms // 1000 AS INTEGER) END AS n_frames,
           CASE WHEN m.kind = 'video' AND m.meta_w IS NOT NULL
                THEN 1000 END AS frame_ms,
           CASE WHEN m.kind = 'image' THEN 8 END AS thumb_w,
           CASE WHEN m.kind = 'image' THEN 8 END AS thumb_h
    FROM m JOIN hists ON m.media_id = hists.media_id
    """


def _conll_fixture_path() -> str:
    import tempfile

    from . import sources
    from .sources import write_conll_fixture

    path = os.path.join(
        tempfile.gettempdir(),
        # pinned round-6-start fingerprint of sources.py (see _kg_gold_paths)
        "char_ner_spark_conll_fixture_6b1201b94ce5.txt",
    )
    if not os.path.exists(path):
        tmp = f"{path}.tmp.{os.getpid()}"  # atomic stage (see media fixture)
        write_conll_fixture(tmp, n_sents=120, seed=42)
        os.replace(tmp, path)
    return path


def _fn_conll_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CoNLL input format through the Spark reader
    (SURVEY §2.1 S1; deterministic fixture file). Token/tag arrays are
    projected to space-joined strings (canonicalizer-safe). Oracled: the
    DuckDB side re-parses the same file from scratch (read_text + window
    segmentation), so the whole parse path is hash-checked."""
    from .sources import read_conll

    register_views(spark, sf_dir)
    return read_conll(spark, _conll_fixture_path()).selectExpr(
        "sent_id",
        "concat_ws(' ', tokens) AS tokens_str",
        "concat_ws(' ', tags) AS tags_str",
    )


def _conll_duck_sql() -> str:
    """Lazy oracle: ensures the fixture file exists, then returns DuckDB SQL
    that re-implements the CoNLL parse (blank-line sentence segmentation via
    a running-count window, col0 = token, last col = tag, -DOCSTART- rows
    dropped) directly over the text file."""
    path = _conll_fixture_path()
    return f"""
    WITH raw AS (
        SELECT unnest(string_split(content, chr(10))) AS line,
               generate_subscripts(string_split(content, chr(10)), 1) AS line_id
        FROM read_text('{path}')),
    marked AS (
        SELECT trim(line) AS line, line_id,
               CASE WHEN trim(line) = '' THEN 1 ELSE 0 END AS is_blank
        FROM raw),
    numbered AS (
        SELECT line, line_id, is_blank,
               SUM(is_blank) OVER (ORDER BY line_id) AS sent_id
        FROM marked),
    toks AS (
        SELECT sent_id, line_id, regexp_split_to_array(line, '\\s+') AS cols
        FROM numbered
        WHERE is_blank = 0 AND NOT starts_with(line, '-DOCSTART-'))
    SELECT CAST(sent_id AS BIGINT) AS sent_id,
           string_agg(cols[1], ' ' ORDER BY line_id) AS tokens_str,
           string_agg(cols[-1], ' ' ORDER BY line_id) AS tags_str
    FROM toks GROUP BY sent_id
    """


def _fn_span_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """conlleval-equivalent phrase F1 (SURVEY §2.4 A4) through the real
    evaluation.span_f1 aggregation, on BIO tag sequences derived from the
    documents table: gold = maximal runs of tokens with length ≥ 5,
    pred = runs with length ≥ 6 (deterministic, nontrivial P/R). The DuckDB
    oracle recomputes the same phrase-level match in pure SQL."""
    from .evaluation import span_f1

    register_views(spark, sf_dir)
    tagged = spark.sql("""
        WITH toks AS (SELECT doc_id, split(text, ' ') AS tk FROM documents)
        SELECT doc_id AS sent_id,
               transform(tk, (t, i) -> CASE WHEN length(t) >= 5
                   THEN CASE WHEN i = 0 OR length(element_at(tk, i)) < 5
                        THEN 'B-LEN' ELSE 'I-LEN' END
                   ELSE 'O' END) AS gold,
               transform(tk, (t, i) -> CASE WHEN length(t) >= 6
                   THEN CASE WHEN i = 0 OR length(element_at(tk, i)) < 6
                        THEN 'B-LEN' ELSE 'I-LEN' END
                   ELSE 'O' END) AS pred
        FROM toks
    """)
    return span_f1(tagged)


_SPAN_F1_DUCK_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM documents),
    marks AS (SELECT doc_id, i, len(t) >= 5 AS g, len(t) >= 6 AS p FROM toks),
    lagged AS (SELECT doc_id, i, g, p,
       CASE WHEN g AND NOT coalesce(lag(g) OVER (PARTITION BY doc_id ORDER BY i), FALSE)
            THEN 1 ELSE 0 END AS g_new,
       CASE WHEN p AND NOT coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY i), FALSE)
            THEN 1 ELSE 0 END AS p_new
       FROM marks),
    runs AS (SELECT doc_id, i, g, p,
       SUM(g_new) OVER (PARTITION BY doc_id ORDER BY i) AS g_rid,
       SUM(p_new) OVER (PARTITION BY doc_id ORDER BY i) AS p_rid
       FROM lagged),
    gspans AS (SELECT doc_id, MIN(i) - 1 AS s, MAX(i) AS e FROM runs WHERE g GROUP BY doc_id, g_rid),
    pspans AS (SELECT doc_id, MIN(i) - 1 AS s, MAX(i) AS e FROM runs WHERE p GROUP BY doc_id, p_rid),
    keyed AS (
      SELECT CASE WHEN gs.doc_id IS NULL THEN 0 ELSE 1 END AS in_gold,
             CASE WHEN ps.doc_id IS NULL THEN 0 ELSE 1 END AS in_pred
      FROM gspans gs FULL OUTER JOIN pspans ps USING (doc_id, s, e)),
    agg AS (SELECT CAST(SUM(in_gold * in_pred) AS BIGINT) AS tp,
                   CAST(SUM(in_pred * (1 - in_gold)) AS BIGINT) AS fp,
                   CAST(SUM(in_gold * (1 - in_pred)) AS BIGINT) AS fn FROM keyed),
    pr AS (SELECT tp, fp, fn,
            tp / GREATEST(tp + fp, 1) AS p, tp / GREATEST(tp + fn, 1) AS r FROM agg)
    SELECT ner_type, tp, fp, fn,
           CAST(ROUND(p * 10000) AS BIGINT) AS precision_e4,
           CAST(ROUND(r * 10000) AS BIGINT) AS recall_e4,
           CAST(ROUND(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END * 10000) AS BIGINT) AS f1_e4
    FROM pr CROSS JOIN (SELECT unnest(['LEN', 'ALL']) AS ner_type) ty
"""


def _fn_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming surface (SURVEY §2.10): watermarked 1-hour
    tumbling windows over the events table read as a file stream, drained
    with availableNow. The result equals the batch hour-bucket aggregation,
    which is the DuckDB oracle (window start emitted as epoch seconds)."""
    from pyspark.sql import functions as F

    from .streaming import run_stream_to_memory

    register_views(spark, sf_dir)
    import hashlib
    import tempfile

    # FileStreamSource needs a DIRECTORY; events.parquet is a single file —
    # stage a symlink to it inside a per-sf temp dir (no data copied)
    target = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    tag = hashlib.md5(target.encode()).hexdigest()[:8]
    events_dir = os.path.join(tempfile.gettempdir(), f"cns_events_{tag}")
    link = os.path.join(events_dir, "part-00000.parquet")
    os.makedirs(events_dir, exist_ok=True)
    # lexists, not exists: a dangling symlink (target dir re-created) reads
    # as absent to exists() but still blocks os.symlink with FileExistsError
    if os.path.lexists(link) and (
        not os.path.islink(link) or os.readlink(link) != target
    ):
        os.remove(link)
    if not os.path.lexists(link):
        os.symlink(target, link)
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    # event-time ops need TIMESTAMP; parquet NTZ → UTC instant (session tz
    # is pinned to UTC, so unix_timestamp == DuckDB epoch())
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    res = run_stream_to_memory(
        spark, agg, "driver_stream_counts",
        os.path.join(tempfile.mkdtemp(prefix="cns_stream_"), "ck"),
        output_mode="complete",
    )
    return res.select(
        F.unix_timestamp(F.col("win.start")).cast("long").alias("win_epoch"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
    )


_STREAMING_DUCK_SQL = """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_epoch,
           event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
"""


SPARK_FN: dict[
    str,
    tuple[Callable[[SparkSession, str], DataFrame], str | Callable[[], str] | None],
] = {
    "kg_triples_fixture": (_fn_kg_triples, _kg_triples_duck_sql),
    "kg_mentions_fixture": (_fn_kg_mentions, _kg_mentions_duck_sql),
    "streaming_window_counts": (_fn_streaming_window_counts, _STREAMING_DUCK_SQL),
    "span_f1_scoring": (_fn_span_f1, _SPAN_F1_DUCK_SQL),
    "connected_components_graph": (_fn_connected_components, _CC_DUCK_SQL),
    "media_features_fixture": (_fn_media_features, _media_duck_sql),
    "conll_reader_fixture": (_fn_conll_reader, _conll_duck_sql),
    "pivot_operator_native": (_fn_pivot_operator, _PIVOT_DUCK_SQL),
    "approx_distinct_counts": (_fn_approx_distinct, _APPROX_DISTINCT_DUCK_SQL),
    "ann_ivf_topk": (_fn_ann_ivf_topk, _ANN_IVF_DUCK_SQL),
    "ngram_jaccard_pairs": (_fn_ngram_jaccard, _NGRAM_JACCARD_DUCK),
}


# --------------------------------------------------------------------------
# assembly
# --------------------------------------------------------------------------


def _sql_query(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    return run


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """≤50 entries; non-SQL flagship operators first (the driver checks the
    leading 50 — round 1 lost its last 6 entries past that cap)."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (fn, _) in SPARK_FN.items():
        out[name] = fn
    for name, (spark_sql, _) in PAIRED_SQL.items():
        out[name] = _sql_query(spark_sql)
    for name, sql in SHARED_SQL.items():
        out[name] = _sql_query(sql)
    assert len(out) <= 50, f"registry has {len(out)} entries (driver cap is 50)"
    return out


def build_oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for name, (_, duck_sql) in SPARK_FN.items():
        if duck_sql is not None:
            # lazy oracles (callables) stage their fixture file on disk
            # before returning SQL that reads it
            out[name] = duck_sql() if callable(duck_sql) else duck_sql
    for name, (_, duck_sql) in PAIRED_SQL.items():
        out[name] = duck_sql
    out.update(SHARED_SQL)
    return out
