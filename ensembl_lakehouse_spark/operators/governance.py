"""Data-governance / retention operator pack (round 6) — the report
surface that pairs with the snapshot layer's copy-on-write DELETE
(snapshots.delete_snapshot): before a lakehouse erases anything at
100 TB it PLANS the erasure, and these operators are that plan.

The reference operates on genomics data where retention and
right-to-be-forgotten obligations are concrete (its result objects
carry a 44-day TTL — app/main.py:419's cache window is itself a
retention policy); here the same concerns become first-class,
oracle-checked operators over the standard tables:

- ``retention_audit`` — per event type: rows/value falling outside a
  retention window vs kept, the sizing report a
  ``delete_snapshot(where="ts < cutoff")`` sweep starts from.
- ``tombstone_cascade`` — documents failing a quality floor plus the
  embedding rows that must cascade-erase with them (FK-closure of an
  erasure set).
- ``term_exposure_scan`` — per (source, risk term): documents hit
  and total occurrences, the sensitive-term exposure audit.
- ``subject_access_report`` — per-subject row footprint across
  orders/lineitem (the DSAR inventory: what do we hold about X?).
- ``events_user_gaps`` — per user inactivity-gap stats (dormancy
  evidence for retention decisions).
- ``attribution_first_last`` — first/last-touch event type before
  each user's first purchase (consent-relevant provenance of a
  conversion).
- ``label_balance_audit`` — per-language doc counts, corpus share
  and inverse-frequency class weights (training-mix governance).
- ``kfold_assign`` — deterministic stratified k-fold assignment
  audit via the md5 contract (reproducible splits are a governance
  property: the same doc lands in the same fold on every engine).
- ``order_ship_lead`` — order-to-ship lead-time profile per order
  priority (SLA audit over a large join).

Determinism rules (memory: oracle-determinism-rules): epoch seconds
via Spark ``unix_timestamp`` == DuckDB ``CAST(floor(epoch(ts)) AS
BIGINT)``; every ratio is integer ``DIV`` (DuckDB ``//``) on
fixed-point BIGINTs; all hashing via functions/hashing.py's md5
contract; no transcendentals anywhere.

Scale posture: every operator is one partial-agg lattice (map-side
combine into |groups| rows) or one equi-join followed by one agg;
the only windows are per-user orderings whose partitions are a
single user's events. Nothing collects data-proportional state to
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark.functions.fixed import cents_sql
from ensembl_lakehouse_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# retention_audit
# ---------------------------------------------------------------------------

#: Retention window (days) for the sweep sizing report.
RETENTION_DAYS = 14


def retention_audit(
    spark: SparkSession, sf_dir: str, *, retention_days: int = RETENTION_DAYS
) -> DataFrame:
    """Per event type: how much a retention sweep at ``anchor -
    retention_days`` would erase vs keep. Anchored to the corpus max
    timestamp so the report is reproducible on a frozen fixture (a
    live deployment anchors to now()).

    Output: expired/kept row counts, expired value in cents
    (per-row fixed-point BIGINT before the SUM — order-invariant),
    and the expired share in basis points (integer DIV).

    Plan: one-row max-anchor agg broadcast into a single partial-agg
    pass — two scans of events, |event_type| result rows, no window.
    At 100 TB the anchor agg is a pure column-stat read and the main
    pass is one map-side-combined shuffle of ~5 groups.
    """
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.unix_timestamp("ts")).alias("anchor_s"))
    cut = retention_days * 86400
    return (
        ev.select(
            "event_type",
            F.unix_timestamp("ts").alias("s"),
            F.expr(cents_sql("value")).alias("cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn(
            "expired", (F.col("s") < F.col("anchor_s") - F.lit(cut))
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("expired"), 1).otherwise(0))
            .cast("long")
            .alias("expired_rows"),
            F.sum(F.when(~F.col("expired"), 1).otherwise(0))
            .cast("long")
            .alias("kept_rows"),
            F.sum(F.when(F.col("expired"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("expired_cents"),
        )
        .withColumn(
            "expired_share_bp",
            F.expr(
                "(expired_rows * 10000) DIV (expired_rows + kept_rows)"
            ),
        )
        .orderBy("event_type")
    )


def retention_audit_sql(retention_days: int = RETENTION_DAYS) -> str:
    return f"""
WITH anchor AS (
  SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS anchor_s FROM events
), tagged AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) < anchor_s - {retention_days * 86400}
           AS expired,
         CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
  FROM events CROSS JOIN anchor
)
SELECT event_type,
       CAST(SUM(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT) AS expired_rows,
       CAST(SUM(CASE WHEN expired THEN 0 ELSE 1 END) AS BIGINT) AS kept_rows,
       CAST(SUM(CASE WHEN expired THEN cents ELSE 0 END) AS BIGINT) AS expired_cents,
       (CAST(SUM(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT) * 10000)
         // CAST(COUNT(*) AS BIGINT) AS expired_share_bp
FROM tagged
GROUP BY event_type
ORDER BY event_type
"""


RETENTION_AUDIT_SQL = retention_audit_sql()


# ---------------------------------------------------------------------------
# tombstone_cascade
# ---------------------------------------------------------------------------

#: Quality floor: documents shorter than this are tombstoned.
TOMBSTONE_MIN_CHARS = 100


def tombstone_cascade(
    spark: SparkSession, sf_dir: str, *, min_chars: int = TOMBSTONE_MIN_CHARS
) -> DataFrame:
    """FK-closure of an erasure set: documents below the quality
    floor are tombstoned, and every embedding row keyed by a
    tombstoned doc must cascade-erase with it. Per source: total
    docs, tombstoned docs, chars erased, and the embedding rows the
    cascade reaches.

    Plan: the tombstone predicate filters BEFORE the join (pushed to
    the scan), so the equi-join against embeddings sees only
    tombstoned ids — at 100 TB the join input is the erasure set,
    not the corpus. One partial agg per side, |source| result rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb_ids = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    tomb = docs.where(F.col("n_chars") < min_chars)
    cascade = (
        tomb.select("doc_id", "source")
        .join(emb_ids, on="doc_id", how="left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("embeddings_cascade"))
    )
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_total"),
        F.sum(F.when(F.col("n_chars") < min_chars, 1).otherwise(0))
        .cast("long")
        .alias("docs_tombstoned"),
        F.sum(
            F.when(F.col("n_chars") < min_chars, F.col("n_chars")).otherwise(0)
        )
        .cast("long")
        .alias("chars_erased"),
    )
    return (
        base.join(cascade, on="source", how="left")
        .withColumn(
            "embeddings_cascade",
            F.coalesce("embeddings_cascade", F.lit(0)).cast("long"),
        )
        .orderBy("source")
    )


def tombstone_cascade_sql(min_chars: int = TOMBSTONE_MIN_CHARS) -> str:
    return f"""
WITH cascade AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS embeddings_cascade
  FROM documents d
  WHERE d.n_chars < {min_chars}
    AND EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
  GROUP BY d.source
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS docs_total,
       CAST(SUM(CASE WHEN d.n_chars < {min_chars} THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_tombstoned,
       CAST(SUM(CASE WHEN d.n_chars < {min_chars} THEN d.n_chars ELSE 0 END)
         AS BIGINT) AS chars_erased,
       CAST(COALESCE(MAX(c.embeddings_cascade), 0) AS BIGINT)
         AS embeddings_cascade
FROM documents d LEFT JOIN cascade c ON d.source = c.source
GROUP BY d.source
ORDER BY d.source
"""


TOMBSTONE_CASCADE_SQL = tombstone_cascade_sql()


# ---------------------------------------------------------------------------
# term_exposure_scan
# ---------------------------------------------------------------------------

#: Risk-term dictionary for the exposure audit (plain words only —
#: both engines split on them literally).
EXPOSURE_TERMS = ("customer", "order", "key")


def term_exposure_scan(
    spark: SparkSession, sf_dir: str, *, terms: tuple = EXPOSURE_TERMS
) -> DataFrame:
    """Sensitive-term exposure audit: per (source, term), how many
    documents contain the term and how many times in total. The
    occurrence count is ``size(split(text, term)) - 1`` — exact
    substring occurrences, identical in both engines for plain-word
    terms (no regex metacharacters).

    Plan: the term dictionary is exploded ONTO each document row
    (map-side, |terms|× fan-out, no shuffle), then one partial agg
    to |source|·|terms| rows. At 100 TB this is a single pass over
    the text column; a thousand-term dictionary would move the
    match into one Aho-Corasick mapInPandas stage instead.
    """
    for t in terms:
        if not t.isalnum():
            raise ValueError(f"terms must be plain words, got {t!r}")
    docs = load_table(spark, sf_dir, "documents")
    term_arr = F.array(*[F.lit(t) for t in terms])
    return (
        docs.select(
            "source",
            F.explode(term_arr).alias("term"),
            F.col("text"),
        )
        .withColumn("occ", F.expr("size(split(text, term)) - 1"))
        .groupBy("source", "term")
        .agg(
            F.sum(F.when(F.col("occ") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_hit"),
            F.sum("occ").cast("long").alias("occurrences"),
        )
        .orderBy("source", "term")
    )


def term_exposure_scan_sql(terms: tuple = EXPOSURE_TERMS) -> str:
    values = ", ".join(f"('{t}')" for t in terms)
    return f"""
SELECT d.source, t.term,
       CAST(SUM(CASE WHEN len(string_split(d.text, t.term)) - 1 > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
       CAST(SUM(len(string_split(d.text, t.term)) - 1) AS BIGINT)
         AS occurrences
FROM documents d CROSS JOIN (VALUES {values}) AS t(term)
GROUP BY d.source, t.term
ORDER BY d.source, t.term
"""


TERM_EXPOSURE_SCAN_SQL = term_exposure_scan_sql()


# ---------------------------------------------------------------------------
# subject_access_report
# ---------------------------------------------------------------------------

#: Subjects reported (largest row footprints first).
SAR_TOP_N = 20


def subject_access_report(
    spark: SparkSession, sf_dir: str, *, top_n: int = SAR_TOP_N
) -> DataFrame:
    """DSAR inventory: for the ``top_n`` customers by stored-row
    footprint, every row count we hold about them — orders rows,
    lineitem rows, lifetime spend (cents), first/last order date.
    The real subject-access request is one subject; the report form
    ranks subjects so an operator sees where the data mass sits.

    Plan: lineitem pre-aggregates to |orders| rows BEFORE joining
    orders (the join carries one row per order, not per line), then
    one partial agg to |customers| and a TakeOrdered top-k — no full
    sort. Customer names join AFTER the top-k, so the dimension
    join is k rows against a broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("li_rows")
    )
    per_cust = (
        orders.join(
            per_order,
            orders["o_orderkey"] == per_order["l_orderkey"],
            "left",
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("orders_rows"),
            F.sum(F.coalesce("li_rows", F.lit(0)))
            .cast("long")
            .alias("lineitem_rows"),
            F.sum(F.expr(cents_sql("o_totalprice"))).alias("spend_cents"),
            F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        )
        .withColumn(
            "footprint_rows", F.expr("orders_rows + lineitem_rows")
        )
        .orderBy(F.desc("footprint_rows"), F.asc("o_custkey"))
        .limit(top_n)
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_name")
    )
    return (
        per_cust.join(
            F.broadcast(cust),
            per_cust["o_custkey"] == cust["c_custkey"],
            "left",
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            "c_name",
            "footprint_rows",
            "orders_rows",
            "lineitem_rows",
            "spend_cents",
            "first_order",
            "last_order",
        )
        .orderBy(F.desc("footprint_rows"), F.asc("custkey"))
    )


def subject_access_report_sql(top_n: int = SAR_TOP_N) -> str:
    return f"""
WITH per_order AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS li_rows
  FROM lineitem GROUP BY l_orderkey
), per_cust AS (
  SELECT o.o_custkey AS custkey,
         CAST(COUNT(*) AS BIGINT) AS orders_rows,
         CAST(SUM(COALESCE(p.li_rows, 0)) AS BIGINT) AS lineitem_rows,
         CAST(SUM(CAST(floor(o.o_totalprice * 100 + CAST(0.5 AS DOUBLE))
           AS BIGINT)) AS BIGINT) AS spend_cents,
         MIN(CAST(o.o_orderdate AS DATE)) AS first_order,
         MAX(CAST(o.o_orderdate AS DATE)) AS last_order
  FROM orders o LEFT JOIN per_order p ON o.o_orderkey = p.l_orderkey
  GROUP BY o.o_custkey
), topk AS (
  SELECT *, orders_rows + lineitem_rows AS footprint_rows
  FROM per_cust
  ORDER BY footprint_rows DESC, custkey ASC
  LIMIT {top_n}
)
SELECT t.custkey, c.c_name, t.footprint_rows, t.orders_rows,
       t.lineitem_rows, t.spend_cents, t.first_order, t.last_order
FROM topk t LEFT JOIN customer c ON t.custkey = c.c_custkey
ORDER BY t.footprint_rows DESC, t.custkey ASC
"""


SUBJECT_ACCESS_REPORT_SQL = subject_access_report_sql()


# ---------------------------------------------------------------------------
# events_user_gaps
# ---------------------------------------------------------------------------


def events_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inactivity profile: event count, number of gaps,
    longest and mean gap in seconds (integer DIV; single-event users
    report NULL gaps). Dormancy evidence a retention policy consults
    before erasing an account.

    Plan: one lag window partitioned BY USER (each partition is one
    user's events — embarrassingly parallel) into one partial agg.
    The epoch-seconds ordering carries event_id as the unique
    tie-break so both engines see identical neighbor pairs.
    """
    ev = load_table(spark, sf_dir, "events")
    gaps = (
        ev.select(
            "user_id",
            F.unix_timestamp("ts").alias("s"),
            "event_id",
        )
        .withColumn(
            "gap",
            F.expr(
                "s - lag(s) OVER (PARTITION BY user_id "
                "ORDER BY s ASC, event_id ASC)"
            ),
        )
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count("gap").cast("long").alias("n_gaps"),
            F.max("gap").cast("long").alias("max_gap_s"),
            F.sum("gap").cast("long").alias("total_gap_s"),
        )
        .withColumn(
            "mean_gap_s",
            F.expr(
                "CASE WHEN n_gaps > 0 THEN total_gap_s DIV n_gaps END"
            ),
        )
        .select(
            "user_id", "n_events", "n_gaps", "max_gap_s", "mean_gap_s"
        )
        .orderBy("user_id")
    )


EVENTS_USER_GAPS_SQL = """
WITH gaps AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC
             ) AS gap
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(gap) AS BIGINT) AS n_gaps,
       CAST(MAX(gap) AS BIGINT) AS max_gap_s,
       CASE WHEN COUNT(gap) > 0
            THEN CAST(SUM(gap) AS BIGINT) // CAST(COUNT(gap) AS BIGINT)
       END AS mean_gap_s
FROM gaps
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# attribution_first_last
# ---------------------------------------------------------------------------


def attribution_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution: for each user with a purchase,
    the event type of their FIRST event ever and of the LAST event
    strictly before their first purchase; one output row per
    (first_touch, last_touch) combination with the user count.

    "Strictly before" is lexicographic on (epoch_s, event_id) — the
    same unique ordering both engines use, so ties at the purchase
    second resolve identically.

    Plan: two per-user windows (first purchase, event ranking) over
    user-partitioned data, then a ~|event_type|² group count.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("s"),
        "event_id",
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .withColumn(
            "rn",
            F.expr(
                "row_number() OVER (PARTITION BY user_id "
                "ORDER BY s ASC, event_id ASC)"
            ),
        )
        .where("rn = 1")
        .select(
            "user_id",
            F.col("s").alias("conv_s"),
            F.col("event_id").alias("conv_id"),
        )
    )
    pre = ev.join(conv, on="user_id").where(
        "s < conv_s OR (s = conv_s AND event_id < conv_id)"
    )
    ranked = pre.select(
        "user_id",
        "event_type",
        F.expr(
            "row_number() OVER (PARTITION BY user_id "
            "ORDER BY s ASC, event_id ASC)"
        ).alias("rn_first"),
        F.expr(
            "row_number() OVER (PARTITION BY user_id "
            "ORDER BY s DESC, event_id DESC)"
        ).alias("rn_last"),
    )
    touches = (
        ranked.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("rn_first") == 1, F.col("event_type")))
            .alias("first_touch"),
            F.max(F.when(F.col("rn_last") == 1, F.col("event_type")))
            .alias("last_touch"),
        )
    )
    return (
        touches.groupBy("first_touch", "last_touch")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("first_touch", "last_touch")
    )


ATTRIBUTION_FIRST_LAST_SQL = """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS s, event_id
  FROM events
), conv_ranked AS (
  SELECT user_id, s, event_id,
         row_number() OVER (PARTITION BY user_id
           ORDER BY s ASC, event_id ASC) AS rn
  FROM ev WHERE event_type = 'purchase'
), conv_flat AS (
  SELECT user_id, s AS conv_s, event_id AS conv_id
  FROM conv_ranked WHERE rn = 1
), pre AS (
  SELECT e.user_id, e.event_type, e.s, e.event_id
  FROM ev e JOIN conv_flat v ON e.user_id = v.user_id
  WHERE e.s < v.conv_s OR (e.s = v.conv_s AND e.event_id < v.conv_id)
), ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
           ORDER BY s ASC, event_id ASC) AS rn_first,
         row_number() OVER (PARTITION BY user_id
           ORDER BY s DESC, event_id DESC) AS rn_last
  FROM pre
), touches AS (
  SELECT user_id,
         MAX(CASE WHEN rn_first = 1 THEN event_type END) AS first_touch,
         MAX(CASE WHEN rn_last = 1 THEN event_type END) AS last_touch
  FROM ranked GROUP BY user_id
)
SELECT first_touch, last_touch, CAST(COUNT(*) AS BIGINT) AS n_users
FROM touches
GROUP BY first_touch, last_touch
ORDER BY first_touch, last_touch
"""


# ---------------------------------------------------------------------------
# label_balance_audit
# ---------------------------------------------------------------------------

#: Fixed-point scale for class weights (micro-units).
WEIGHT_SCALE = 1_000_000


def label_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language class balance: doc count, corpus share in basis
    points, and the inverse-frequency class weight ``N / (k·n_c)``
    in fixed-point micro-units — the reweighting a training mix
    applies to keep a skewed label from dominating the loss.

    Plan: one partial agg to |langs| rows; the totals join is a
    broadcast of a one-row aggregate. Integer DIV throughout.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    totals = per_lang.agg(
        F.sum("n_docs").cast("long").alias("total_docs"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
    )
    return (
        per_lang.crossJoin(F.broadcast(totals))
        .withColumn("share_bp", F.expr("(n_docs * 10000) DIV total_docs"))
        .withColumn(
            "class_weight_micro",
            F.expr(
                f"(total_docs * {WEIGHT_SCALE}) DIV (n_classes * n_docs)"
            ),
        )
        .select("lang", "n_docs", "share_bp", "class_weight_micro")
        .orderBy("lang")
    )


LABEL_BALANCE_AUDIT_SQL = f"""
WITH per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang
), totals AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
         CAST(COUNT(*) AS BIGINT) AS n_classes
  FROM per_lang
)
SELECT lang, n_docs,
       (n_docs * 10000) // total_docs AS share_bp,
       (total_docs * {WEIGHT_SCALE}) // (n_classes * n_docs)
         AS class_weight_micro
FROM per_lang CROSS JOIN totals
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# kfold_assign
# ---------------------------------------------------------------------------

#: Fold count for the split audit.
KFOLDS = 5


def kfold_assign(
    spark: SparkSession, sf_dir: str, *, folds: int = KFOLDS
) -> DataFrame:
    """Deterministic stratified k-fold audit: every document hashes
    to a fold via the md5 contract (``md5('kfold|' || doc_id) %
    folds``), and the report counts docs per (lang, fold) with the
    min/max doc_id as spot-check handles. Reproducibility is the
    governance property: the same doc lands in the same fold on any
    engine, any run, any partitioning — no RNG, no state.

    Plan: map-side hash + one partial agg to |langs|·|folds| rows.
    """
    from ensembl_lakehouse_spark.functions.hashing import md5_long60

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            F.col("doc_id"),
            (
                md5_long60(
                    F.concat(F.lit("kfold|"), F.col("doc_id").cast("string"))
                )
                % folds
            ).alias("fold"),
        )
        .groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
        .orderBy("lang", "fold")
    )


def kfold_assign_sql(folds: int = KFOLDS) -> str:
    return f"""
WITH assigned AS (
  SELECT lang, doc_id,
         CAST('0x' || substr(md5('kfold|' || CAST(doc_id AS VARCHAR)),
              1, 15) AS BIGINT) % {folds} AS fold
  FROM documents
)
SELECT lang, fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM assigned
GROUP BY lang, fold
ORDER BY lang, fold
"""


KFOLD_ASSIGN_SQL = kfold_assign_sql()


# ---------------------------------------------------------------------------
# order_ship_lead
# ---------------------------------------------------------------------------


def order_ship_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time per order priority: line count, mean
    lead in centi-days (integer DIV on a day-sum), max lead, and the
    share of lines shipped >7 days after the order in basis points —
    the fulfilment-SLA audit.

    Plan: one equi-join lineitem→orders on the order key (the big
    fact-to-fact join; at 100 TB both sides bucket on orderkey so it
    is co-located), per-row integer day diff, one partial agg to
    |priority| rows.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sdate")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .withColumn("lead_days", F.expr("datediff(sdate, odate)"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("lead_days").cast("long").alias("sum_lead_days"),
            F.max("lead_days").cast("long").alias("max_lead_days"),
            F.sum(F.when(F.col("lead_days") > 7, 1).otherwise(0))
            .cast("long")
            .alias("n_late"),
        )
        .withColumn(
            "mean_lead_centidays",
            F.expr("(sum_lead_days * 100) DIV n_lines"),
        )
        .withColumn("late_share_bp", F.expr("(n_late * 10000) DIV n_lines"))
        .select(
            "o_orderpriority",
            "n_lines",
            "mean_lead_centidays",
            "max_lead_days",
            "late_share_bp",
        )
        .orderBy("o_orderpriority")
    )


ORDER_SHIP_LEAD_SQL = """
WITH joined AS (
  SELECT o.o_orderpriority,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS lead_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       (CAST(SUM(lead_days) AS BIGINT) * 100) // CAST(COUNT(*) AS BIGINT)
         AS mean_lead_centidays,
       CAST(MAX(lead_days) AS BIGINT) AS max_lead_days,
       (CAST(SUM(CASE WHEN lead_days > 7 THEN 1 ELSE 0 END) AS BIGINT)
         * 10000) // CAST(COUNT(*) AS BIGINT) AS late_share_bp
FROM joined
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
