"""Driver-contract query catalog (SURVEY §2.7 + training-data ops).

Each entry couples a Spark DataFrame program with (where SQL-expressible) a
DuckDB oracle over the same parquet tables.  Column names are aliased
identically on both sides — the driver hash-compares values after sorting
columns by name.

Conventions:
- every callable takes ``(spark, sf_dir)`` and returns a DataFrame;
- results are deterministic: explicit ORDER BY / tie-broken top-k;
- oracle-less entries (graph fixpoints, LSH, the KG pipeline itself) are
  listed in QUERIES with no ORACLE_SQL key → the driver records the weaker
  rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Relational core (scan/filter/agg/join/window/top-k — SURVEY §2.4/§2.7)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: wide aggregate with computed expressions; exercises
    partial aggregation + codegen (one shuffle)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            # rounding on BOTH sides: double sums associate differently
            # across engines; raw last-ulp noise would break value-hash
            # equality in the driver's compare
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
         AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    """3-way join + agg + top-10 (broadcastable dims)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


Q3_SQL = """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_supplier_volume(spark, sf_dir):
    """5-way star join grouped by nation — the broadcast-dim pattern."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def antijoin_customers_without_orders(spark, sf_dir):
    """Left-anti join (the vocabulary-violation / orphan pattern P7)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ANTIJOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey
"""


def events_user_stats(spark, sf_dir):
    """Event-log aggregate (A9 shape): count/avg/max per user × type."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("user_id", "event_type")
    )


EVENTS_STATS_SQL = """
SELECT user_id, event_type, count(*) AS n_events,
       round(avg(value), 6) AS avg_value, max(ts) AS last_ts
FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type
"""


def events_sessionized(spark, sf_dir):
    """Window functions: per-user ordering, lag, session cut at 30 min —
    the stateful-stream analog in batch (SURVEY §2.8)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = F.sum(
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).over(w)
    return (
        e.withColumn("session_no", sess)
        .groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_no")
    )


EVENTS_SESSION_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS session_no
  FROM g
)
SELECT user_id, session_no, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no
"""


def top_parts_by_size(spark, sf_dir):
    """Rank-based top-k per group (A4 top-5 deposit types shape)."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        p.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "rank", "p_partkey", "p_retailprice")
        .orderBy("p_brand", "rank")
    )


TOP_PARTS_SQL = """
SELECT p_brand, rank, p_partkey, p_retailprice FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rank
  FROM part
) WHERE rank <= 3 ORDER BY p_brand, rank
"""


def orders_running_total(spark, sf_dir):
    """Running aggregate window (event-log incremental shape U5)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 6).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


RUNNING_TOTAL_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
       AS running_total
FROM orders ORDER BY o_custkey, o_orderkey
"""


def supplier_distinct_parts(spark, sf_dir):
    """countDistinct per group (the reference's SPARQL count stats shape,
    A9/A11: count(distinct …) grouped + label broadcast join)."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("n_name")
    )


SUPPLIER_DISTINCT_SQL = """
SELECT n_name, count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def events_hourly_rollup(spark, sf_dir):
    """Watermarked tumbling-window rollup (streaming/events.py operator,
    run on the batch table — identical plan modulo the state store)."""
    from ..streaming.events import windowed_event_counts

    e = _t(spark, sf_dir, "events")
    return windowed_event_counts(e).orderBy("window_start", "event_type")


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# Graph: connected components with a SQL-checkable topology
# ---------------------------------------------------------------------------


def cc_customer_order_graph(spark, sf_dir):
    """Connected components over the bipartite customer↔order graph using
    the engine's large/small-star operator.  Star topology → the component
    label is SQL-derivable (least of the customer node and its min order
    node), giving the CC operator a DuckDB oracle."""
    from ..operators.connected_components import connected_components

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.concat(F.lit("c"), F.format_string("%08d", "o_custkey")).alias("u"),
        F.concat(F.lit("o"), F.format_string("%08d", "o_orderkey")).alias("v"),
    )
    return connected_components(edges).orderBy("node")


CC_SQL = """
WITH labels AS (
  SELECT o_custkey,
         least('c' || format('{:08d}', o_custkey),
               min('o' || format('{:08d}', o_orderkey))) AS component
  FROM orders GROUP BY o_custkey
), nodes AS (
  SELECT DISTINCT 'c' || format('{:08d}', o_custkey) AS node, o_custkey FROM orders
  UNION ALL
  SELECT 'o' || format('{:08d}', o_orderkey) AS node, o_custkey FROM orders
)
SELECT n.node AS node, l.component AS component
FROM nodes n JOIN labels l ON n.o_custkey = l.o_custkey
ORDER BY node
"""


# ---------------------------------------------------------------------------
# Deduplication suite over `documents`
# ---------------------------------------------------------------------------


def docs_exact_dups(spark, sf_dir):
    """Exact dedup via normalized-text grouping (SQL-checkable variant of
    the xxhash fingerprint path).

    The corpus at small SF contains no duplicates, which made this entry
    vacuously green — so the query plants deterministic twins (every
    doc_id % 97 == 0 re-enters with doc_id + 10^7 and a leading-whitespace
    variation) in BOTH the Spark plan and the oracle SQL.  The operator's
    output is therefore witnessed: the planted groups MUST come back."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    twins = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat(F.lit("  "), F.col("text"), F.lit("  ")).alias("text"),
        )
    )
    full = d.unionAll(twins)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        full.select(norm.alias("norm"), "doc_id")
        .groupBy("norm")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_dups") > 1)
        .select("keep_doc_id", F.col("n_dups").cast("long").alias("n_dups"))
        .orderBy("keep_doc_id")
    )


DOCS_EXACT_SQL = r"""
WITH full_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, '  ' || text || '  ' AS text
  FROM documents WHERE doc_id % 97 = 0
)
SELECT min(doc_id) AS keep_doc_id, CAST(count(*) AS BIGINT) AS n_dups
FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      FROM full_docs)
GROUP BY norm HAVING count(*) > 1
ORDER BY keep_doc_id
"""


def docs_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup candidates verified by exact Jaccard ≥ 0.8.

    Oracle: the exact all-pairs shingle-Jaccard scan in DuckDB — the LSH
    stage must reach recall 1.0 for the hashes to match (8 bands × 4
    hashes: miss probability 1.5e-4 per pair at the j=0.9 worst real pair;
    the seeded hashes are deterministic, and recall 1.0 on this corpus is
    asserted in tests)."""
    from ..operators.text_dedup import lsh_candidate_pairs

    d = _t(spark, sf_dir, "documents")
    return (
        lsh_candidate_pairs(d, num_hashes=32, bands=8, shingle_k=3)
        .filter(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


DOCS_MINHASH_SQL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 3 THEN
      list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                      FOR i IN range(1, len(w) - 2 + 1) ])
    ELSE [array_to_string(w, ' ')] END AS s
  FROM words
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.s, b.s))
             / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6)
         AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s))
      / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.8
ORDER BY doc_a, doc_b
"""


def docs_simhash(spark, sf_dir):
    """SimHash near-duplicates (Hamming ≤ 3) — hard oracle (r5
    promotion): expected pairs recomputed driver-side with the
    pure-python xxh64 + exact all-pairs Hamming and inlined as VALUES
    (plans/data_oracles.py docs_simhash_oracle_sql).

    In-engine invariants (VERDICT r03 #9) so the rows-only signal can
    catch a regression:
    - every returned pair's Hamming distance is recomputed independently
      (packed-bigint signatures + xor + bit_count, not the query's
      zip_with sum) and must equal the reported value and be ≤ 3;
    - recall lower bound: byte-identical documents (exact fingerprint
      twins) have Hamming 0, and the 4-band pigeonhole guarantees every
      distance ≤ 3 pair is bucketed together — so every intra-fingerprint
      pair MUST appear in the result.  Linear cost, no all-pairs scan.
    """
    from ..functions.text import fingerprint64
    from ..operators.text_dedup import simhash_near_duplicates, simhash_signatures

    d = _t(spark, sf_dir, "documents")
    # ONE tokenize+vote signature pass, checkpointed and shared by the
    # near-dup search and the invariant recheck below (r06: the recheck
    # used to rebuild simhash_signatures(d) from scratch — a full second
    # pass over the corpus per bench run; sharing the materialized
    # signatures changes no values, only how often they are computed)
    sig_df = simhash_signatures(d).localCheckpoint(eager=True)
    out = simhash_near_duplicates(d, max_hamming=3, sigs=sig_df).orderBy(
        "doc_a", "doc_b"
    )
    # localCheckpoint, not persist: the result feeds 3 invariant actions +
    # the return; checkpoint blocks are reclaimed once callers drop the
    # DataFrame (persist would pin cache entries for the session)
    out = out.localCheckpoint(eager=True)

    # independent Hamming recomputation from packed signatures (the
    # SQL-fold packing below is a separate path from the kernel's numpy
    # packing inside simhash_signatures, so a packing bug still trips it)
    packed = None
    bits = sig_df.select("doc_id", "bits")
    for j in range(2):  # two 32-bit halves avoid signed-shift pitfalls
        half = F.aggregate(
            F.slice(F.col("bits"), j * 32 + 1, 32),
            F.lit(0).cast("long"),
            lambda acc, b: acc * 2 + b.cast("long"),
        )
        packed = half if packed is None else F.array(packed, half)
    sigs = bits.select("doc_id", packed.alias("sig"))
    recheck = (
        out.join(sigs.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sig", "sig_a")
        .join(sigs.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("sig", "sig_b")
        .select(
            "hamming",
            (
                F.bit_count(F.col("sig_a")[0].bitwiseXOR(F.col("sig_b")[0]))
                + F.bit_count(F.col("sig_a")[1].bitwiseXOR(F.col("sig_b")[1]))
            ).alias("ham2"),
        )
        .agg(
            F.sum((F.col("hamming") != F.col("ham2")).cast("int")).alias("bad"),
            F.sum((F.col("hamming") > 3).cast("int")).alias("over"),
        )
        .collect()[0]
    )
    _invariant((recheck["bad"] or 0) == 0, "hamming != independent recount")
    _invariant((recheck["over"] or 0) == 0, "pair beyond max_hamming returned")

    # recall lower bound: exact twins must all be present
    fp = d.select("doc_id", fingerprint64(F.col("text")).alias("fp"))
    twins = (
        fp.alias("x")
        .join(fp.alias("y"), "fp")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
    )
    missing = twins.join(
        out.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
    ).count()
    _invariant(missing == 0, f"{missing} exact-twin pairs missed by banding")
    return out


def docs_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard for doc pairs sharing a source (blocked
    all-pairs) — SQL oracle via DuckDB list functions."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    from ..functions.text import shingles

    sh = d.select(
        "doc_id",
        "source",
        F.array_distinct(shingles(F.col("text"), 3)).alias("sh"),
    )
    a = sh.select(
        F.col("source"), F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = sh.select(
        F.col("source"), F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, "source")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / F.when(union > 0, union).otherwise(1), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


DOCS_NGRAM_SQL = r"""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
), sh AS (
  SELECT doc_id, source,
         CASE WHEN len(w) >= 3 THEN
           list_distinct([array_to_string(w[i:i+2], ' ')
                          FOR i IN range(1, len(w) - 1)])
         ELSE [array_to_string(w, ' ')] END AS sh
  FROM toks
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 6)
       AS jaccard
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
      greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= 0.5
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Text analytics over `documents`
# ---------------------------------------------------------------------------


def docs_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    from ..functions.text import token_count

    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
    ).orderBy("doc_id")


def docs_simhash_sig(spark, sf_dir):
    """SimHash signature per doc over md5-derived 52-bit token hashes —
    md5 is bit-identical in Spark and DuckDB, so unlike `docs_simhash`
    (xxhash64, engine-specific, rows-only) this entry is FULLY
    value-hash-checked by the driver: per-bit majority votes and the
    assembled signature must match an independent engine exactly.

    Shape: explode tokens → one JVM hash expr → groupBy(doc_id) with 52
    conditional sums (the minhash lesson: N aggregates over exploded
    rows, never N re-inlined array traversals)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    )
    tok = d.select("doc_id", F.explode(F.split(norm, " ")).alias("w"))
    hv = F.conv(F.substring(F.md5("w"), 1, 13), 16, 10).cast("long")
    th = tok.select("doc_id", hv.alias("hv"))
    votes = [
        F.sum(
            F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)).cast("int") * 2
            - 1
        ).alias(f"v{b}")
        for b in range(52)
    ]
    agg = th.groupBy("doc_id").agg(*votes)
    sig = None
    for b in range(52):
        term = (F.col(f"v{b}") > 0).cast("long") * F.lit(1 << b)
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.alias("simhash")).orderBy("doc_id")


DOCS_SIMHASH_SIG_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(trim(lower(text)),
                                                 '\s+', ' ', 'g')), ' ')) AS w
  FROM documents
), h AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(1, 14),
              i -> (strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1)
                   * pow(16, 13 - i))) AS BIGINT) AS hv
  FROM tok
), bits AS (
  SELECT doc_id, b,
         CASE WHEN sum(CASE WHEN (hv // CAST(pow(2, b) AS BIGINT)) % 2 = 1
                            THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
  FROM h CROSS JOIN range(0, 52) t(b)
  GROUP BY doc_id, b
)
SELECT doc_id, CAST(sum(bit * pow(2, b)) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id ORDER BY doc_id
"""


DOCS_FINGERPRINT_SQL = """
SELECT doc_id, md5(text) AS fingerprint_md5
FROM documents ORDER BY doc_id
"""


DOCS_TOKENS_SQL = r"""
SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       length(text) AS n_chars_actual
FROM documents ORDER BY doc_id
"""


def docs_quality(spark, sf_dir):
    """Quality scoring + language id — engine-defined heuristics, but both
    are pure arithmetic over the text, so the oracle re-states them in
    DuckDB SQL and the driver hash-checks the values."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.text import language_id, quality_score

    return d.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        language_id(F.col("text")).alias("lang_detected"),
    ).orderBy("doc_id")


def _sql_stop_hits(lang_list: str) -> str:
    return (
        "len(list_filter(words, x -> x IN ("
        + ", ".join(f"'{w}'" for w in lang_list.split())
        + ")))"
    )


DOCS_QUALITY_SQL = f"""
WITH w AS (
  SELECT doc_id,
         length(text) AS n,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct,
         string_split_regex(lower(text), '[^a-zà-ÿ]+') AS words
  FROM documents
), r AS (
  SELECT doc_id, n,
    CASE WHEN n > 0 THEN alpha / CAST(n AS DOUBLE) ELSE 0.0 END AS alpha_ratio,
    CASE WHEN n > 0 THEN punct / CAST(n AS DOUBLE) ELSE 0.0 END AS punct_ratio,
    len(words) AS nw,
    {_sql_stop_hits("the of and to in a is that for it as was with be by on not")} AS en_hits,
    {_sql_stop_hits("der die das und zu den von ist des sich mit dem nicht")} AS de_hits,
    {_sql_stop_hits("le la les de des et un une du en est que pour dans")} AS fr_hits,
    {_sql_stop_hits("el la los las de y en un una del es que por con para")} AS es_hits
  FROM w
), s AS (
  SELECT doc_id, n, alpha_ratio, punct_ratio,
    CASE WHEN nw > 0 THEN en_hits / CAST(nw AS DOUBLE) ELSE 0.0 END AS en_s,
    CASE WHEN nw > 0 THEN de_hits / CAST(nw AS DOUBLE) ELSE 0.0 END AS de_s,
    CASE WHEN nw > 0 THEN fr_hits / CAST(nw AS DOUBLE) ELSE 0.0 END AS fr_s,
    CASE WHEN nw > 0 THEN es_hits / CAST(nw AS DOUBLE) ELSE 0.0 END AS es_s
  FROM r
)
SELECT doc_id,
  round(0.3 * least(n / 500.0, 1.0)
      + 0.3 * alpha_ratio
      + 0.2 * (1.0 - least(abs(punct_ratio - 0.03) * 10, 1.0))
      + 0.2 * least(en_s * 4, 1.0), 6) AS quality,
  -- Spark's array_max over (score, label) structs: max score, ties by
  -- label DESCENDING (fr > es > en > de lexicographically)
  CASE WHEN greatest(en_s, de_s, fr_s, es_s) < 0.08 THEN 'unknown'
       WHEN fr_s = greatest(en_s, de_s, fr_s, es_s) THEN 'fr'
       WHEN es_s = greatest(en_s, de_s, fr_s, es_s) THEN 'es'
       WHEN en_s = greatest(en_s, de_s, fr_s, es_s) THEN 'en'
       ELSE 'de' END AS lang_detected
FROM s ORDER BY doc_id
"""


def docs_fingerprint(spark, sf_dir):
    """Per-doc fingerprints: the scale path (`fingerprint64`, JVM
    xxhash64) is emitted alongside an md5 fingerprint — md5 is identical
    in Spark and DuckDB, so this entry is FULLY hash-oracle-checked
    (r03; was rows-only), with the xxhash64 column cross-checked by an
    in-engine invariant against functions/xxh.py (bit-exact pure-python
    XXH64, itself spec- and JVM-verified in tests/test_backup.py)."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.text import fingerprint64

    out = d.select(
        "doc_id",
        F.md5(F.col("text")).alias("fingerprint_md5"),
        fingerprint64(F.col("text")).alias("fingerprint64"),
    ).orderBy("doc_id")
    # invariant: the JVM xxhash64 column matches the pure-python XXH64
    # (seed 42 over UTF8 bytes of the normalized text) on a sample.
    # The normalized string is computed with the SAME Spark expressions as
    # fingerprint64 (Java \s is ASCII-only and toLowerCase differs from
    # Python's for e.g. U+00A0/U+0130, so re-deriving it with Python re
    # could falsely trip the invariant) — only the hash runs in Python.
    from ..functions.xxh import xxh64

    norm_col = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    sample = (
        d.select("doc_id", norm_col.alias("norm"))
        .join(out.limit(5).select("doc_id", "fingerprint64"), "doc_id")
        .collect()
    )
    _invariant(len(sample) == 5 or len(sample) == d.count(), "sample join lost rows")
    for r in sample:
        want = xxh64(r["norm"].encode("utf-8"), seed=42)
        got = r["fingerprint64"] & ((1 << 64) - 1)
        _invariant(got == want, f"fingerprint64 mismatch for {r['doc_id']}")
    return out.drop("fingerprint64")


# ---------------------------------------------------------------------------
# Similarity search over `embeddings`
# ---------------------------------------------------------------------------


def emb_topk_cosine(spark, sf_dir):
    """Exact brute-force cosine top-3 for the 20 lowest vec_ids —
    DuckDB list_cosine_similarity oracle."""
    from ..operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    out = brute_force_topk(e, q, k=3)
    return out.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
    ).orderBy("query_id", "rank")


EMB_TOPK_SQL = """
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 20
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked
WHERE rank <= 3 ORDER BY query_id, rank
"""


def emb_ivf_topk(spark, sf_dir):
    """IVF ANN (deterministic k-means cells + nprobe search).

    Hard oracle (r5 promotion of the last rows-only entry): the search's
    actual neighbor choices — (query_id, rank, neighbor_id), INTEGER-only
    — against a pure-numpy driver-side recomputation of the whole IVF
    pipeline (plans/data_oracles.py emb_ivf_topk_oracle_sql).  The cosine
    column is deliberately dropped here: emb_ivf_topk_exact value-hashes
    the cosines through the same re-rank kernel in exhaustive mode, and an
    integer-only output makes the expected VALUES immune to ulp-level
    summation-order differences."""
    from ..operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return (
        ivf_topk(e, q, k=3, n_centroids=16, nprobe=4)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
        )
        .orderBy("query_id", "rank")
    )


def emb_ivf_topk_exact(spark, sf_dir):
    """IVF in EXHAUSTIVE mode (nprobe = n_centroids): probing every cell
    must return exactly the brute-force top-k, so the whole IVF machinery
    (deterministic Lloyd centroids, cluster assignment, per-cell cosine
    re-rank, tie-breaks) is value-hash-checked against the same DuckDB
    brute-force oracle as emb_topk_cosine."""
    from ..operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return (
        ivf_topk(e, q, k=3, n_centroids=16, nprobe=16)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
        )
        .orderBy("query_id", "rank")
    )


def emb_ivf_recall(spark, sf_dir):
    """Recall-vs-exact hard row for the approximate IVF (VERDICT r04 #1):
    per query, how many of the exact brute-force top-3 the nprobe=4 IVF
    search recovers — both sides computed in-engine and intersected with
    a join, so the output is a deterministic INTEGER per query.  The
    oracle (plans/data_oracles.py emb_ivf_recall_oracle_sql) recomputes
    both sides driver-side in pure numpy — xxh64 init, Lloyd iterations,
    cell probing, exact re-rank — and inlines the expected counts as
    VALUES.
    """
    from ..operators.similarity import brute_force_topk, ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(e, q, k=3).select("query_id", "neighbor_id")
    ivf = ivf_topk(e, q, k=3, n_centroids=16, nprobe=4).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .orderBy("query_id")
    )


def emb_lsh_neardups(spark, sf_dir):
    """LSH-bucketed near-duplicate pairs (cosine ≥ 0.99).

    The synthetic embeddings have no real near-dups (max off-diagonal
    cosine ≈ 0.51), which made this entry a vacuous 0-row result — so the
    query plants deterministic twins (every vec_id % 53 == 0 re-enters
    with vec_id + 10^7 and +1e-6 on component 0) in BOTH the Spark plan
    and the oracle SQL.  The oracle is the exact all-pairs scan over the
    same planted table: the LSH path must achieve recall 1.0 on the
    planted pairs for the hashes to match."""
    from ..operators.similarity import embedding_near_duplicates

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = e.filter(F.col("vec_id") % 53 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + F.lit(1e-6)).otherwise(x),
        ).alias("embedding"),
    )
    full = e.unionAll(twins)
    return (
        embedding_near_duplicates(full, threshold=0.99)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def emb_dedup_groups(spark, sf_dir):
    """Embedding dedup-map: near-dup pairs → connected components →
    one canonical representative per group — the keep/drop table a
    training-data pipeline consumes downstream of near-dup detection.

    Same planted-twin table as emb_lsh_neardups; groups come from the
    engine's large/small-star CC (operators/connected_components.py), so
    the oracle (exact all-pairs + recursive-CTE CC in DuckDB) checks the
    LSH recall AND the component algebra in one hash."""
    from ..operators.connected_components import connected_components
    from ..operators.similarity import embedding_near_duplicates

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = e.filter(F.col("vec_id") % 53 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + F.lit(1e-6)).otherwise(x),
        ).alias("embedding"),
    )
    full = e.unionAll(twins)
    pairs = embedding_near_duplicates(full, threshold=0.99).select(
        F.col("id_a").cast("string").alias("u"),
        F.col("id_b").cast("string").alias("v"),
    )
    cc = connected_components(pairs)
    ids = full.select(F.col("vec_id").cast("string").alias("node"))
    member = ids.join(cc, "node", "left").select(
        F.col("node").cast("long").alias("vec_id"),
        F.coalesce(F.col("component").cast("long"), F.col("node").cast("long")).alias(
            "_comp_raw"
        ),
    )
    # CC component labels are min STRING ids; relabel to min NUMERIC id so
    # the group id is stable regardless of the engine's internal encoding
    relabel = member.groupBy("_comp_raw").agg(F.min("vec_id").alias("group_id"))
    out = (
        member.join(relabel, "_comp_raw")
        .select(
            "vec_id",
            "group_id",
            (F.col("vec_id") == F.col("group_id")).alias("is_canonical"),
        )
        .orderBy("vec_id")
    )
    return out


EMB_DEDUP_GROUPS_SQL = """
WITH RECURSIVE base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), planted AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id,
         list_prepend(v[1] + 1e-6, v[2:]) AS v
  FROM base WHERE vec_id % 53 = 0
), pairs AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb
  FROM planted a JOIN planted b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.99
), edges AS (
  SELECT ida AS a, idb AS b FROM pairs
  UNION SELECT idb, ida FROM pairs
), reach(node, canon) AS (
  SELECT vec_id, vec_id FROM planted
  UNION
  SELECT e.b, r.canon FROM reach r JOIN edges e ON e.a = r.node
)
SELECT CAST(node AS BIGINT) AS vec_id,
       CAST(min(canon) AS BIGINT) AS group_id,
       (node = min(canon)) AS is_canonical
FROM reach GROUP BY node ORDER BY vec_id
"""


EMB_LSH_SQL = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), planted AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id,
         list_prepend(v[1] + 1e-6, v[2:]) AS v
  FROM base WHERE vec_id % 53 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM planted a JOIN planted b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.99
ORDER BY id_a, id_b
"""


def emb_label_centroid_sim(spark, sf_dir):
    """Per-label centroid then each vector's cosine to its centroid —
    aggregate-over-arrays pattern; SQL oracle via DuckDB list ops."""
    e = _t(spark, sf_dir, "embeddings")
    dim = F.size(F.col("embedding"))
    summed = (
        e.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("pairs"))
        .select(
            "label", F.transform("pairs", lambda p: p["m"]).alias("centroid")
        )
    )
    from ..operators.similarity import _dot, _norm

    j = e.join(F.broadcast(summed), "label")
    cos = _dot(F.col("embedding"), F.col("centroid")) / (
        _norm(F.col("embedding")) * _norm(F.col("centroid"))
    )
    return j.select(
        "vec_id", "label", F.round(cos, 4).alias("cos_to_centroid")
    ).orderBy("vec_id")


EMB_CENTROID_SQL = """
WITH ex AS (
  SELECT label, vec_id, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
), cent AS (
  SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i
), cl AS (
  SELECT label, list(m ORDER BY i) AS centroid FROM cent GROUP BY label
)
SELECT e.vec_id AS vec_id, e.label AS label,
       round(list_cosine_similarity(e.embedding, cl.centroid), 4)
       AS cos_to_centroid
FROM embeddings e JOIN cl ON e.label = cl.label
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# KG pipeline entries (non-SQL-expressible → rows-only)
# ---------------------------------------------------------------------------

_KG_N = 400
_KG_CACHE: dict = {}


def _kg_outputs(spark):
    """Synthetic-corpus pipeline intermediates, cached per session (the
    driver runs every query in one session; CC is iterative and worth
    reusing)."""
    key = (id(spark), _KG_N)
    if key in _KG_CACHE:
        return _KG_CACHE[key]

    from ..operators import canonicalize, extract
    from ..sources import synthetic, vocab as vocab_mod

    ingest = synthetic.synthesize_ingest(spark, _KG_N, partitions=8)
    vdfs = vocab_mod.vocab_dataframes(spark)
    sites = extract.normalize_sites(extract.parse_sites(ingest), vdfs).persist()
    edges = synthetic.synthesize_system_edges(spark, _KG_N, partitions=8)
    curated = synthetic.curated_edges_df(spark, _KG_N)
    membership = canonicalize.build_membership(sites, edges, curated).persist()
    membership.count()
    _KG_CACHE[key] = (ingest, vdfs, sites, membership)
    return _KG_CACHE[key]


def _invariant(ok: bool, msg: str) -> None:
    """Engine-side self-check for the rows-only kg_* entries (VERDICT r02
    #7): a violated invariant raises, so the driver records an error
    instead of silently green row counts."""
    if not ok:
        raise AssertionError(f"kg invariant violated: {msg}")


def kg_dedup_sites(spark, sf_dir):
    """Flagship: full extract→link→canonicalize→merge on the deterministic
    synthetic corpus; returns the merged dedup sites.

    Invariants checked in-engine: Σ n_sites == corpus site count (no site
    lost or duplicated by the merge) and dedup ids are unique."""
    from ..operators import dedup

    _, _, sites, membership = _kg_outputs(spark)
    merged = dedup.merge_dedup_sites(
        sites.drop("dedup_site_id").join(membership, "site_id")
    )
    out = merged.select(
        "dedup_site_id",
        F.col("name.value").alias("name"),
        F.col("name.refid").alias("name_ref"),
        "top1_deposit_type",
        F.size("ranked_sites").cast("long").alias("n_sites"),
        "modified_at",
    ).orderBy("dedup_site_id")
    chk = out.agg(
        F.sum("n_sites").alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("dedup_site_id").alias("nd"),
    ).collect()[0]
    _invariant(chk["total"] == sites.count(), "sum(n_sites) != corpus sites")
    _invariant(chk["n"] == chk["nd"], "dedup_site_id not unique")
    return out


def kg_triples(spark, sf_dir):
    """Triple extraction over the synthetic corpus: counts per predicate."""
    from ..operators import extract
    from ..sources import synthetic

    ingest = synthetic.synthesize_ingest(spark, _KG_N, partitions=8)
    t = extract.extract_triples(ingest)
    out = (
        t.groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pred")
    )
    # invariant: every parsed record emits exactly one mo:source_id triple
    parsed, _ = extract.split_violations(extract.parse_sites(ingest))
    n_src = out.filter(F.col("pred") == "mo:source_id").agg(F.sum("n")).collect()[0][0]
    _invariant(n_src == parsed.count(), "mo:source_id count != parsed records")
    return out


def kg_grade_tonnage(spark, sf_dir):
    """Grade-tonnage views over the synthetic corpus.

    Hard oracle (r5 promotion): expected totals computed by the
    REFERENCE'S OWN executed ``GradeTonnageModel`` over inventory groups
    re-derived from the raw records by plain dict traversal, inlined
    unrounded as VALUES (plans/kg_oracles.py
    kg_grade_tonnage_oracle_sql); built in a try/except — if the
    reference checkout is unavailable the entry degrades to rows-only.
    """
    from ..operators import grade_tonnage
    from ..sources import vocab as vocab_mod

    _, vdfs, sites, _ = _kg_outputs(spark)
    base = grade_tonnage.grade_tonnage_view(sites, vdfs)
    # invariants on the UNROUNDED view: one row per (site, commodity);
    # grade = 100 × metal / tonnage (relative tolerance, fp division)
    chk = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("site_id", "commodity").alias("nd"),
        F.sum(
            F.when(
                F.col("tonnage").isNotNull()
                & (F.col("tonnage") > 0)
                & F.col("contained_metal").isNotNull()
                & (
                    F.abs(
                        F.col("grade")
                        - 100.0 * F.col("contained_metal") / F.col("tonnage")
                    )
                    > 1e-6 * F.greatest(F.abs("grade"), F.lit(1.0))
                ),
                1,
            ).otherwise(0)
        ).alias("bad_grade"),
    ).collect()[0]
    _invariant(chk["n"] == chk["nd"], "duplicate (site, commodity) view")
    _invariant(
        chk["bad_grade"] == 0, "grade != 100 * contained_metal / tonnage"
    )

    def round6(name):
        # DuckDB-equivalent round(x, 6) on BINARY doubles: std::round
        # half-away-from-zero on x*1e6.  Spark's F.round re-parses the
        # double's shortest decimal repr (BigDecimal.valueOf, HALF_UP) and
        # diverges whenever x*1e6 lands exactly on .5 in binary —
        # e.g. 1.1970844999999999*1e6 == 1197084.5 exactly, so DuckDB
        # yields 1.197085 but F.round yields 1.197084 (VERDICT r05 #1,
        # 2/896 rows).  floor(|x|*1e6 + 0.5) is IEEE-identical to
        # std::round(|x|*1e6) for |x|*1e6 < 2^52 (verified empirically on
        # 40k samples incl. exact-.5 boundaries); values here are ≤ ~1e7.
        c = F.col(name)
        half = F.floor(F.abs(c) * F.lit(1e6) + F.lit(0.5)).cast("double")
        signed = F.when(c < 0, -half).otherwise(half)
        return (signed / F.lit(1e6)).alias(name)

    return base.select(
        "site_id",
        "commodity",
        round6("contained_metal"),
        round6("tonnage"),
        round6("grade"),
    ).orderBy("site_id", "commodity")


def kg_entity_linking(spark, sf_dir):
    """Vocabulary linking of unlinked deposit-type mentions (L1-L2).

    Hard oracle (r5 promotion): the corpus mentions ARE the vocabulary
    names verbatim (every score saturates at 1.0), so the entry also
    links the deterministic LINK_PROBES — typos, reorders, duplicate
    tokens, digits, abbreviations — that land every score off 1.0 and
    exercise each of the 7 feature paths.  The oracle
    (plans/kg_oracles.py kg_entity_linking_oracle_sql) restates the full
    scoring in independent DuckDB SQL: builtin levenshtein /
    jaro_winkler_similarity, nested list lambdas for Monge-Elkan, a
    WITH RECURSIVE greedy matcher for hybrid Jaccard, regexp digit
    extraction for the ordinal guard.
    """
    from ..operators import linking
    from ..sources import vocab as vocab_mod
    from .kg_oracles import LINK_PROBES

    _, vdfs, sites, _ = _kg_outputs(spark)
    mentions = linking.unlinked_mentions(sites, "deposit_type").unionByName(
        spark.createDataFrame(LINK_PROBES, ["mention_id", "text"])
    )
    docs = linking.vocab_docs(
        vdfs["deposit_type"], name_col="deposit_type", alias_col=None
    )
    out = (
        linking.link_mentions(mentions, docs)
        .select("mention_id", "entity_id", F.round("score", 6).alias("score"))
        .orderBy("mention_id")
    )
    # invariant: at most one link per mention, scores in [0, 1]
    chk = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("mention_id").alias("nd"),
        F.min("score").alias("lo"),
        F.max("score").alias("hi"),
    ).collect()[0]
    _invariant(chk["n"] == chk["nd"], "mention linked more than once")
    _invariant(
        chk["n"] == 0 or (chk["lo"] >= 0.0 and chk["hi"] <= 1.0),
        "link score outside [0, 1]",
    )
    return out


def kg_entity_triples(spark, sf_dir):
    """Entity-vocabulary triple emission (per-predicate counts; parity vs
    the reference's executed emitters asserted in tests/test_entity_triples.py)."""
    from ..operators.entity_triples import entity_triples
    from ..sources import vocab as vocab_mod

    vdfs = vocab_mod.vocab_dataframes(spark)
    t = entity_triples(vdfs)
    out = (
        t.groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pred")
    )
    # invariant: every vocab row emits exactly one rdfs:label triple
    n_vocab = sum(
        vdfs[k].count()
        for k in (
            "commodity",
            "unit",
            "country",
            "state_or_province",
            "deposit_type",
            "commodity_form",
            "crs",
            "data_source",
            "category",
        )
    )
    n_label = (
        out.filter(F.col("pred") == "rdfs:label").agg(F.sum("n")).collect()[0][0]
    )
    _invariant(n_label == n_vocab, "rdfs:label count != vocab rows")
    return out


def _sql_val(v):
    """Python value → SQL literal for the inlined-vocab oracle."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def _values(rows, cols):
    return ",\n    ".join(
        "(" + ", ".join(_sql_val(r.get(c)) for c in cols) + ")" for r in rows
    )


def kg_entity_triples_oracle_sql() -> str:
    """DuckDB oracle for kg_entity_triples: the SAME vocabulary rows are
    inlined as VALUES and the per-predicate triple counts are recomputed
    with independent SQL restating the emission rules
    (operators/entity_triples.py / ref kgrel entity to_kg shapes) —
    a real oracle over shared input, not a snapshot of the output."""
    from ..sources.vocab import synthetic_vocab

    v = synthetic_vocab()
    alias_n = (
        "CASE WHEN aliases IS NULL OR trim(aliases) = '' THEN 0 "
        "ELSE len(string_split(aliases, '|')) END"
    )
    return f"""
WITH commodity(minmod_id, name, aliases, parent, is_critical) AS (VALUES
    {_values(v["commodity"], ["minmod_id", "name", "aliases", "parent", "is_critical_commodity"])}),
unit(minmod_id, name, aliases) AS (VALUES
    {_values(v["unit"], ["minmod_id", "name", "aliases"])}),
country(minmod_id, name, aliases, iso3, iso2) AS (VALUES
    {_values(v["country"], ["minmod_id", "name", "aliases", "iso3", "iso2"])}),
state(minmod_id, name, country_name) AS (VALUES
    {_values(v["state_or_province"], ["minmod_id", "name", "country_name"])}),
dt(minmod_id, name, env, grp) AS (VALUES
    {_values(v["deposit_type"], ["minmod_id", "deposit_type", "deposit_environment", "deposit_group"])}),
cf(minmod_id, name, formula, commodity_id, conversion) AS (VALUES
    {_values(v["commodity_form"], ["minmod_id", "name", "formula", "commodity_id", "conversion"])}),
crs(minmod_id, name) AS (VALUES
    {_values(v["crs"], ["minmod_id", "name"])}),
ds(uri, name, type, created_by, description, score, connection) AS (VALUES
    {_values(v["data_source"], ["uri", "name", "type", "created_by", "description", "score", "connection"])}),
cat(id, label) AS (VALUES
    {_values(v["category"], ["id", "label"])}),
counts(pred, n) AS (
  SELECT 'rdf:type',
         (SELECT count(*) FROM commodity) + (SELECT count(*) FROM unit)
       + (SELECT count(*) FROM country) + (SELECT count(*) FROM state)
       + (SELECT count(*) FROM dt) + (SELECT count(*) FROM cf)
       + (SELECT count(*) FROM crs) + (SELECT count(*) FROM ds)
       + (SELECT count(*) FROM cat)
  UNION ALL SELECT 'rdfs:label',
         (SELECT count(name) FROM commodity) + (SELECT count(name) FROM unit)
       + (SELECT count(name) FROM country) + (SELECT count(name) FROM state)
       + (SELECT count(name) FROM dt) + (SELECT count(name) FROM cf)
       + (SELECT count(name) FROM crs) + (SELECT count(name) FROM ds)
       + (SELECT count(label) FROM cat)
  UNION ALL SELECT 'mo:id',
         (SELECT count(minmod_id) FROM commodity)
       + (SELECT count(minmod_id) FROM unit)
       + (SELECT count(minmod_id) FROM country)
       + (SELECT count(minmod_id) FROM state)
       + (SELECT count(minmod_id) FROM dt) + (SELECT count(id) FROM cat)
  UNION ALL SELECT 'mo:aliases',
         (SELECT coalesce(sum({alias_n}), 0) FROM commodity)
       + (SELECT coalesce(sum({alias_n}), 0) FROM unit)
       + (SELECT coalesce(sum({alias_n}
            + (CASE WHEN iso3 IS NOT NULL AND trim(iso3) != '' THEN 1 ELSE 0 END)
            + (CASE WHEN iso2 IS NOT NULL AND trim(iso2) != '' THEN 1 ELSE 0 END)), 0)
          FROM country)
  UNION ALL SELECT 'mo:parent', (SELECT count(parent) FROM commodity)
  UNION ALL SELECT 'mo:is_critical', (SELECT count(is_critical) FROM commodity)
  UNION ALL SELECT 'mo:environment', (SELECT count(env) FROM dt)
  UNION ALL SELECT 'mo:group', (SELECT count(grp) FROM dt)
  UNION ALL SELECT 'mo:country',
         (SELECT count(c.minmod_id) FROM state s
          LEFT JOIN country c ON s.country_name = c.name)
  UNION ALL SELECT 'mo:formula', (SELECT count(formula) FROM cf)
  UNION ALL SELECT 'mo:commodity', (SELECT count(commodity_id) FROM cf)
  UNION ALL SELECT 'mo:conversion', (SELECT count(conversion) FROM cf)
  UNION ALL SELECT 'mo:uri', (SELECT count(minmod_id) FROM crs)
  UNION ALL SELECT 'mo:type', (SELECT count(type) FROM ds)
  UNION ALL SELECT 'mo:created_by', (SELECT count(created_by) FROM ds)
  UNION ALL SELECT 'mo:description', (SELECT count(description) FROM ds)
  UNION ALL SELECT 'mo:score', (SELECT count(score) FROM ds)
  UNION ALL SELECT 'mo:connection', (SELECT count(connection) FROM ds)
)
SELECT pred, CAST(n AS BIGINT) AS n FROM counts WHERE n > 0 ORDER BY pred
"""


def kg_lod_closure(spark, sf_dir):
    """Q4 driver entry: full LOD dereference of the first corpus site's
    subgraph via the semi-join fixpoint (plans/serving.py lod_closure).

    Hard oracle (r5 promotion): the closure algebra is restated as a
    DuckDB WITH RECURSIVE reachability program over the inlined corpus
    triples (plans/kg_oracles.py kg_lod_closure_oracle_sql); in-engine
    invariants retained as belt-and-braces."""
    from ..operators import extract
    from ..plans.serving import lod_closure
    from ..sources import synthetic

    ingest = synthetic.synthesize_ingest(spark, 60, partitions=4)
    triples = extract.extract_triples(ingest).select("subj", "pred", "obj")
    start = (
        triples.filter(F.col("pred") == "mo:source_id")
        .orderBy("subj")
        .first()["subj"]
    )
    out = lod_closure(triples, start).orderBy("subj", "pred", "obj")
    own = triples.filter(
        (F.col("subj") == start) & (F.col("pred") != "owl:sameAs")
    ).count()
    got_own = out.filter(F.col("subj") == start).count()
    _invariant(got_own == own, "start subject's triples incomplete")
    _invariant(
        out.filter(F.col("pred") == "owl:sameAs").count() == 0,
        "owl:sameAs leaked into the closure",
    )
    return out


def kg_sameas_triples(spark, sf_dir):
    """owl:sameAs emission from the canonicalized membership."""
    from ..operators import canonicalize

    _, _, _, membership = _kg_outputs(spark)
    out = (
        canonicalize.sameas_triples(
            membership.select(
                F.col("site_id").alias("node"),
                F.col("dedup_site_id").alias("component"),
            )
        )
        .select("subj", "pred", "obj")
        .orderBy("subj", "obj")
    )
    # invariant from the group-size histogram: a group of n emits
    # max(n - 1, 1) triples (self-link for singletons)
    hist = (
        membership.groupBy("dedup_site_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(F.greatest(F.col("n") - 1, F.lit(1))).alias("expect")
        )
        .collect()[0]
    )
    _invariant(out.count() == hist["expect"], "sameAs count != Σ max(n-1,1)")
    return out


def kg_stats(spark, sf_dir):
    """A9 over the engine's real KG output: the reference's three
    count-by-commodity SPARQL stats endpoints
    (`minmodkg/api/routers/stats.py:105-167` — inventories / sites /
    documents per commodity with an rdfs:label join) expressed as
    triple-pattern joins over the emitted triples table.

    SPARQL→Spark mapping: each basic graph pattern is a filter on
    (pred, obj); the property paths (``mo:commodity/mo:normalized_uri``,
    ``mo:reference/mo:document``) are equi-joins on the shared node
    column.  The label join is a broadcast against the commodity
    vocabulary (the same rows entity_triples emits as ``rdfs:label``).
    Triple-pattern joins shuffle on the node id — the standard
    SPARQL-BGP-on-Spark shape; per-commodity aggregates use partial
    aggregation and the three count tables join on the (tiny) commodity
    key set.
    """
    from ..functions.ids import MR_NS
    from ..operators import extract

    ingest, vdfs, _, _ = _kg_outputs(spark)
    t = extract.extract_triples(ingest).select("subj", "pred", "obj")

    inv_nodes = t.filter(
        (F.col("pred") == "rdf:type") & (F.col("obj") == "mo:MineralInventory")
    ).select(F.col("subj").alias("mi"))
    comm_edge = t.filter(F.col("pred") == "mo:commodity").select(
        F.col("subj").alias("mi"), F.col("obj").alias("ce")
    )
    norm_uri = t.filter(F.col("pred") == "mo:normalized_uri").select(
        F.col("subj").alias("ce"),
        # obj is an N3 absolute uri term '<...>' — strip the brackets
        F.expr("substring(obj, 2, length(obj) - 2)").alias("commodity_uri"),
    )
    inv_comm = (
        inv_nodes.join(comm_edge, "mi").join(norm_uri, "ce")
        .select("mi", "commodity_uri")
    )

    site_edge = t.filter(F.col("pred") == "mo:mineral_inventory").select(
        F.col("subj").alias("ms"), F.col("obj").alias("mi")
    )
    ref_edge = t.filter(F.col("pred") == "mo:reference").select(
        F.col("subj").alias("mi"), F.col("obj").alias("ref")
    )
    doc_edge = t.filter(F.col("pred") == "mo:document").select(
        F.col("subj").alias("ref"), F.col("obj").alias("doc")
    )

    by_inv = inv_comm.groupBy("commodity_uri").agg(
        F.count_distinct("mi").alias("n_inventories")
    )
    by_site = (
        inv_comm.join(site_edge, "mi")
        .groupBy("commodity_uri")
        .agg(F.count_distinct("ms").alias("n_sites"))
    )
    by_doc = (
        inv_comm.join(ref_edge, "mi")
        .join(doc_edge, "ref")
        .groupBy("commodity_uri")
        .agg(F.count_distinct("doc").alias("n_documents"))
    )

    labels = F.broadcast(
        vdfs["commodity"].select(
            F.concat(F.lit(MR_NS), F.col("minmod_id")).alias("commodity_uri"),
            F.col("name").alias("commodity_label"),
        )
    )
    # left joins: a commodity whose linked inventories all lack references
    # (or site back-edges) must still emit a row with a 0 count — the
    # DuckDB oracle's count(DISTINCT doc_key) over NULLs does the same
    out = (
        by_inv.join(by_site, "commodity_uri", "left")
        .join(by_doc, "commodity_uri", "left")
        .join(labels, "commodity_uri")
        .select(
            "commodity_uri",
            "commodity_label",
            "n_inventories",
            F.coalesce("n_sites", F.lit(0)).alias("n_sites"),
            F.coalesce("n_documents", F.lit(0)).alias("n_documents"),
        )
        .orderBy("commodity_uri")
    )
    # invariants: Σ n_inventories over commodities == inventories with a
    # linked commodity; every commodity found a label (inner join lost none)
    total_linked = inv_comm.count()
    chk = out.agg(
        F.sum("n_inventories").alias("s"), F.count(F.lit(1)).alias("k")
    ).collect()[0]
    _invariant(chk["s"] == total_linked, "Σ n_inventories != linked inventories")
    _invariant(
        chk["k"] == by_inv.count(), "label join dropped a commodity"
    )
    return out


def kg_cdr_export(spark, sf_dir):
    """CDR export projection over the synthetic corpus (VERDICT r04 #9):
    one CDR DedupSite JSON record per (dedup site, grade-tonnage
    commodity), via the engine's full extract → membership → merge →
    select-inventories → ``cdr_export_json_rows`` chain
    (ref integrations/cdr/cdr.py:120-201 format_dedup_site).

    The JSON is UNROUNDED — the engine's Arrow GT kernel is bit-exact to
    the reference's GradeTonnageModel since the r5 unit-conversion fix
    (functions/units.py divides in the reference's exact sequence), so the
    driver's value-hash compares full doubles.  Raw-valued byte parity vs
    the reference's executed formatter is separately asserted in
    tests/test_export.py.

    Hard oracle: plans/kg_oracles.py kg_cdr_export_oracle_sql — expected
    records computed by the REFERENCE'S OWN executed chain
    (from_sites → select_inventories → GradeTonnageModel →
    format_dedup_site) over a pure-python restatement of the corpus
    traversal and the G1-G5 membership program, inlined as VALUES.
    """
    from ..operators import dedup, grade_tonnage
    from ..plans.export import cdr_export_json_rows
    from ..sources.vocab import synthetic_vocab

    _, vdfs, sites, membership = _kg_outputs(spark)
    swd = sites.drop("dedup_site_id").join(membership, "site_id")
    dedup_attrs = dedup.merge_dedup_sites(swd)
    gt = grade_tonnage.grade_tonnage_view(sites, vdfs)
    dedup_invs = dedup.select_dedup_inventories(swd, gt)

    v = synthetic_vocab()
    commodity_id2name = {r["minmod_id"]: r["name"] for r in v["commodity"]}
    country_id2name = {r["minmod_id"]: r["name"] for r in v["country"]}
    province_id2name = {r["minmod_id"]: r["name"] for r in v["state_or_province"]}

    out = cdr_export_json_rows(
        dedup_attrs,
        dedup_invs,
        commodity_id2name,
        country_id2name,
        province_id2name,
    ).orderBy("dedup_site_id", "commodity")
    return out


def mm_image_stats(spark, sf_dir):
    """Multimodal driver entry (VERDICT r02 #6): decode a deterministic
    REAL BMP/PPM asset table with the pure-python codecs
    (operators/multimodal.py) and aggregate per container format.

    Hard oracle (r5 promotion): expected per-format stats recomputed
    from the asset GENERATION FORMULA in pure python — bypassing both the
    encoders and the decoders — and inlined as VALUES
    (plans/data_oracles.py mm_image_stats_oracle_sql); an encode or
    decode bug on the engine side breaks the hash match.
    """
    from ..operators import multimodal

    assets = multimodal.synth_real_assets(spark, 96, partitions=8)
    feats = multimodal.image_features(assets, fake=False)
    fmt = assets.select(
        "asset_id", F.col("meta")["format"].alias("format")
    )
    return (
        feats.join(fmt, "asset_id")
        .groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("width").alias("sum_width"),
            F.sum("height").alias("sum_height"),
            F.round(F.avg("mean_luma"), 6).alias("avg_luma"),
        )
        .orderBy("format")
    )


# ---------------------------------------------------------------------------

QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_supplier_volume": q5_supplier_volume,
    "antijoin_customers_without_orders": antijoin_customers_without_orders,
    "events_user_stats": events_user_stats,
    "events_sessionized": events_sessionized,
    "events_hourly_rollup": events_hourly_rollup,
    "supplier_distinct_parts": supplier_distinct_parts,
    "top_parts_by_size": top_parts_by_size,
    "orders_running_total": orders_running_total,
    "cc_customer_order_graph": cc_customer_order_graph,
    "docs_exact_dups": docs_exact_dups,
    "docs_minhash_lsh": docs_minhash_lsh,
    "docs_simhash": docs_simhash,
    "docs_simhash_sig": docs_simhash_sig,
    "docs_ngram_jaccard": docs_ngram_jaccard,
    "docs_token_stats": docs_token_stats,
    "docs_quality": docs_quality,
    "docs_fingerprint": docs_fingerprint,
    "emb_topk_cosine": emb_topk_cosine,
    "emb_ivf_topk": emb_ivf_topk,
    "emb_ivf_topk_exact": emb_ivf_topk_exact,
    "emb_ivf_recall": emb_ivf_recall,
    "emb_lsh_neardups": emb_lsh_neardups,
    "emb_dedup_groups": emb_dedup_groups,
    "emb_label_centroid_sim": emb_label_centroid_sim,
    "kg_dedup_sites": kg_dedup_sites,
    "kg_triples": kg_triples,
    "kg_grade_tonnage": kg_grade_tonnage,
    "kg_entity_linking": kg_entity_linking,
    "kg_entity_triples": kg_entity_triples,
    "kg_sameas_triples": kg_sameas_triples,
    "kg_stats": kg_stats,
    "kg_lod_closure": kg_lod_closure,
    "kg_cdr_export": kg_cdr_export,
    "mm_image_stats": mm_image_stats,
}

ORACLE_SQL = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_supplier_volume": Q5_SQL,
    "antijoin_customers_without_orders": ANTIJOIN_SQL,
    "events_user_stats": EVENTS_STATS_SQL,
    "events_sessionized": EVENTS_SESSION_SQL,
    "events_hourly_rollup": EVENTS_HOURLY_SQL,
    "supplier_distinct_parts": SUPPLIER_DISTINCT_SQL,
    "top_parts_by_size": TOP_PARTS_SQL,
    "orders_running_total": RUNNING_TOTAL_SQL,
    "cc_customer_order_graph": CC_SQL,
    "docs_exact_dups": DOCS_EXACT_SQL,
    "docs_ngram_jaccard": DOCS_NGRAM_SQL,
    "docs_token_stats": DOCS_TOKENS_SQL,
    "docs_quality": DOCS_QUALITY_SQL,
    "docs_minhash_lsh": DOCS_MINHASH_SQL,
    "docs_fingerprint": DOCS_FINGERPRINT_SQL,
    "docs_simhash_sig": DOCS_SIMHASH_SIG_SQL,
    "kg_entity_triples": kg_entity_triples_oracle_sql(),
    "emb_topk_cosine": EMB_TOPK_SQL,
    "emb_ivf_topk_exact": EMB_TOPK_SQL,
    "emb_lsh_neardups": EMB_LSH_SQL,
    "emb_dedup_groups": EMB_DEDUP_GROUPS_SQL,
    "emb_label_centroid_sim": EMB_CENTROID_SQL,
}

# kg_* VALUES oracles (plans/kg_oracles.py): the deterministic corpus is the
# shared input; the semantics are restated in independent DuckDB SQL.
from .kg_oracles import (  # noqa: E402
    kg_dedup_sites_oracle_sql,
    kg_entity_linking_oracle_sql,
    kg_lod_closure_oracle_sql,
    kg_sameas_triples_oracle_sql,
    kg_stats_oracle_sql,
    kg_triples_oracle_sql,
)

ORACLE_SQL["kg_triples"] = kg_triples_oracle_sql(_KG_N)
ORACLE_SQL["kg_sameas_triples"] = kg_sameas_triples_oracle_sql(_KG_N)
ORACLE_SQL["kg_stats"] = kg_stats_oracle_sql(_KG_N)
ORACLE_SQL["kg_dedup_sites"] = kg_dedup_sites_oracle_sql(_KG_N)
ORACLE_SQL["kg_entity_linking"] = kg_entity_linking_oracle_sql(_KG_N)
try:
    from .kg_oracles import kg_grade_tonnage_oracle_sql  # noqa: E402

    ORACLE_SQL["kg_grade_tonnage"] = kg_grade_tonnage_oracle_sql(_KG_N)
except Exception:  # pragma: no cover — reference checkout unavailable
    pass  # kg_grade_tonnage stays rows-only (invariant-guarded)
try:
    from .kg_oracles import kg_cdr_export_oracle_sql  # noqa: E402

    ORACLE_SQL["kg_cdr_export"] = kg_cdr_export_oracle_sql(_KG_N)
except Exception:  # pragma: no cover — reference checkout unavailable
    pass  # kg_cdr_export stays rows-only
# closure entry runs on its own 60-site corpus (kg_lod_closure docstring)
ORACLE_SQL["kg_lod_closure"] = kg_lod_closure_oracle_sql(60)
