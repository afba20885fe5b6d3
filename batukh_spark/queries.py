"""Driver-harness query registry (SURVEY §2 coverage).

Each entry couples a Spark DataFrame builder `(spark, sf_dir) -> DataFrame`
with an equivalent ANSI-SQL string for the DuckDB oracle over the same
parquet tables.  Column names AND types are aligned pairwise (driver
hashes values after sorting columns by name).  Hash-bearing queries use
md5/sha256, which both engines produce identically; float aggregates are
rounded in BOTH engines.

SURVEY §2 operator ids are noted per query (S=scan, P=predicate,
K=segmentation, Q=sequence, A=aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batukh_spark.operators import dedup, similarity, textstats
from batukh_spark.operators.text import tokens_col
from batukh_spark.session import materialize


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def t_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + round-robin repartition to all cores.

    The testdata tables are single parquet files -> a single input split;
    expression-heavy per-row operators (minhash/simhash/winnowing run as
    interpreted higher-order functions) would otherwise execute on ONE
    core.  At real scale inputs arrive in many splits and this is a no-op
    decision; the tiny shuffle is the price of core saturation here."""
    return t(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# relational core (SURVEY §2.5/§2.6: A1-A7, joins, windows)

def q1_pricing_summary(spark, sf):
    # A1/A2/A3: grouped running aggregates
    li = t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order")))


Q1_SQL = """
select l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                          as sum_qty,
       round(sum(l_extendedprice), 2)                     as sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)  as sum_disc_price,
       round(avg(l_quantity), 4)                          as avg_qty,
       count(*)                                           as count_order
from lineitem group by l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf):
    # broadcast dim join + agg + global top-k (TakeOrdered, no full sort)
    cust = t(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("o_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10))


Q3_SQL = """
select o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
from lineitem
join orders   on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where c_mktsegment = 'BUILDING'
group by o_orderkey
order by revenue desc, o_orderkey asc limit 10
"""


def q5_nation_revenue(spark, sf):
    # multi-join: region->nation->customer->orders->lineitem; small dims
    # broadcast, fact joins shuffle on keys
    region = t(spark, sf, "region")
    nation = t(spark, sf, "nation")
    cust = t(spark, sf, "customer")
    orders = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region),
                  nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name", "n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


Q5_SQL = """
select r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
group by r_name, n_name
"""


def top3_orders_per_cust(spark, sf):
    # K8 analogue: per-group top-k via ranking window
    orders = t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders.withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 2).alias("o_totalprice"), "rn"))


TOP3_SQL = """
select o_custkey, o_orderkey, round(o_totalprice, 2) as o_totalprice, rn
from (select o_custkey, o_orderkey, o_totalprice,
             row_number() over (partition by o_custkey
                                order by o_totalprice desc, o_orderkey asc)
               as rn
      from orders) where rn <= 3
"""


def latest_event_per_user(spark, sf):
    # S12/A6 analogue: latest checkpoint by (ts, id) per key
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("user_id",
                    F.col("event_type").alias("last_event_type"),
                    F.col("event_id").alias("last_event_id")))


LATEST_EVENT_SQL = """
select user_id, event_type as last_event_type, event_id as last_event_id
from (select *, row_number() over (partition by user_id
                                   order by ts desc, event_id desc) as rn
      from events) where rn = 1
"""


def orphan_customers(spark, sf):
    # S8/S9 intent: referential-integrity anti-join
    cust = t(spark, sf, "customer")
    orders = t(spark, sf, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey,
                      "left_anti")
            .select("c_custkey"))


ORPHAN_SQL = """
select c_custkey from customer
where c_custkey not in (select o_custkey from orders where o_custkey is not null)
"""


def adjacent_dedup_events(spark, sf):
    # Q7 merge-repeated analogue: drop adjacent duplicate event types
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.withColumn("prev_type", F.lag("event_type").over(w))
            .filter(~F.col("event_type").eqNullSafe(F.col("prev_type")))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_kept")))


ADJ_DEDUP_SQL = """
select user_id, count(*) as n_kept
from (select user_id, event_type,
             lag(event_type) over (partition by user_id
                                   order by ts, event_id) as prev_type
      from events)
where event_type is distinct from prev_type
group by user_id
"""


def sessionize_events(spark, sf):
    # Q2 sequential-state analogue: gap-based sessionization
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond epochs on BOTH sides (events.ts carries microseconds;
    # casting to long would truncate and diverge from duckdb's fractional
    # epoch() near the threshold)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    return (ev.withColumn("new_sess",
                          F.when(gap.isNull() | (gap > 3600 * 1_000_000), 1)
                          .otherwise(0))
            .groupBy("user_id")
            .agg(F.sum("new_sess").alias("n_sessions")))


SESSIONIZE_SQL = """
select user_id, sum(new_sess)::bigint as n_sessions
from (select user_id,
             case when lag(ts) over w is null
                       or epoch_us(ts) - epoch_us(lag(ts) over w)
                          > 3600000000::bigint
                  then 1 else 0 end as new_sess
      from events window w as (partition by user_id order by ts, event_id))
group by user_id
"""


def vocab_stats(spark, sf):
    # A7: distinct-token vocabulary over the corpus
    docs = t(spark, sf, "documents")
    toks = docs.select(F.explode(tokens_col("text")).alias("tok"))
    return toks.agg(
        F.countDistinct("tok").alias("n_distinct_tokens"),
        F.min("tok").alias("min_token"),
        F.max("tok").alias("max_token"))


VOCAB_SQL = r"""
select count(distinct tok) as n_distinct_tokens,
       min(tok) as min_token, max(tok) as max_token
from (select unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                x -> x <> '')) as tok
      from documents)
"""


def revenue_rollup(spark, sf):
    """ROLLUP over region/nation revenue (multi-level aggregation —
    subtotals + grand total in one pass, map-side partials per level)."""
    base = q5_nation_revenue(spark, sf).withColumnRenamed("revenue", "rev")
    return (base.rollup("r_name", "n_name")
            .agg(F.round(F.sum("rev"), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_groups")))


ROLLUP_SQL = """
with base as (
  select r_name, n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) as rev
  from lineitem
  join orders on l_orderkey = o_orderkey
  join customer on o_custkey = c_custkey
  join nation on c_nationkey = n_nationkey
  join region on n_regionkey = r_regionkey
  group by r_name, n_name
)
select r_name, n_name, round(sum(rev), 2) as revenue,
       count(*) as n_groups
from base group by rollup (r_name, n_name)
"""


def asof_join_events(spark, sf):
    """As-of join (Spark has no native one): for every 'click' event, the
    most recent prior 'view' by the same user.

    Implementation: union both sides tagged, one window sorted by
    (user_id, ts, event_id) carrying last_value(view) forward — a single
    sort-merge pass that scales as one shuffle on user_id, no per-group
    pandas and no range-duplication blowup.  DuckDB oracle uses its
    native ASOF JOIN.
    """
    ev = t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"))
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"))
    tagged = (clicks.select("user_id",
                            F.col("c_ts").alias("ts"),
                            F.col("click_id").alias("eid"),
                            F.lit(1).alias("is_click"),
                            F.lit(None).cast("long").alias("view_id"))
              .unionByName(
                  views.select("user_id",
                               F.col("v_ts").alias("ts"),
                               F.col("view_id").alias("eid"),
                               F.lit(0).alias("is_click"),
                               F.col("view_id"))))
    # views sort before clicks at the same ts ("most recent prior or
    # simultaneous view"); ties inside a kind break by event id
    w = (Window.partitionBy("user_id")
         .orderBy("ts", F.asc("is_click"), "eid")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    joined = (tagged
              .withColumn("last_view",
                          F.last("view_id", ignorenulls=True).over(w))
              .filter("is_click = 1")
              .select("user_id", F.col("eid").alias("click_id"),
                      F.col("last_view").alias("view_id")))
    return joined


ASOF_SQL = """
select c.user_id, c.event_id as click_id, v.event_id as view_id
from (select * from events where event_type = 'click') c
asof left join (select * from events where event_type = 'view') v
  on c.user_id = v.user_id and v.ts <= c.ts
"""


# ---------------------------------------------------------------------------
# extraction semantics checkable in SQL (P5/Q8 canonicalization contract)

def extract_plain_canonical(spark, sf):
    docs = t(spark, sf, "documents")
    canon = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return docs.select(
        "doc_id", canon.alias("canonical_text"),
        F.length(canon).cast("long").alias("n_chars_canonical"))


CANON_SQL = r"""
select doc_id,
       regexp_replace(trim(text), '\s+', ' ', 'g') as canonical_text,
       length(regexp_replace(trim(text), '\s+', ' ', 'g')) as n_chars_canonical
from documents
"""


# ---------------------------------------------------------------------------
# dedup operators

def dedup_exact_q(spark, sf):
    return dedup.exact_dedup(t_spread(spark, sf, "documents"))


DEDUP_EXACT_SQL = r"""
select md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) as text_hash,
       min(doc_id) as keep_id, count(*) as n_dups
from documents group by 1
"""

_SH_CTE = r"""
with toks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from documents
), sh as (
  select doc_id,
         case when len(tokens) >= 3 then
           list_transform(generate_series(1, len(tokens) - 2),
                          i -> tokens[i] || ' ' || tokens[i+1] || ' '
                               || tokens[i+2])
         else [] end as shingles
  from toks
)
"""


def minhash_lsh_pairs_q(spark, sf):
    return dedup.lsh_candidate_pairs(t_spread(spark, sf, "documents"))


MINHASH_LSH_SQL = _SH_CTE + """
, sig as (
  select doc_id,
         list_transform(generate_series(0, 15),
            s -> list_min(list_transform(shingles,
                   g -> md5(s::varchar || ':' || g)))) as sig
  from sh where len(shingles) > 0
), bands as (
  select doc_id, b as band_id,
         md5(sig[b*4+1] || '|' || sig[b*4+2] || '|' || sig[b*4+3] || '|'
             || sig[b*4+4]) as band_hash
  from sig cross join unnest([0, 1, 2, 3]) as u(b)
)
select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_shared_bands
from bands a
join bands b on a.band_id = b.band_id and a.band_hash = b.band_hash
            and a.doc_id < b.doc_id
group by 1, 2
"""


def dedup_clusters_q(spark, sf):
    """LSH candidate pairs -> connected-component duplicate clusters
    (the keep/drop last mile of corpus dedup)."""
    docs = t_spread(spark, sf, "documents")
    pairs = dedup.lsh_candidate_pairs(docs)
    return dedup.resolve_clusters(pairs)


# recursive reachability closure over the (symmetric) candidate-pair
# graph; min reachable id == component id.  Quadratic in component size,
# fine for an oracle (components are tiny near-dup cliques).
DEDUP_CLUSTERS_SQL = (
    "with recursive" + _SH_CTE.split("with", 1)[1] + """
, sig as (
  select doc_id,
         list_transform(generate_series(0, 15),
            s -> list_min(list_transform(shingles,
                   g -> md5(s::varchar || ':' || g)))) as sig
  from sh where len(shingles) > 0
), bands as (
  select doc_id, b as band_id,
         md5(sig[b*4+1] || '|' || sig[b*4+2] || '|' || sig[b*4+3] || '|'
             || sig[b*4+4]) as band_hash
  from sig cross join unnest([0, 1, 2, 3]) as u(b)
), cand as (
  select a.doc_id as id_a, b.doc_id as id_b
  from bands a
  join bands b on a.band_id = b.band_id and a.band_hash = b.band_hash
              and a.doc_id < b.doc_id
  group by 1, 2
), edges as (
  select id_a as src, id_b as dst from cand
  union
  select id_b, id_a from cand
), reach(id, lab) as (
  select src, src from edges
  union
  select e.src, r.lab from edges e join reach r on r.id = e.dst
)
select id as doc_id, min(lab) as cluster_id,
       id = min(lab) as is_keeper
from reach group by id
""")


def ngram_jaccard_adjacent(spark, sf):
    docs = t_spread(spark, sf, "documents")
    pairs = docs.select(F.col("doc_id").alias("id_a"),
                        (F.col("doc_id") + 1).alias("id_b"))
    out = dedup.ngram_jaccard_pairs(docs, pairs)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


NGRAM_JACCARD_SQL = _SH_CTE + """
, dsh as (select doc_id, list_distinct(shingles) as sh from sh)
select a.doc_id as id_a, b.doc_id as id_b,
       round(case when len(a.sh) + len(b.sh) = 0 then 0
             else len(list_filter(a.sh, x -> list_contains(b.sh, x)))::double
                  / (len(a.sh) + len(b.sh)
                     - len(list_filter(a.sh, x -> list_contains(b.sh, x))))
             end, 6) as jaccard
from dsh a join dsh b on b.doc_id = a.doc_id + 1
"""


def _minhash_sig_sql(src: str, p: str = "") -> str:
    """{p}toks/{p}sh/{p}sig/{p}bands CTE bodies over `src`(doc_id,
    text) — the DuckDB mirror of minhash_signature + its band keys.
    The prefix lets one query carry TWO signature chains (e.g. the
    incremental signature-store side and the new-run side)."""
    return rf"""{p}toks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from {src}
), {p}sh as (
  select doc_id,
         case when len(tokens) >= 3 then
           list_transform(generate_series(1, len(tokens) - 2),
                          i -> tokens[i] || ' ' || tokens[i+1] || ' '
                               || tokens[i+2])
         else [] end as shingles
  from {p}toks
), {p}sig as (
  select doc_id,
         list_transform(generate_series(0, 15),
            s -> list_min(list_transform(shingles,
                   g -> md5(s::varchar || ':' || g)))) as sig
  from {p}sh where len(shingles) > 0
), {p}bands as (
  select doc_id, b as band_id,
         md5(sig[b*4+1] || '|' || sig[b*4+2] || '|' || sig[b*4+3] || '|'
             || sig[b*4+4]) as band_hash
  from {p}sig cross join unnest([0, 1, 2, 3]) as u(b)
)"""


def _lsh_chain_sql(src: str = "documents") -> str:
    """toks/sh/sig/bands/cand CTE bodies over `src`(doc_id, text) —
    the DuckDB mirror of minhash_signature + lsh_candidate_pairs,
    parameterized by source so augmented corpora can reuse it."""
    return _minhash_sig_sql(src) + """, cand as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_shared_bands
  from bands a
  join bands b on a.band_id = b.band_id and a.band_hash = b.band_hash
              and a.doc_id < b.doc_id
  group by 1, 2
)"""


def lsh_jaccard_verified(spark, sf):
    """The full candidate -> verify chain: MinHash-LSH candidate pairs
    verified by exact k-word-shingle Jaccard, flagged at >= 0.5 (the
    similarity the 4-band/4-row banding targets).  Shingle arrays ship
    for candidates only — never all-pairs."""
    docs = t_spread(spark, sf, "documents")
    pairs = dedup.lsh_candidate_pairs(docs).select("id_a", "id_b")
    out = dedup.ngram_jaccard_pairs(docs, pairs)
    j = F.round("jaccard", 6)
    return out.select("id_a", "id_b", j.alias("jaccard"),
                      (j >= 0.5).alias("is_dup"))


_JACCARD_EXPR = """round(case when len(a.sh) + len(b.sh) = 0 then 0
             else len(list_filter(a.sh, x -> list_contains(b.sh, x)))::double
                  / (len(a.sh) + len(b.sh)
                     - len(list_filter(a.sh, x -> list_contains(b.sh, x))))
             end, 6)"""

LSH_JACCARD_VERIFIED_SQL = f"""
with {_lsh_chain_sql("documents")}
, dsh as (select doc_id, list_distinct(shingles) as sh from sh)
select c.id_a, c.id_b,
       {_JACCARD_EXPR} as jaccard,
       {_JACCARD_EXPR} >= 0.5 as is_dup
from cand c
join dsh a on a.doc_id = c.id_a
join dsh b on b.doc_id = c.id_b
"""


def corpus_keep_set(spark, sf):
    """End-to-end keep-set verdict (doc_id, keep, reason) over the
    documents corpus augmented with planted exact twins (doc_id % 25
    == 0 duplicated at doc_id + 1000000 — the raw corpus has no exact
    dups, so the augmentation exercises the exact_dup > near_dup
    precedence: a planted twin is also an LSH pair of its source)."""
    docs = t_spread(spark, sf, "documents").select("doc_id", "text")
    twins = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return dedup.keep_set(docs.unionByName(twins))


CORPUS_KEEP_SET_SQL = f"""
with recursive docs as (
  select doc_id, text from documents
  union all
  select doc_id + 1000000, text from documents where doc_id % 25 = 0
), {_lsh_chain_sql("docs")}
, edges as (
  select id_a as src, id_b as dst from cand
  union
  select id_b, id_a from cand
), reach(id, lab) as (
  select src, src from edges
  union
  select e.src, r.lab from edges e join reach r on r.id = e.dst
), clusters as (
  select id as doc_id, min(lab) as cluster_id from reach group by id
), hashes as (
  select doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           as text_hash
  from docs
), exact as (
  select text_hash, min(doc_id) as keep_id from hashes group by 1
), verdict as (
  select h.doc_id,
         case when h.doc_id <> e.keep_id then 'exact_dup'
              when c.cluster_id is not null and h.doc_id <> c.cluster_id
                   then 'near_dup'
              else 'unique' end as reason
  from hashes h
  join exact e using (text_hash)
  left join clusters c using (doc_id)
)
select doc_id, reason = 'unique' as keep, reason from verdict
"""


def simhash_adjacent_hamming(spark, sf):
    docs = t_spread(spark, sf, "documents")
    # materialize: both self-join sides consume sigs and no
    # ReusedExchange fires across the Arrow vote projection, so the
    # signature would be computed twice (interleaved A/B: 1.28 s ->
    # 1.00 s median at sf0.1) — same fix as simhash_candidate_pairs
    sigs = materialize(dedup.simhash(docs),
                       "queries.simhash_adjacent_hamming:sigs")
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"),
                    dedup.hamming(F.col("a.simhash"), F.col("b.simhash"))
                    .cast("long").alias("hamming")))


# 64-bit simhash signature CTE (toks -> sigs), shared by the adjacent
# kernel check and the banded candidate query; hash per token =
# md5(t) || md5('x:' || t) exactly as operators.dedup.simhash
_SIMHASH_SIGS_CTE = r"""
with toks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from documents
), hs as (
  select doc_id,
         list_transform(tokens, t -> md5(t) || md5('x:' || t)) as hs
  from toks
), sigs as (
  select doc_id,
         list_aggregate(
           list_transform(generate_series(1, 64), j ->
             case when list_sum(list_transform(hs, h ->
                    case when substr(h, j, 1) in
                         ('8','9','a','b','c','d','e','f')
                    then 1 else -1 end)) > 0
             then '1' else '0' end), 'string_agg', '') as simhash
  from hs
)
"""

_SQL_HAMMING64 = """list_sum(list_transform(generate_series(1, 64), j ->
         case when substr(a.simhash, j, 1) <> substr(b.simhash, j, 1)
         then 1 else 0 end))::bigint"""

SIMHASH_SQL = _SIMHASH_SIGS_CTE + f"""
select a.doc_id as id_a, b.doc_id as id_b,
       {_SQL_HAMMING64} as hamming
from sigs a join sigs b on b.doc_id = a.doc_id + 1
"""


def simhash_candidates(spark, sf):
    """Banded simhash candidate generation (4 x 16-bit bands, OR
    semantics — Manku-style) with exact-hamming verification."""
    return dedup.simhash_candidate_pairs(t_spread(spark, sf, "documents"))


SIMHASH_CANDIDATES_SQL = _SIMHASH_SIGS_CTE + f"""
, bands as (
  -- zero-token docs are dropped before banding (all-zero-signature
  -- hot bucket), mirroring operators.dedup.simhash_candidate_pairs
  select sigs.doc_id, b as band_id,
         substr(simhash, b * 16 + 1, 16) as band_sig
  from sigs join toks using (doc_id)
  cross join unnest([0, 1, 2, 3]) as u(b)
  where len(toks.tokens) > 0
), cand as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_shared_bands
  from bands a
  join bands b on a.band_id = b.band_id and a.band_sig = b.band_sig
              and a.doc_id < b.doc_id
  group by 1, 2
)
select c.id_a, c.id_b, c.n_shared_bands,
       {_SQL_HAMMING64} as hamming
from cand c
join sigs a on a.doc_id = c.id_a
join sigs b on b.doc_id = c.id_b
"""


def fingerprint_winnow(spark, sf):
    out = textstats.fingerprint(t_spread(spark, sf, "documents"))
    return out.select("doc_id",
                      F.col("n_grams").cast("long").alias("n_grams"),
                      F.col("n_fingerprints").cast("long")
                      .alias("n_fingerprints"),
                      "fp_min")


FINGERPRINT_SQL = """
with grams as (
  select doc_id,
         case when length(text) >= 8 then
           list_transform(generate_series(1, length(text) - 7),
                          i -> md5(substr(text, i, 8)))
         else [] end as grams
  from documents
), winnow as (
  select doc_id, len(grams) as n_grams,
         case when len(grams) >= 4 then
           list_distinct(list_transform(generate_series(1, len(grams) - 3),
                          j -> list_min(grams[j:j+3])))
         else list_distinct(grams) end as mins
  from grams
)
select doc_id, n_grams, len(mins) as n_fingerprints,
       list_min(mins) as fp_min
from winnow
"""


# ---------------------------------------------------------------------------
# similarity search

def cosine_topk_q(spark, sf):
    return similarity.cosine_topk(t(spark, sf, "embeddings"), query_id=0,
                                  k=10)


COSINE_TOPK_SQL = """
with q as (select embedding::double[] as qvec from embeddings where vec_id = 0)
select vec_id,
       round(
         list_sum(list_transform(generate_series(1, len(e)),
                                 i -> e[i] * qvec[i]))
         / (sqrt(list_sum(list_transform(generate_series(1, len(e)),
                                         i -> e[i] * e[i])))
            * sqrt(list_sum(list_transform(generate_series(1, len(qvec)),
                                           i -> qvec[i] * qvec[i])))), 6)
         as cos_sim
from (select vec_id, embedding::double[] as e from embeddings
      where vec_id <> 0) cross join q
order by cos_sim desc, vec_id asc limit 10
"""


def hard_negatives_q(spark, sf):
    """Hard-negative mining: anchors = every 50th vector (10 of 500);
    for each, the 5 most-cosine-similar vectors with a DIFFERENT
    label (operators/similarity.hard_negatives — broadcast anchors,
    two-phase top-k, vectors never shuffle)."""
    from batukh_spark.operators.similarity import hard_negatives
    emb = t_spread(spark, sf, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    return hard_negatives(emb, anchors, k=5)


HARD_NEGATIVES_SQL = """
with a as (
  select vec_id as anchor_id, embedding::double[] as avec,
         label as albl
  from embeddings where vec_id % 50 = 0
), e as (
  select vec_id, label, embedding::double[] as ev from embeddings
), s as (
  select a.anchor_id, e.vec_id,
         round(
           list_sum(list_transform(generate_series(1, len(ev)),
                                   i -> ev[i] * avec[i]))
           / (sqrt(list_sum(list_transform(generate_series(1, len(ev)),
                                           i -> ev[i] * ev[i])))
              * sqrt(list_sum(list_transform(generate_series(1, len(avec)),
                                             i -> avec[i] * avec[i])))),
           6) as cos_sim
  from a join e on e.label <> a.albl and e.vec_id <> a.anchor_id
), r as (
  select *, row_number() over (partition by anchor_id
                               order by cos_sim desc, vec_id) as rn
  from s
)
select anchor_id, vec_id, cos_sim from r where rn <= 5
"""


def cosine_near_dup_adjacent(spark, sf):
    """Embedding-cosine near-dup flags for adjacent vec_id pairs (the
    SQL-checkable slice of cosine near-dup dedup; the scalable all-pairs
    path reuses lsh/ivf bucketing from operators.similarity)."""
    emb = t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    a = emb.alias("a")
    b = emb.alias("b")
    cos = F.round(similarity.cosine(F.col("a.e"), F.col("b.e")), 6)
    # stage cos_sim before the flag reads it (double reference would
    # run the interpreted cosine folds twice per pair)
    return (a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
            .select(F.col("a.vec_id").alias("id_a"),
                    F.col("b.vec_id").alias("id_b"),
                    cos.alias("cos_sim"))
            .withColumn("is_near_dup", F.col("cos_sim") > 0.9))


COSINE_NEAR_DUP_SQL = """
with e as (select vec_id, embedding::double[] as e from embeddings)
select a.vec_id as id_a, b.vec_id as id_b,
       round(
         list_sum(list_transform(generate_series(1, len(a.e)),
                                 i -> a.e[i] * b.e[i]))
         / (sqrt(list_sum(list_transform(generate_series(1, len(a.e)),
                                         i -> a.e[i] * a.e[i])))
            * sqrt(list_sum(list_transform(generate_series(1, len(b.e)),
                                           i -> b.e[i] * b.e[i])))), 6)
         as cos_sim,
       round(
         list_sum(list_transform(generate_series(1, len(a.e)),
                                 i -> a.e[i] * b.e[i]))
         / (sqrt(list_sum(list_transform(generate_series(1, len(a.e)),
                                         i -> a.e[i] * a.e[i])))
            * sqrt(list_sum(list_transform(generate_series(1, len(b.e)),
                                           i -> b.e[i] * b.e[i])))), 6)
         > 0.9 as is_near_dup
from e a join e b on b.vec_id = a.vec_id + 1
"""


def ivf_cluster_sizes(spark, sf):
    """IVF assignment histogram against the TRAINED codebook (2
    deterministic Lloyd rounds on micro-quantized vectors — exact
    integer sums make the training bit-reproducible in DuckDB)."""
    assign = similarity.assign_ivf_clusters(t(spark, sf, "embeddings"))
    return (assign.groupBy(F.col("cluster").cast("long").alias("cluster"))
            .agg(F.count(F.lit(1)).alias("n")))


def _sql_cos(a: str, b: str, dim: int = 64) -> str:
    """DuckDB cosine between two double-list expressions, summed
    left-to-right like Spark's aggregate(zip_with(...))."""
    def ls(x, y):
        return (f"list_sum(list_transform(generate_series(1, {dim}), "
                f"i -> {x}[i] * {y}[i]))")
    return f"({ls(a, b)} / (sqrt({ls(a, a)}) * sqrt({ls(b, b)})))"


def _kmeans_cte(iters: int = 2, k: int = 8, dim: int = 64) -> str:
    """CTE chain replicating similarity.kmeans_centroids + final assign:
    qe (quantized) -> c0 (init) -> [aN (assign) -> cN (recenter)] x iters
    -> assign (vec_id, cluster)."""
    parts = [f"""qe as (
  select vec_id,
         list_transform(embedding::double[],
                        x -> round(x * 1e6)::bigint) as q,
         list_transform(embedding::double[],
                        x -> round(x * 1e6)::bigint::double) as qd
  from embeddings
), c0 as (
  select list(qd order by vec_id) as cv from qe where vec_id < {k}
)"""]
    for it in range(1, iters + 1):
        parts.append(f"""a{it} as (
  select vec_id, q, list_position(sims, list_max(sims)) - 1 as cluster
  from (select vec_id, q,
               list_transform(cv, c -> {_sql_cos('qd', 'c', dim)}) as sims
        from qe cross join c{it - 1})
), c{it} as (
  select list(cvec order by cluster) as cv from (
    select cluster,
           list_transform(generate_series(1, {dim}),
             d -> list_sum(list_transform(ms, m -> m[d]))::double / n)
             as cvec
    from (select cluster, list(q) as ms, count(*) as n
          from a{it} group by cluster))
)""")
    parts.append(f"""assign as (
  select vec_id, list_position(sims, list_max(sims)) - 1 as cluster
  from (select vec_id,
               list_transform(cv, c -> {_sql_cos('qd', 'c', dim)}) as sims
        from qe cross join c{iters})
)""")
    return "with " + ", ".join(parts)


IVF_SQL = _kmeans_cte() + """
select cluster::bigint as cluster, count(*) as n from assign group by 1
"""


# bump whenever the IVF training code or hyperparameters change: the
# cache key must invalidate, or a stale index silently serves old
# centroids (masking regressions / causing spurious oracle mismatches,
# since the SQL oracle always retrains fresh)
_IVF_CACHE_VER = "v2_k8_i2_d64"


def _cached_build(sf: str, table: str, kind: str, marker: str,
                  build) -> str:
    """Deterministic per-corpus artifact location: build once per
    testdata dir, serve on every subsequent call.  The directory
    `/tmp/batukh_<kind>_<base>_<size>_<mtime>` is keyed by the identity
    of `{sf}/{table}.parquet` (a regenerated corpus rebuilds) AND by
    `kind`, which carries a code/param version token (a training change
    rebuilds).  Concurrent-safe: `build(tmp)` writes a pid-unique tmp
    dir that is atomically renamed into place; a builder that loses the
    rename removes its tmp dir and serves the winner's identical
    artifact, whose `marker` file then exists."""
    import os
    st = os.stat(f"{sf}/{table}.parquet")
    base = os.path.basename(os.path.normpath(sf))
    out = f"/tmp/batukh_{kind}_{base}_{st.st_size}_{int(st.st_mtime)}"
    if not os.path.exists(f"{out}/{marker}"):
        tmp = f"{out}.build{os.getpid()}"
        build(tmp)
        try:
            os.rename(tmp, out)
        except OSError:
            import shutil
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(f"{out}/{marker}"):
                raise
    return out


def ivf_recall_topk(spark, sf):
    """ANN quality gate: recall@10 of the multi-probe (nprobe=3)
    cluster-pruned IVF search vs brute-force cosine top-k for vec_id=0.

    Train/serve split: the index (codebook + cluster-partitioned
    vectors) is trained ONCE per corpus by `train_ivf`; the query path
    (`ivf_topk`) runs zero Lloyd rounds and partition-prunes the scan
    to the probed clusters."""
    emb = t(spark, sf, "embeddings")
    idx = _cached_build(sf, "embeddings", f"ivf_{_IVF_CACHE_VER}",
                        "vectors/_SUCCESS",
                        lambda tmp: similarity.train_ivf(emb, tmp))
    brute = similarity.cosine_topk(emb, query_id=0, k=10).select("vec_id")
    ivf = similarity.ivf_topk(spark, idx, query_id=0, k=10,
                              nprobe=3).select("vec_id")
    return (brute.join(ivf, "vec_id")
            .agg((F.count(F.lit(1)) / 10.0).alias("recall_at_10")))


IVF_RECALL_SQL = _kmeans_cte() + """
, e as (select vec_id, embedding::double[] as ev from embeddings)
, brute as (
  select e.vec_id from e cross join
       (select ev as qv from e where vec_id = 0) q
  where e.vec_id <> 0
  order by """ + _sql_cos("ev", "qv") + """ desc, e.vec_id asc limit 10
), probes as (
  select i - 1 as cluster
  from (select list_transform(cv, c -> """ + _sql_cos("qd", "c") + """)
               as sims
        from (select qd from qe where vec_id = 0) cross join c2),
       unnest(generate_series(1, 8)) as t(i)
  order by sims[i] desc, i asc limit 3
), ivf as (
  select e.vec_id
  from e join assign using (vec_id) join probes using (cluster)
  cross join (select ev as qv from e where vec_id = 0) q
  where e.vec_id <> 0
  order by """ + _sql_cos("ev", "qv") + """ desc, e.vec_id asc limit 10
)
select count(*)::double / 10 as recall_at_10
from brute join ivf using (vec_id)
"""


def srp_near_dup_q(spark, sf):
    """Embedding near-dup via MULTI-BAND SRP-LSH (32 bits = 4 OR'd
    8-bit bands — a pair is a candidate when ANY band matches, the same
    OR-of-bands recall shape as the minhash LSH path) + exact cosine
    verification.  Bucketed, never all-pairs."""
    return similarity.srp_near_dup_pairs(
        t_spread(spark, sf, "embeddings"), n_bits=32, n_bands=4)


_SRP_SIGN_SQL = ("case when substr(md5(j::varchar || ':' "
                 "|| (i-1)::varchar), 1, 1) in "
                 "('8','9','a','b','c','d','e','f') then 1 else -1 end")


def _srp_sigs_cte(src: str = "e", p: str = "", n_bits: int = 32,
                  n_bands: int = 4) -> str:
    """{p}sigs/{p}bands CTE bodies over `src`(vec_id, e) — mirrors
    similarity.srp_signature + the band split.  The prefix lets one
    query carry TWO signature chains (e.g. the incremental embedding
    store side and the new-arrivals side)."""
    rpb = n_bits // n_bands
    bvals = ", ".join(str(b) for b in range(n_bands))
    return f"""{p}sigs as (
  select vec_id,
         array_to_string(list_transform(generate_series(0, {n_bits - 1}),
           j -> case when list_sum(list_transform(generate_series(1, 64),
                  i -> {src}.e[i] * {_SRP_SIGN_SQL})) > 0
                then '1' else '0' end), '') as sig
  from {src}
), {p}bands as (
  select vec_id, b as band_id, substr(sig, b * {rpb} + 1, {rpb}) as band_sig
  from {p}sigs cross join unnest([{bvals}]) as u(b)
)"""


def _srp_band_cte(src: str = "e", n_bits: int = 32,
                  n_bands: int = 4) -> str:
    """sigs/bands/cand CTE bodies over `src`(vec_id, e) — mirrors
    similarity.srp_candidate_pairs (same md5 hyperplanes, same band
    split, OR-of-bands pair semantics)."""
    return _srp_sigs_cte(src, "", n_bits, n_bands) + """, cand as (
  select a.vec_id as id_a, b.vec_id as id_b, count(*) as n_shared_bands
  from bands a
  join bands b on a.band_id = b.band_id and a.band_sig = b.band_sig
              and a.vec_id < b.vec_id
  group by 1, 2
)"""


SRP_NEAR_DUP_SQL = f"""
with e as (select vec_id, embedding::double[] as e from embeddings),
{_srp_band_cte('e')}
select c.id_a, c.id_b, c.n_shared_bands,
       round({_sql_cos('a.e', 'b.e')}, 6) as cos_sim,
       round({_sql_cos('a.e', 'b.e')}, 6) > 0.9 as is_near_dup
from cand c
join e a on a.vec_id = c.id_a
join e b on b.vec_id = c.id_b
"""


def srp_recall(spark, sf):
    """Candidate-recall gate for the banded SRP path: plant one
    deterministic near-dup twin per vec_id < 100 (component-wise
    perturbation e_j * (1 + eps * s_j), eps in {0.1, 0.15, 0.2} ->
    cos ~ {0.995, 0.989, 0.980}, all > 0.95; the raw corpus has NO
    natural pairs above 0.52), then measure what fraction of the
    brute-force cos > 0.95 pair set the bucketed candidates recover.

    The brute-force truth set is inherently all-pairs — it exists only
    to MEASURE recall and runs at validation scale (the driver gates at
    sf0.01); the operator under test stays bucketed."""
    emb = t_spread(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    eps = F.element_at(F.array(F.lit(0.1), F.lit(0.15), F.lit(0.2)),
                       (F.col("vec_id") % 3 + 1).cast("int"))

    def tsign(i):
        h = F.md5(F.concat(F.lit("t:"), F.col("vec_id").cast("string"),
                           F.lit(":"), i.cast("string")))
        return F.when(F.substring(h, 1, 1).isin(*"89abcdef"),
                      F.lit(1.0)).otherwise(F.lit(-1.0))

    twins = (emb.filter(F.col("vec_id") < 100)
             .select((F.col("vec_id") + 1000000).alias("tid"),
                     F.transform("e", lambda x, i:
                                 x * (1 + eps * tsign(i))).alias("e"))
             .select(F.col("tid").alias("vec_id"), "e"))
    aug = emb.unionByName(twins)
    a = aug.alias("ta")
    b = aug.alias("tb")
    cos = F.round(similarity.cosine(F.col("ta.e"), F.col("tb.e")), 6)
    truth = (a.join(b, F.col("ta.vec_id") < F.col("tb.vec_id"))
             .filter(cos > 0.95)
             .select(F.col("ta.vec_id").alias("id_a"),
                     F.col("tb.vec_id").alias("id_b")))
    cand = similarity.srp_candidate_pairs(
        aug, n_bits=32, n_bands=4, vec_col="e")
    return (truth.join(cand, ["id_a", "id_b"], "left")
            .agg(F.count(F.lit(1)).alias("n_true"),
                 F.count("n_shared_bands").alias("n_hit"),
                 F.round(F.count("n_shared_bands")
                         / F.count(F.lit(1)), 4).alias("recall")))


SRP_RECALL_SQL = f"""
with e0 as (select vec_id, embedding::double[] as e from embeddings),
tw as (
  select vec_id + 1000000 as tid,
         list_transform(generate_series(1, 64), i ->
           e[i] * (1 + ([0.1, 0.15, 0.2])[(vec_id % 3)::int + 1] *
             (case when substr(md5('t:' || vec_id::varchar || ':'
                                    || (i-1)::varchar), 1, 1)
                   in ('8','9','a','b','c','d','e','f')
              then 1.0 else -1.0 end))) as e
  from e0 where vec_id < 100
),
e as (select vec_id, e from e0
      union all select tid as vec_id, e from tw),
truth as (
  select a.vec_id as id_a, b.vec_id as id_b
  from e a join e b on a.vec_id < b.vec_id
  where round({_sql_cos('a.e', 'b.e')}, 6) > 0.95
),
{_srp_band_cte('e')}
select count(*)::bigint as n_true,
       count(c.id_a)::bigint as n_hit,
       round(count(c.id_a)::double / count(*), 4) as recall
from truth t
left join cand c on t.id_a = c.id_a and t.id_b = c.id_b
"""


def embedding_keep_set_q(spark, sf):
    """SemDeDup-style per-vector verdict (vec_id, keep, reason) over
    the embeddings corpus augmented with planted EXACT twins (vec_id %
    17 == 0 copied verbatim at +1000000) and planted NEAR twins
    (vec_id < 100 perturbed component-wise at +2000000, cos ~0.98-
    0.995 — the raw corpus has no natural pairs above 0.52, so the
    augmentation exercises both drop reasons and the exact_dup >
    near_dup precedence: an exact copy is band-identical to its rep
    and always also a near-dup pair).  Bucketed SRP-LSH candidates,
    cosine verify on candidates only, connected components by min-label
    hooking with pointer jumping — never all-pairs
    (similarity.embedding_keep_set)."""
    emb = t_spread(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    vid = F.col("vec_id")
    exact_twins = emb.filter(vid % 17 == 0).select(
        (vid + 1000000).alias("vec_id"), "e")
    eps = F.element_at(F.array(F.lit(0.1), F.lit(0.15), F.lit(0.2)),
                       (vid % 3 + 1).cast("int"))

    def tsign(i):
        h = F.md5(F.concat(F.lit("t:"), vid.cast("string"),
                           F.lit(":"), i.cast("string")))
        return F.when(F.substring(h, 1, 1).isin(*"89abcdef"),
                      F.lit(1.0)).otherwise(F.lit(-1.0))

    near_twins = (emb.filter(vid < 100)
                  .select((vid + 2000000).alias("tid"),
                          F.transform("e", lambda x, i:
                                      x * (1 + eps * tsign(i)))
                          .alias("e"))
                  .select(F.col("tid").alias("vec_id"), "e"))
    aug = emb.unionByName(exact_twins).unionByName(near_twins)
    return similarity.embedding_keep_set(aug, vec_col="e")


EMBEDDING_KEEP_SET_SQL = f"""
with recursive e0 as (
  select vec_id, embedding::double[] as e from embeddings
), tw as (
  select vec_id + 2000000 as tid,
         list_transform(generate_series(1, 64), i ->
           e[i] * (1 + ([0.1, 0.15, 0.2])[(vec_id % 3)::int + 1] *
             (case when substr(md5('t:' || vec_id::varchar || ':'
                                    || (i-1)::varchar), 1, 1)
                   in ('8','9','a','b','c','d','e','f')
              then 1.0 else -1.0 end))) as e
  from e0 where vec_id < 100
), e as (
  select vec_id, e from e0
  union all
  select vec_id + 1000000, e from e0 where vec_id % 17 = 0
  union all
  select tid as vec_id, e from tw
),
{_srp_band_cte('e')}
, ver as (
  select c.id_a, c.id_b
  from cand c
  join e a on a.vec_id = c.id_a
  join e b on b.vec_id = c.id_b
  where round({_sql_cos('a.e', 'b.e')}, 6) > 0.9
), edges as (
  select id_a as src, id_b as dst from ver
  union
  select id_b, id_a from ver
), reach(id, lab) as (
  select src, src from edges
  union
  select g.src, r.lab from edges g join reach r on r.id = g.dst
), clusters as (
  select id as vec_id, min(lab) as cluster_id from reach group by id
), hashes as (
  select vec_id,
         md5(array_to_string(list_transform(e,
               x -> (round(x * 1e6)::bigint)::varchar), ',')) as vh
  from e
), exact as (
  select vh, min(vec_id) as keep_id from hashes group by 1
), verdict as (
  select h.vec_id,
         case when h.vec_id <> x.keep_id then 'exact_dup'
              when c.cluster_id is not null
                   and h.vec_id <> c.cluster_id then 'near_dup'
              else 'unique' end as reason
  from hashes h
  join exact x using (vh)
  left join clusters c using (vec_id)
)
select vec_id, reason = 'unique' as keep, reason from verdict
"""


def incremental_embedding_keep_set_q(spark, sf):
    """Cross-run incremental SemDeDup: verdicts for NEW vectors
    against the persisted embedding signature store (similarity.
    build_embedding_store / incremental_embedding_keep_set).  The
    store is the full embeddings corpus; arrivals are planted three
    ways — verbatim copies (vec_id%13, exact_dup), perturbed twins
    (vec_id<60, the srp_recall perturbation, cos 0.98-0.995 ->
    near_dup when a band collides — a band miss is 'unique'
    IDENTICALLY in both engines), and negated vectors (vec_id%19,
    cos <= -1 with their source and below threshold against
    everything -> unique)."""
    emb = t(spark, sf, "embeddings")
    # the embedding signature store, built once per corpus
    store = _cached_build(
        sf, "embeddings", "embstore_v1_b32", "vecs/_SUCCESS",
        lambda tmp: similarity.build_embedding_store(emb, tmp))
    base = emb.select("vec_id",
                      F.col("embedding").cast("array<double>")
                      .alias("e"))
    vid = F.col("vec_id")
    copies = base.filter(vid % 13 == 0).select(
        (vid + 1000000).alias("vec_id"), "e")
    eps = F.element_at(F.array(F.lit(0.1), F.lit(0.15), F.lit(0.2)),
                       (vid % 3 + 1).cast("int"))

    def tsign(i):
        h = F.md5(F.concat(F.lit("t:"), vid.cast("string"),
                           F.lit(":"), i.cast("string")))
        return F.when(F.substring(h, 1, 1).isin(*"89abcdef"),
                      F.lit(1.0)).otherwise(F.lit(-1.0))

    twins = (base.filter(vid < 60)
             .select((vid + 2000000).alias("tid"),
                     F.transform("e", lambda x, i:
                                 x * (1 + eps * tsign(i))).alias("e"))
             .select(F.col("tid").alias("vec_id"), "e"))
    negs = base.filter(vid % 19 == 0).select(
        (vid + 3000000).alias("vec_id"),
        F.transform("e", lambda x: -x).alias("e"))
    arriving = copies.unionByName(twins).unionByName(negs)
    return similarity.incremental_embedding_keep_set(
        spark, arriving, store, vec_col="e")


INCREMENTAL_EMB_KEEP_SET_SQL = f"""
with e0 as (
  select vec_id, embedding::double[] as e from embeddings
), na as (
  select vec_id + 1000000 as vec_id, e from e0 where vec_id % 13 = 0
  union all
  select vec_id + 2000000,
         list_transform(generate_series(1, 64), i ->
           e[i] * (1 + ([0.1, 0.15, 0.2])[(vec_id % 3)::int + 1] *
             (case when substr(md5('t:' || vec_id::varchar || ':'
                                    || (i-1)::varchar), 1, 1)
                   in ('8','9','a','b','c','d','e','f')
              then 1.0 else -1.0 end)))
  from e0 where vec_id < 60
  union all
  select vec_id + 3000000, list_transform(e, x -> -x)
  from e0 where vec_id % 19 = 0
),
{_srp_sigs_cte('e0', 'h')},
{_srp_sigs_cte('na', 'n')}
, cand as (
  select distinct n.vec_id as nid, h.vec_id as hid
  from nbands n
  join hbands h on n.band_id = h.band_id and n.band_sig = h.band_sig
), near as (
  select distinct c.nid as vec_id
  from cand c
  join na on na.vec_id = c.nid
  join e0 on e0.vec_id = c.hid
  where round({_sql_cos('na.e', 'e0.e')}, 6) > 0.9
), hex0 as (
  select distinct md5(array_to_string(list_transform(e,
           x -> (round(x * 1e6)::bigint)::varchar), ',')) as vh
  from e0
), nh as (
  select vec_id,
         md5(array_to_string(list_transform(e,
           x -> (round(x * 1e6)::bigint)::varchar), ',')) as vh
  from na
), verdict as (
  select nh.vec_id,
         case when hex0.vh is not null then 'exact_dup'
              when near.vec_id is not null then 'near_dup'
              else 'unique' end as reason
  from nh
  left join hex0 using (vh)
  left join near using (vec_id)
)
select vec_id, reason = 'unique' as keep, reason from verdict
"""


# bump whenever the IVF-PQ training code or hyperparameters change
_IVF_PQ_CACHE_VER = "v1_k8_m8_ks16_i2_d64"


def _ivf_pq_index(sf: str, emb: DataFrame) -> str:
    """The IVF-PQ index both PQ queries serve from, trained once."""
    return _cached_build(sf, "embeddings", f"ivfpq_{_IVF_PQ_CACHE_VER}",
                         "vectors/_SUCCESS",
                         lambda tmp: similarity.train_ivf_pq(emb, tmp))


def ivf_pq_topk_q(spark, sf):
    """ANN quality gate for the IVF-PQ serving path: recall@10 of the
    integer distance-table ADC ranking (nprobe=3, m=8 sub-spaces x 16
    codes) vs brute-force cosine top-k for vec_id=0.  Train/serve
    split: the PQ index (coarse codebook + m sub-codebooks + 8-byte
    codes, cluster-partitioned) is trained once per corpus by
    `train_ivf_pq`; the query path reads ONLY (vec_id, code) from the
    probed partitions — no join, no aggregation, no vector shuffle."""
    emb = t(spark, sf, "embeddings")
    idx = _ivf_pq_index(sf, emb)
    brute = similarity.cosine_topk(emb, query_id=0, k=10).select("vec_id")
    pq = similarity.ivf_pq_topk(spark, idx, query_id=0, k=10,
                                nprobe=3).select("vec_id")
    return (brute.join(pq, "vec_id")
            .agg((F.count(F.lit(1)) / 10.0).alias("recall_at_10")))


def _pq_cte(m: int = 8, ks: int = 16, iters: int = 2,
            dim: int = 64) -> str:
    """CTE chain replicating train_ivf_pq + the ivf_pq_topk distance
    tables: the coarse _kmeans_cte chain (qe/c0..cN/assign), then per
    sub-space j a prefixed k-means chain over the quantized sub-slice
    (qe{j}/p{j}c0..p{j}cN), the per-vector code{j} argmax assignment,
    and the query's integer distance table dt{j} (exact bigint dot of
    the quantized query sub-vector with each rounded sub-centroid)."""
    dsub = dim // m
    parts = [_kmeans_cte(iters=iters, k=8, dim=dim).split("with ", 1)[1]]
    for j in range(m):
        off = j * dsub
        parts.append(f"""qe{j} as (
  select vec_id,
         list_transform((embedding::double[])[{off + 1}:{off + dsub}],
                        x -> round(x * 1e6)::bigint) as q,
         list_transform((embedding::double[])[{off + 1}:{off + dsub}],
                        x -> round(x * 1e6)::bigint::double) as qd
  from embeddings
), p{j}c0 as (
  select list(qd order by vec_id) as cv from qe{j} where vec_id < {ks}
)""")
        for it in range(1, iters + 1):
            parts.append(f"""p{j}a{it} as (
  select vec_id, q, list_position(sims, list_max(sims)) - 1 as cluster
  from (select vec_id, q,
               list_transform(cv, c -> {_sql_cos('qd', 'c', dsub)})
                 as sims
        from qe{j} cross join p{j}c{it - 1})
), p{j}c{it} as (
  select list(cvec order by cluster) as cv from (
    select cluster,
           list_transform(generate_series(1, {dsub}),
             d -> list_sum(list_transform(ms, m -> m[d]))::double / n)
             as cvec
    from (select cluster, list(q) as ms, count(*) as n
          from p{j}a{it} group by cluster))
)""")
        parts.append(f"""code{j} as (
  select vec_id, list_position(sims, list_max(sims)) - 1 as code
  from (select vec_id,
               list_transform(cv, c -> {_sql_cos('qd', 'c', dsub)})
                 as sims
        from qe{j} cross join p{j}c{iters})
), dt{j} as (
  select list_transform(cv, c ->
           list_sum(list_transform(generate_series(1, {dsub}),
             i -> q[i] * round(c[i])::bigint))::bigint) as dt
  from (select q from qe{j} where vec_id = 0) cross join p{j}c{iters}
)""")
    return "with " + ", ".join(parts)


def ivf_pq_refine_topk_q(spark, sf):
    """IVF-PQ with FAISS-style exact refinement: the integer ADC
    ranking produces a top-50 shortlist, the shortlist's raw vectors
    join back (the only vector read on the serve path, bounded by the
    literal shortlist size), and exact cosine re-ranks into the final
    top-10.  Measures recall@10 vs brute force — on this corpus the
    refinement recovers everything quantization lost (ADC 0.2 ->
    refined 0.9 at sf0.01, exactly the exact-cosine nprobe=3 ceiling
    ivf_recall_topk measures; 0.4 -> 0.8 at sf0.001)."""
    emb = t(spark, sf, "embeddings")
    idx = _ivf_pq_index(sf, emb)
    brute = similarity.cosine_topk(emb, query_id=0, k=10).select("vec_id")
    pq = similarity.ivf_pq_topk(spark, idx, query_id=0, k=10,
                                nprobe=3, refine=50).select("vec_id")
    return (brute.join(pq, "vec_id")
            .agg((F.count(F.lit(1)) / 10.0).alias("recall_at_10")))


IVF_PQ_REFINE_SQL = _pq_cte() + """
, e as (select vec_id, embedding::double[] as ev from embeddings)
, brute as (
  select e.vec_id from e cross join
       (select ev as qv from e where vec_id = 0) q
  where e.vec_id <> 0
  order by """ + _sql_cos("ev", "qv") + """ desc, e.vec_id asc limit 10
), probes as (
  select i - 1 as cluster
  from (select list_transform(cv, c -> """ + _sql_cos("qd", "c") + """)
               as sims
        from (select qd from qe where vec_id = 0) cross join c2),
       unnest(generate_series(1, 8)) as t(i)
  order by sims[i] desc, i asc limit 3
), pqscore as (
  select a.vec_id,
         (""" + " + ".join(f"dt{j}.dt[code{j}.code + 1]"
                           for j in range(8)) + """)::bigint as score
  from assign a
  join probes using (cluster)
""" + "\n".join(f"  join code{j} on code{j}.vec_id = a.vec_id"
                for j in range(8)) + """
""" + "\n".join(f"  cross join dt{j}" for j in range(8)) + """
  where a.vec_id <> 0
), shortlist as (
  select vec_id from pqscore order by score desc, vec_id asc limit 50
), refined as (
  select s.vec_id
  from shortlist s
  join e on e.vec_id = s.vec_id
  cross join (select ev as qv from e where vec_id = 0) q
  order by round(""" + _sql_cos("e.ev", "qv") + """, 6) desc,
           s.vec_id asc
  limit 10
)
select count(*)::double / 10 as recall_at_10
from brute join refined using (vec_id)
"""


IVF_PQ_TOPK_SQL = _pq_cte() + """
, e as (select vec_id, embedding::double[] as ev from embeddings)
, brute as (
  select e.vec_id from e cross join
       (select ev as qv from e where vec_id = 0) q
  where e.vec_id <> 0
  order by """ + _sql_cos("ev", "qv") + """ desc, e.vec_id asc limit 10
), probes as (
  select i - 1 as cluster
  from (select list_transform(cv, c -> """ + _sql_cos("qd", "c") + """)
               as sims
        from (select qd from qe where vec_id = 0) cross join c2),
       unnest(generate_series(1, 8)) as t(i)
  order by sims[i] desc, i asc limit 3
), pqscore as (
  select a.vec_id,
         (""" + " + ".join(f"dt{j}.dt[code{j}.code + 1]"
                           for j in range(8)) + """)::bigint as score
  from assign a
  join probes using (cluster)
""" + "\n".join(f"  join code{j} on code{j}.vec_id = a.vec_id"
                for j in range(8)) + """
""" + "\n".join(f"  cross join dt{j}" for j in range(8)) + """
  where a.vec_id <> 0
), pqtop as (
  select vec_id from pqscore order by score desc, vec_id asc limit 10
)
select count(*)::double / 10 as recall_at_10
from brute join pqtop using (vec_id)
"""


# ---------------------------------------------------------------------------
# text analysis

def token_counts_q(spark, sf):
    out = textstats.token_counts(t_spread(spark, sf, "documents"))
    return out.select("doc_id",
                      F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
                      F.col("n_bpe_tokens").cast("long")
                      .alias("n_bpe_tokens"),
                      F.col("n_chars").cast("long").alias("n_chars"))


TOKEN_COUNTS_SQL = r"""
select doc_id,
       len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '')) as n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
         as n_bpe_tokens,
       length(text) as n_chars
from documents
"""


def quality_score_q(spark, sf):
    out = textstats.quality_score(t_spread(spark, sf, "documents"))
    return out.select("doc_id",
                      F.col("n_words").cast("long").alias("n_words"),
                      "mean_word_len", "stopword_ratio",
                      "dup_line_frac", "dup_para_frac",
                      "top_bigram_frac", "quality")


QUALITY_SQL = r"""
with toks as (
  select doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from documents
), parts as (
  select doc_id, tokens,
         list_filter(list_transform(string_split(text, chr(10)),
                                    s -> trim(s)), s -> s <> '') as lines,
         list_filter(list_transform(string_split(text, chr(10) || chr(10)),
                                    s -> trim(s)), s -> s <> '') as paras,
         case when len(tokens) >= 2 then
           list_transform(generate_series(1, len(tokens) - 1),
                          i -> tokens[i] || ' ' || tokens[i+1])
         else [] end as bg
  from toks
), s as (
  select doc_id, len(tokens) as n_words,
         case when len(tokens) > 0 then
           list_sum(list_transform(tokens, t -> length(t))) / len(tokens)
         else 0.0 end as mean_word_len,
         case when len(tokens) > 0 then
           len(list_filter(tokens, t -> list_contains(
             ['the','and','of','to','a','in','is','that'], t)))
           / len(tokens)
         else 0.0 end as stop_ratio,
         case when len(lines) > 0 then
           (len(lines) - len(list_distinct(lines))) / len(lines)
         else 0.0 end as dup_line,
         case when len(paras) > 0 then
           (len(paras) - len(list_distinct(paras))) / len(paras)
         else 0.0 end as dup_para,
         case when len(bg) > 0 then
           list_max(list_transform(list_distinct(bg),
                    b -> len(list_filter(bg, x -> x = b)))) / len(bg)
         else 0.0 end as top_bigram
  from parts
)
select doc_id, n_words,
       round(mean_word_len, 4) as mean_word_len,
       round(stop_ratio, 4) as stopword_ratio,
       round(dup_line, 4) as dup_line_frac,
       round(dup_para, 4) as dup_para_frac,
       round(top_bigram, 4) as top_bigram_frac,
       round(0.3 * least(n_words / 100.0, 1.0)
             + 0.15 * case when stop_ratio >= 0.01 and stop_ratio <= 0.6
                      then 1.0 else 0.0 end
             + 0.15 * case when mean_word_len >= 3.0
                                and mean_word_len <= 12.0
                      then 1.0 else 0.0 end
             + 0.2 * case when dup_line <= 0.30 then 1.0 else 0.0 end
             + 0.2 * case when top_bigram <= 0.20 then 1.0 else 0.0 end,
             4) as quality
from s
"""


def lang_id_q(spark, sf):
    out = textstats.lang_id(t_spread(spark, sf, "documents"))
    return out.select("doc_id", "pred_lang",
                      F.col("hits").cast("long").alias("hits"))


def _lang_cte(src: str, p: str = "") -> str:
    """{p}ltoks/{p}langs/{p}lh/{p}lr/{p}lcyr/{p}lscript/{p}lsb/{p}lpred
    CTE bodies over `src`(doc_id, text) — generated from the SAME
    LANG_PROFILES / SCRIPT_GATES literals the Spark operator uses.
    Mirrors the two-stage operator: dominant-script gate first (CJK =>
    ja/zh by kana, Cyrillic => ru/uk stopword argmax or NULL, other
    gated scripts => their verdict), then stopword-hit argmax with
    ties broken by language code asc and a NULL verdict at 0 hits.
    `{p}lpred` = (doc_id, pred_lang, hits)."""
    from batukh_spark.operators.textstats import (CJK_MIN_CHARS,
                                                  CYRILLIC_LANGS,
                                                  LANG_PROFILES,
                                                  SCRIPT_GATES)
    vals = ",\n         ".join(
        "('{}', [{}])".format(
            lang, ", ".join(f"'{w}'" for w in LANG_PROFILES[lang]))
        for lang in sorted(LANG_PROFILES))
    cyr_in = ", ".join(f"'{x}'" for x in CYRILLIC_LANGS)
    script_cols = [
        r"len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]'))"
        "\n           as n_cjk",
        r"len(regexp_extract_all(text, '[\x{3040}-\x{30ff}]'))"
        "\n           as n_kana",
        "len(regexp_extract_all(text, '[A-Za-z]'))"
        "\n           as n_latin"]
    cnt_arms = ["when 'cjk' then n_cjk + n_kana"]
    verdict_arms = []
    for key in sorted(SCRIPT_GATES):
        lo, hi, v = SCRIPT_GATES[key]
        script_cols.append(
            "len(regexp_extract_all(text, '[\\x{%s}-\\x{%s}]'))"
            "\n           as n_%s" % (lo, hi, key))
        cnt_arms.append(f"when '{key}' then n_{key}")
        if v is not None:
            verdict_arms.append(f"when '{key}' then '{v}'")
    scols = ",\n         ".join(script_cols)
    carms = "\n                    ".join(cnt_arms)
    varms = "\n                  ".join(verdict_arms)
    skeys = ", ".join(f"('{k}')"
                      for k in sorted(["cjk"] + list(SCRIPT_GATES)))
    return rf"""{p}ltoks as (
  select doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> x <> '') as tokens
  from {src}
), {p}langs(lang, prof) as (
  values {vals}
), {p}lh as (
  select doc_id, lang,
         len(list_filter(tokens, t -> list_contains(prof, t))) as hits
  from {p}ltoks cross join {p}langs
), {p}lr as (
  select doc_id, lang, hits,
         row_number() over (partition by doc_id
                            order by hits desc, lang asc) as rn
  from {p}lh
), {p}lcyr as (
  select doc_id, lang, hits,
         row_number() over (partition by doc_id
                            order by hits desc, lang asc) as rn
  from {p}lh where lang in ({cyr_in})
), {p}lscript as (
  select doc_id,
         {scols}
  from {src}
), {p}lsb as (
  select doc_id, skey, cnt from (
    select doc_id, skey, cnt,
           row_number() over (partition by doc_id
                              order by cnt desc, skey asc) as rn
    from (
      select s.doc_id, u.skey,
             case u.skey {carms}
                    end as cnt
      from {p}lscript s cross join (values {skeys}) u(skey)
    )
  ) where rn = 1
), {p}lpred as (
  select r.doc_id,
         case when b.cnt >= {CJK_MIN_CHARS} and b.cnt > s.n_latin then
                case b.skey
                  when 'cjk' then
                    case when s.n_kana > 0 then 'ja' else 'zh' end
                  when 'cyrl' then
                    case when cy.hits > 0 then cy.lang else null end
                  {varms}
                  end
              when r.hits > 0 then r.lang
              else null end as pred_lang,
         case when b.cnt >= {CJK_MIN_CHARS} and b.cnt > s.n_latin
                   and b.skey = 'cyrl'
                then cy.hits
              when b.cnt >= {CJK_MIN_CHARS} and b.cnt > s.n_latin
                then b.cnt
              else r.hits end as hits
  from {p}lr r
  join {p}lscript s using (doc_id)
  join {p}lsb b using (doc_id)
  join {p}lcyr cy on cy.doc_id = r.doc_id and cy.rn = 1
  where r.rn = 1
)"""


LANG_ID_SQL = ("with " + _lang_cte("documents")
               + "\nselect doc_id, pred_lang, hits from lpred\n")


def chunk_documents_q(spark, sf):
    """Context-window chunking: 64-token chunks with 8-token overlap
    (stride 56) over canonical whitespace tokens — one row per chunk,
    scan-local fan-out."""
    from batukh_spark.operators.text import chunk_documents
    return chunk_documents(t_spread(spark, sf, "documents"),
                           max_tokens=64, overlap=8)


CHUNK_DOCUMENTS_SQL = r"""
with toks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from documents
), c as (
  select doc_id, tokens, len(tokens) as n,
         case when len(tokens) <= 0 then 0
              when len(tokens) <= 64 then 1
              else 1 + ceil((len(tokens) - 64) / 56.0)::int end as n_chunks
  from toks
)
select doc_id, i::bigint as chunk_idx,
       least(64, n - i * 56)::bigint as n_tokens,
       array_to_string(tokens[i*56+1 : i*56+64], ' ') as chunk_text
from c, unnest(range(0, n_chunks::bigint)) as t(i)
"""


def corpus_sample(spark, sf):
    """Deterministic stratified training-mix sampling: keep 100% of zh,
    50% of en, 25% of everything else — hash-gated Bernoulli (see
    operators/sampling.py), scan-local, reproducible anywhere."""
    from batukh_spark.operators.sampling import stratified_sample
    out = stratified_sample(t(spark, sf, "documents"),
                            rates={"en": 0.5, "zh": 1.0},
                            default_rate=0.25)
    return out.select("doc_id", "lang")


CORPUS_SAMPLE_SQL = """
select doc_id, lang from documents
where substr(md5('mix1:' || doc_id::varchar), 1, 4) <
      case lang when 'en' then '8000'
                when 'zh' then 'zzzz'
                else '4000' end
"""


def temperature_rates_q(spark, sf):
    """Temperature-scaled (alpha = 0.5) domain mixing rates over the
    documents' language distribution, target 200 docs —
    operators/sampling.temperature_rates.  The en-heavy corpus gets
    its big domain down-weighted relative to proportional sampling;
    the integer-quantized weights make the normalizing sum
    order-independent, so the oracle reproduces rates bit-for-bit."""
    from batukh_spark.operators.sampling import temperature_rates
    return temperature_rates(t_spread(spark, sf, "documents"),
                             target=200, alpha=0.5)


_TEMP_RATES_CTE = """
c as (select lang, count(*) as n_docs from documents group by lang),
w as (select lang, n_docs,
             floor(pow(n_docs::double, 0.5) * 1e6)::bigint as weight
      from c),
t as (select sum(weight) as tot from w),
r as (select lang, n_docs, weight,
             least(1.0, (200.0 * weight) /
                        (tot::double * n_docs::double)) as rate
      from w, t)
"""

TEMPERATURE_RATES_SQL = (
    "with " + _TEMP_RATES_CTE
    + "select lang, n_docs::bigint as n_docs, weight, rate from r")


def temperature_sample_q(spark, sf):
    """The hash-gated Bernoulli draw at the temperature rates: ~200
    docs in expectation, small languages up-weighted.  The oracle
    recomputes the rate CTE and applies the same md5 gate with the
    same floor-quantized threshold string."""
    from batukh_spark.operators.sampling import temperature_sample
    return temperature_sample(t_spread(spark, sf, "documents"),
                              target=200, alpha=0.5)


TEMPERATURE_SAMPLE_SQL = (
    "with " + _TEMP_RATES_CTE + """
select d.doc_id, d.lang from documents d join r using (lang)
where substr(md5('temp1:' || d.doc_id::varchar), 1, 4) <
      case when floor(rate * 65536)::bigint >= 65536 then 'zzzz'
           else lpad(lower(to_hex(floor(rate * 65536)::bigint)), 4, '0')
      end
""")


def media_features_q(spark, sf):
    from batukh_spark.operators.multimodal import (extract_features,
                                                   synthesize_media)
    media = synthesize_media(spark, t(spark, sf, "documents"))
    feats = extract_features(media)
    return feats.select("media_id", "kind",
                        F.col("n_bytes").cast("long").alias("n_bytes"),
                        "checksum")


MEDIA_SQL = """
select doc_id as media_id, 'image' as kind,
       octet_length(encode(text)) as n_bytes,
       substr(sha256(text), 1, 16) as checksum
from documents
"""


def video_frame_sample_q(spark, sf):
    """Video frame sampling: mapInPandas 1 -> N fan-out (one row per
    sampled frame), stub decode with a SQL-reproducible checksum."""
    from batukh_spark.operators.multimodal import (sample_frames,
                                                   synthesize_video)
    media = synthesize_video(spark, t(spark, sf, "documents"))
    return sample_frames(media, every_n=4).select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("n_frames").cast("long").alias("n_frames"),
        "frame_checksum")


VIDEO_FRAME_SQL = """
with v as (
  select doc_id as media_id, text,
         (length(text) % 13) + 2 as n_frames
  from documents
)
select media_id, i as frame_idx, n_frames::bigint as n_frames,
       substr(sha256(text || ':' || i::varchar), 1, 16) as frame_checksum
from v, unnest(range(0, n_frames::bigint, 4)) as t(i)
"""


# ---------------------------------------------------------------------------
# training-data assembly: sequence packing, passage-level candidates,
# incremental cross-run dedup, and the composed training-mix capstone

# 64-token/8-overlap chunk CTEs over `src`(doc_id, text) — the DuckDB
# mirror of operators.text.chunk_documents; prefixed so composed queries
# can chunk a derived corpus
def _chunk_sql(src: str, p: str = "") -> str:
    return rf"""{p}ctoks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from {src}
), {p}cc as (
  select doc_id, tokens, len(tokens) as n,
         case when len(tokens) <= 0 then 0
              when len(tokens) <= 64 then 1
              else 1 + ceil((len(tokens) - 64) / 56.0)::int end as n_chunks
  from {p}ctoks
), {p}chunks as (
  select doc_id, i::bigint as chunk_idx,
         least(64, n - i * 56)::bigint as n_tokens,
         array_to_string(tokens[i*56+1 : i*56+64], ' ') as chunk_text
  from {p}cc, unnest(range(0, n_chunks::bigint)) as t(i)
)"""


def pack_sequences_q(spark, sf):
    """Concat-and-split sequence packing (seq_len=256) of the 64/8
    context-window chunks — one row per (chunk x sequence) overlap,
    computed with a distributed prefix sum (no global single-partition
    window; see operators.text.pack_sequences)."""
    from batukh_spark.operators.text import chunk_documents, pack_sequences
    chunks = chunk_documents(t_spread(spark, sf, "documents"),
                             max_tokens=64, overlap=8)
    return pack_sequences(chunks, seq_len=256)


PACK_SEQUENCES_SQL = "with " + _chunk_sql("documents") + """
, g as (
  select doc_id, chunk_idx, n_tokens,
         coalesce(sum(n_tokens) over (
           order by doc_id, chunk_idx
           rows between unbounded preceding and 1 preceding),
           0)::bigint as gstart
  from chunks where n_tokens > 0
)
select doc_id, chunk_idx, s::bigint as seq_id,
       (greatest(gstart, s * 256) - gstart)::bigint as tok_begin,
       (least(gstart + n_tokens, (s + 1) * 256) - gstart)::bigint
         as tok_end,
       (greatest(gstart, s * 256) - s * 256)::bigint as seq_pos
from g, unnest(generate_series(gstart // 256,
                               (gstart + n_tokens - 1) // 256)) as t(s)
"""


def packed_sequences_q(spark, sf):
    """Materialized training rows: 64/8 chunks packed concat-and-split
    into 256-token sequences WITH the assembled text — one row per
    training sequence (the artifact a dataloader reads)."""
    from batukh_spark.operators.text import (assemble_sequences,
                                             chunk_documents)
    chunks = chunk_documents(t_spread(spark, sf, "documents"),
                             max_tokens=64, overlap=8)
    return assemble_sequences(chunks, seq_len=256)


# shared concat-and-split piece layout (prefix sum + boundary split),
# composed by the packed_sequences and epoch_order oracles
_PACK_PIECES_CTE = """
, g as (
  select doc_id, chunk_idx, n_tokens, chunk_text,
         coalesce(sum(n_tokens) over (
           order by doc_id, chunk_idx
           rows between unbounded preceding and 1 preceding),
           0)::bigint as gstart
  from chunks where n_tokens > 0
), pieces as (
  select doc_id, chunk_idx, chunk_text, s::bigint as seq_id,
         (greatest(gstart, s * 256) - gstart)::bigint as tok_begin,
         (least(gstart + n_tokens, (s + 1) * 256) - gstart)::bigint
           as tok_end,
         (greatest(gstart, s * 256) - s * 256)::bigint as seq_pos
  from g, unnest(generate_series(gstart // 256,
                                 (gstart + n_tokens - 1) // 256)) as t(s)
)
"""

PACKED_SEQUENCES_SQL = ("with " + _chunk_sql("documents")
                        + _PACK_PIECES_CTE) + """
select seq_id,
       sum(tok_end - tok_begin)::bigint as n_tokens,
       string_agg(array_to_string(
         (string_split(chunk_text, ' '))[tok_begin+1 : tok_end], ' '),
         ' ' order by seq_pos) as seq_text
from pieces
group by seq_id
"""


def fingerprint_candidates_q(spark, sf):
    """Passage-level near-dup candidate pairs from winnowing
    fingerprints (k=8 char grams, window 4, document-frequency cap) —
    the cross-doc MOSS step over the per-doc fingerprints."""
    return textstats.fingerprint_candidate_pairs(
        t_spread(spark, sf, "documents"))


FINGERPRINT_CANDIDATES_SQL = """
with grams as (
  select doc_id,
         case when length(text) >= 8 then
           list_transform(generate_series(1, length(text) - 7),
                          i -> md5(substr(text, i, 8)))
         else [] end as grams
  from documents
), winnow as (
  select doc_id,
         case when len(grams) >= 4 then
           list_distinct(list_transform(generate_series(1, len(grams) - 3),
                          j -> list_min(grams[j:j+3])))
         else list_distinct(grams) end as mins
  from grams
), fps as (
  select doc_id, fp from winnow, unnest(mins) as t(fp)
), rare as (
  select fp from fps group by fp having count(*) <= 5
), pruned as (
  select doc_id, fp from fps join rare using (fp)
)
select a.doc_id as id_a, b.doc_id as id_b,
       count(*) as n_shared_fps
from pruned a join pruned b on a.fp = b.fp and a.doc_id < b.doc_id
group by 1, 2
"""


# bump when the signature-store layout or minhash parameters change
_SIGSTORE_CACHE_VER = "v1_h16_b4"


def incremental_keep_set_q(spark, sf):
    """Cross-run incremental dedup: run N = even doc_ids (its signature
    store is built once and persisted — run N's TEXT is never re-read);
    run N+1 = odd doc_ids plus planted twins of run-N docs (exact at
    doc_id+2000000 for doc_id%50==0; near at doc_id+3000000 with two
    appended tokens for doc_id%40==0, which perturbs only the trailing
    shingles so >= 1 minhash band survives).  Emits the same (doc_id,
    keep, reason) verdict shape as corpus_keep_set."""
    docs = t_spread(spark, sf, "documents").select("doc_id", "text")
    run_a = docs.filter(F.col("doc_id") % 2 == 0)
    store = _cached_build(
        sf, "documents", f"sigstore_{_SIGSTORE_CACHE_VER}", "bands/_SUCCESS",
        lambda tmp: dedup.build_signature_store(run_a, tmp))
    exact_twins = run_a.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text")
    near_twins = run_a.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xq extra")).alias("text"))
    run_b = (docs.filter(F.col("doc_id") % 2 == 1)
             .unionByName(exact_twins).unionByName(near_twins))
    return dedup.incremental_keep_set(spark, run_b, store)


INCREMENTAL_KEEP_SET_SQL = f"""
with a as (
  select doc_id, text from documents where doc_id % 2 = 0
), b as (
  select doc_id, text from documents where doc_id % 2 = 1
  union all
  select doc_id + 2000000, text from documents where doc_id % 50 = 0
  union all
  select doc_id + 3000000, text || ' xq extra' from documents
  where doc_id % 40 = 0
), {_minhash_sig_sql('a', 'a_')}, {_minhash_sig_sql('b', 'b_')}
, a_hash as (
  select distinct
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           as text_hash
  from a
), b_hash as (
  select doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           as text_hash
  from b
), exact_hit as (
  select distinct bh.doc_id from b_hash bh join a_hash using (text_hash)
), cand as (
  select distinct nb.doc_id as doc_id, sb.doc_id as store_id
  from b_bands nb join a_bands sb using (band_id, band_hash)
), near_hit as (
  select distinct c.doc_id
  from cand c
  join b_sig ns on ns.doc_id = c.doc_id
  join a_sig ss on ss.doc_id = c.store_id
  where len(list_filter(generate_series(1, 16),
                        i -> ns.sig[i] = ss.sig[i])) >= 8
)
select b.doc_id,
       e.doc_id is null and n.doc_id is null as keep,
       case when e.doc_id is not null then 'exact_dup'
            when n.doc_id is not null then 'near_dup'
            else 'unique' end as reason
from b
left join exact_hit e on e.doc_id = b.doc_id
left join near_hit n on n.doc_id = b.doc_id
"""


def pii_redact_q(spark, sf):
    """PII redaction + cleanup over documents augmented with templated
    PII (every third doc gets an email + URL + IPv4 appended in pure
    SQL-reproducible form, since the synthetic corpus contains none)."""
    from batukh_spark.operators.text import redact_pii
    docs = t_spread(spark, sf, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.org/d?id="),
        F.col("doc_id").cast("string"),
        F.lit(" from 10.0.0.1 now"))
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, pii).otherwise(F.col("text"))
        .alias("text"))
    out = redact_pii(aug)
    return out.select("doc_id", "clean_text",
                      F.col("n_urls").cast("long").alias("n_urls"),
                      F.col("n_emails").cast("long").alias("n_emails"),
                      F.col("n_ips").cast("long").alias("n_ips"),
                      F.col("n_ctrl").cast("long").alias("n_ctrl"))


def _pii_redact_sql() -> str:
    from batukh_spark.operators.text import (RE_CTRL, RE_EMAIL, RE_IPV4,
                                             RE_URL)
    return f"""
with aug as (
  select doc_id,
         case when doc_id % 3 = 0 then
           text || ' contact user' || doc_id::varchar
                || '@example.com via https://ex.org/d?id='
                || doc_id::varchar || ' from 10.0.0.1 now'
         else text end as text
  from documents
)
, r1 as (
  select doc_id, text as t0,
         regexp_replace(text, '{RE_URL}', '<URL>', 'g') as t1
  from aug
), r2 as (
  select *, regexp_replace(t1, '{RE_EMAIL}', '<EMAIL>', 'g') as t2
  from r1
), r3 as (
  select *, regexp_replace(t2, '{RE_IPV4}', '<IP>', 'g') as t3
  from r2
)
select doc_id,
       regexp_replace(regexp_replace(t3, '{RE_CTRL}', '', 'g'),
         '[ \\t]{{2,}}', ' ', 'g') as clean_text,
       len(regexp_extract_all(t0, '{RE_URL}')) as n_urls,
       len(regexp_extract_all(t1, '{RE_EMAIL}')) as n_emails,
       len(regexp_extract_all(t2, '{RE_IPV4}')) as n_ips,
       len(regexp_extract_all(t3, '{RE_CTRL}')) as n_ctrl
from r3
"""


PII_REDACT_SQL = _pii_redact_sql()


def decontaminate_q(spark, sf):
    """Benchmark decontamination over a corpus with PLANTED overlap:
    the benchmark is the documents with doc_id % 37 = 0 (verbatim),
    and every doc with doc_id % 11 = 5 additionally gets the first
    13 tokens of doc 0 (a benchmark member) appended — so the oracle
    must flag (a) the benchmark docs themselves (full-text overlap)
    and (b) the planted docs (exactly the planted 13-gram), while
    clean docs stay n_hits = 0."""
    from batukh_spark.operators import decontam
    from batukh_spark.operators.text import tokens_col

    docs = t_spread(spark, sf, "documents")
    plant = docs.filter("doc_id = 0").select(
        F.concat_ws(" ", F.slice(tokens_col("text"), 1, 13))
        .alias("__plant"))
    aug = (docs.crossJoin(F.broadcast(plant))
           .select("doc_id",
                   F.when(F.col("doc_id") % 11 == 5,
                          F.concat(F.col("text"), F.lit(" "),
                                   F.col("__plant")))
                   .otherwise(F.col("text")).alias("text")))
    bench = docs.filter(F.col("doc_id") % 37 == 0).select("text")
    return decontam.decontaminate(aug, bench)


def _grams13_sql() -> str:
    """Distinct 13-token grams of a `tokens` list column (decontam's
    gram family, shared by DECONTAMINATE_SQL and TRAINING_MIX_SQL)."""
    g13 = " || ' ' || ".join(
        ["tokens[i]"] + [f"tokens[i+{j}]" for j in range(1, 13)])
    return (f"case when len(tokens) >= 13 then "
            f"list_distinct(list_transform("
            f"generate_series(1, len(tokens) - 12), i -> {g13})) "
            f"else [] end")


def _decontam_sql() -> str:
    grams = _grams13_sql()
    return rf"""
with plant as (
  select array_to_string(
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '')[1:13], ' ') as p
  from documents where doc_id = 0
), aug as (
  select doc_id,
         case when doc_id % 11 = 5
              then text || ' ' || (select p from plant)
              else text end as text
  from documents
), toks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from aug
), gr as (
  select doc_id, {grams} as grams from toks
), btoks as (
  select list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from documents where doc_id % 37 = 0
), bgr as (
  select distinct g
  from (select unnest({grams}) as g from btoks)
), dg as (
  select doc_id, unnest(grams) as g from gr
), hits as (
  select doc_id, count(*) as n_hits
  from dg join bgr using (g) group by doc_id
)
select d.doc_id,
       coalesce(h.n_hits, 0) > 0 as contaminated,
       coalesce(h.n_hits, 0)::bigint as n_hits
from documents d left join hits h using (doc_id)
"""


DECONTAMINATE_SQL = _decontam_sql()


def _decontam_aug_bench(spark, sf):
    """The shared planted-contamination fixture of the decontam query
    family: (augmented docs, benchmark) — benchmark = doc_id % 37 = 0
    verbatim, docs with doc_id % 11 = 5 get the first 13 tokens of
    doc 0 (a benchmark member) appended."""
    from batukh_spark.operators.text import tokens_col
    docs = t_spread(spark, sf, "documents")
    plant = docs.filter("doc_id = 0").select(
        F.concat_ws(" ", F.slice(tokens_col("text"), 1, 13))
        .alias("__plant"))
    aug = (docs.crossJoin(F.broadcast(plant))
           .select("doc_id",
                   F.when(F.col("doc_id") % 11 == 5,
                          F.concat(F.col("text"), F.lit(" "),
                                   F.col("__plant")))
                   .otherwise(F.col("text")).alias("text")))
    bench = docs.filter(F.col("doc_id") % 37 == 0).select("text")
    return aug, bench


def decontaminate_spans_q(spark, sf):
    """Passage-level decontamination over the same planted fixture as
    `decontaminate`: the oracle must reproduce the exact merged
    token-space spans — benchmark members collapse to one full-doc
    span (every gram hits), planted docs get exactly the appended
    slice's span (merged across the straddle when the doc is also a
    benchmark member), clean docs emit nothing."""
    from batukh_spark.operators import decontam
    aug, bench = _decontam_aug_bench(spark, sf)
    return decontam.decontaminate_spans(aug, bench)


def cut_contaminated_q(spark, sf):
    """Span excision instead of doc drop: contaminated token spans are
    cut and the kept tokens re-join; clean docs pass through with
    their original text byte-identical."""
    from batukh_spark.operators import decontam
    aug, bench = _decontam_aug_bench(spark, sf)
    return decontam.cut_contaminated(aug, bench)


def _grams13_pos_sql() -> str:
    """Positioned (non-distinct) 13-token grams of a `tokens` list
    column: list of {p: 1-based token position, g: gram string}."""
    g13 = " || ' ' || ".join(
        ["tokens[i]"] + [f"tokens[i+{j}]" for j in range(1, 13)])
    return (f"case when len(tokens) >= 13 then "
            f"list_transform(generate_series(1, len(tokens) - 12), "
            f"i -> struct_pack(p := i, g := {g13})) "
            f"else [] end")


_DECONTAM_SPANS_CTE = rf"""
with plant as (
  select array_to_string(
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '')[1:13], ' ') as p
  from documents where doc_id = 0
), aug as (
  select doc_id,
         case when doc_id % 11 = 5
              then text || ' ' || (select p from plant)
              else text end as text
  from documents
), toks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from aug
), btoks as (
  select list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from documents where doc_id % 37 = 0
), bgr as (
  select distinct g
  from (select unnest({_grams13_sql()}) as g from btoks)
), pg as (
  select doc_id, unnest({_grams13_pos_sql()}) as u from toks
), hp as (
  select p.doc_id, p.u.p as pos
  from pg p join bgr b on p.u.g = b.g
), st as (
  select doc_id, pos,
         max(pos + 13) over (partition by doc_id order by pos
                             rows between unbounded preceding
                             and 1 preceding) as prev_end
  from hp
), grps as (
  select doc_id, pos,
         sum(case when prev_end is null or pos > prev_end
                  then 1 else 0 end)
           over (partition by doc_id order by pos
                 rows unbounded preceding) as grp
  from st
), spans as (
  select doc_id, min(pos)::bigint as tok_start,
         (max(pos) + 13)::bigint as tok_end,
         count(*)::bigint as n_hits
  from grps group by doc_id, grp
)"""

DECONTAMINATE_SPANS_SQL = _DECONTAM_SPANS_CTE + """
select doc_id, tok_start, tok_end, n_hits from spans
"""

CUT_CONTAMINATED_SQL = _DECONTAM_SPANS_CTE + r"""
, tkr as (
  select doc_id, text,
         list_filter(regexp_split_to_array(text, '\s+'),
                     x -> x <> '') as rw
  from aug
), wsp as (
  select doc_id, tok_start, tok_end,
         lag(tok_end, 1, 1) over (partition by doc_id
                                  order by tok_start) as prev_end
  from spans
), agg as (
  select w.doc_id,
         flatten(list(t.rw[w.prev_end::int : (w.tok_start - 1)::int]
                      order by w.tok_start)) as midtk,
         max(w.tok_end) as last_end
  from wsp w join tkr t using (doc_id) group by w.doc_id
), res as (
  select t.doc_id,
         case when a.doc_id is null then t.text
              else coalesce(array_to_string(
                     a.midtk || t.rw[a.last_end::int : len(t.rw)], ' '),
                     '')
         end as clean_text,
         case when a.doc_id is null then 0
              else len(t.rw) - len(a.midtk)
                   - len(t.rw[a.last_end::int : len(t.rw)])
         end as ncut
  from tkr t left join agg a using (doc_id)
)
select doc_id, clean_text, ncut::bigint as n_cut_tokens from res
"""


def split_leakage_q(spark, sf):
    """Cross-split leakage audit with PLANTED overlap: documents get a
    doc_id-keyed train/val/test assignment (same weights/salt as
    train_val_split), docs with doc_id % 7 = 3 get the first 13
    tokens of doc 0 appended, and split_leakage must flag exactly the
    non-train docs sharing a 13-gram with the train side — the
    planted docs (and doc 0 itself, if the hash put it outside
    train), while clean val/test docs stay n_hits = 0."""
    from batukh_spark.operators import decontam
    from batukh_spark.operators.sampling import split_assign
    from batukh_spark.operators.text import tokens_col

    docs = t_spread(spark, sf, "documents")
    plant = docs.filter("doc_id = 0").select(
        F.concat_ws(" ", F.slice(tokens_col("text"), 1, 13))
        .alias("__plant"))
    aug = (docs.crossJoin(F.broadcast(plant))
           .select("doc_id",
                   F.when(F.col("doc_id") % 7 == 3,
                          F.concat(F.col("text"), F.lit(" "),
                                   F.col("__plant")))
                   .otherwise(F.col("text")).alias("text")))
    rows = split_assign(aug, _SPLIT_WEIGHTS, key_col="doc_id",
                        salt="split1")
    return decontam.split_leakage(rows)


def _split_leakage_sql() -> str:
    grams = _grams13_sql()
    return rf"""
with plant as (
  select array_to_string(
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '')[1:13], ' ') as p
  from documents where doc_id = 0
), aug as (
  select doc_id,
         case when doc_id % 7 = 3
              then text || ' ' || (select p from plant)
              else text end as text
  from documents
), sp as (
  select doc_id, text,
         {_split_case_sql("doc_id", _SPLIT_WEIGHTS, "split1")} as split
  from aug
), toks as (
  select doc_id, split,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from sp
), gr as (
  select doc_id, split, {grams} as grams from toks
), tg as (
  select distinct g
  from (select unnest(grams) as g from gr where split = 'train')
), eg as (
  select doc_id, split, unnest(grams) as g
  from gr where split <> 'train'
), hits as (
  select doc_id, split, count(*) as n_hits
  from eg join tg using (g) group by doc_id, split
)
select s.doc_id, s.split,
       coalesce(h.n_hits, 0) > 0 as leaked,
       coalesce(h.n_hits, 0)::bigint as n_hits
from sp s left join hits h using (doc_id, split)
where s.split <> 'train'
"""
# NOTE: SPLIT_LEAKAGE_SQL is materialized after _split_case_sql /
# _SPLIT_WEIGHTS are defined (they live beside train_val_split below).


def duplicated_passages_q(spark, sf):
    """Passage-level dedup remediation: char spans of text shared
    across documents (winnowing fingerprints with positions ->
    df-gated shared set -> merged per-doc spans)."""
    from batukh_spark.operators.textstats import duplicated_passage_spans
    docs = t_spread(spark, sf, "documents")
    return duplicated_passage_spans(docs).select(
        "doc_id", "span_start", "span_end",
        F.col("n_fps").cast("long").alias("n_fps"))


def passage_excision_q(spark, sf):
    """Excise the shared-passage spans: every duplicated passage is
    cut from the doc text; untouched docs pass through."""
    from batukh_spark.operators.textstats import cut_passages
    docs = t_spread(spark, sf, "documents")
    return cut_passages(docs)


# winnowing-with-positions span pipeline (shared by the spans query and
# the excision query): k=8 char grams, w=4 windows, shared df in [2,5]
_PASSAGE_SPANS_CTE = r"""
with gl as (
  select doc_id,
         list_transform(generate_series(1, greatest(length(text) - 7, 0)),
                        i -> md5(substring(text, i, 8))) as grams
  from documents
), fpl as (
  select doc_id,
    case when len(grams) >= 4 then
      list_transform(generate_series(1, len(grams) - 3),
        j -> {'fp': list_min(grams[j:j+3]),
              'pos': j - 1 + list_position(grams[j:j+3],
                                           list_min(grams[j:j+3]))})
    when len(grams) >= 1 then
      list_transform(generate_series(1, len(grams)),
        i -> {'fp': grams[i], 'pos': i})
    else [] end as fps
  from gl
), hit0 as (
  select distinct doc_id, s.fp as fp, s.pos as pos
  from fpl, unnest(fps) as u(s)
), sharing as (
  select fp from (select distinct doc_id, fp from hit0)
  group by fp having count(*) between 2 and 5
), hits as (
  select h.doc_id, h.pos from hit0 h join sharing using (fp)
), flag as (
  select doc_id, pos,
    case when pos > coalesce(max(pos + 8) over (
           partition by doc_id order by pos
           rows between unbounded preceding and 1 preceding), -1)
         then 1 else 0 end as newg
  from hits
), grp as (
  select doc_id, pos, sum(newg) over (
    partition by doc_id order by pos
    rows between unbounded preceding and current row) as g
  from flag
), spans as (
  select doc_id, min(pos)::bigint as span_start,
         (max(pos) + 8)::bigint as span_end, count(*) as n_fps
  from grp group by doc_id, g
)
"""

DUPLICATED_PASSAGES_SQL = _PASSAGE_SPANS_CTE + """
select doc_id, span_start, span_end, n_fps from spans
"""

PASSAGE_EXCISION_SQL = _PASSAGE_SPANS_CTE + r"""
, wsp as (
  select doc_id, span_start, span_end,
         lag(span_end, 1, 1) over (partition by doc_id
                                   order by span_start) as prev_end
  from spans
), agg as (
  select s.doc_id,
         string_agg(substring(d.text, s.prev_end::int,
                              (s.span_start - s.prev_end)::int),
                    '' order by s.span_start) as mid,
         max(s.span_end) as last_end
  from wsp s join documents d using (doc_id)
  group by s.doc_id
), res as (
  select d.doc_id,
         case when a.doc_id is null then d.text
              else coalesce(a.mid, '') ||
                   substring(d.text, a.last_end::int,
                             greatest(length(d.text) - a.last_end + 1,
                                      0)::int)
         end as clean_text,
         d.text as orig
  from documents d left join agg a using (doc_id)
)
select doc_id, clean_text,
       (length(orig) - length(clean_text))::bigint as n_cut_chars
from res
"""


def training_mix_q(spark, sf):
    """CAPSTONE — the composed training-mix pipeline as ONE chained
    DataFrame job: kernel HTML extraction over templated payloads ->
    keep_set dedup (with planted exact twins, as corpus_keep_set) ->
    benchmark decontamination (13-gram overlap vs an eval slice of the
    corpus, doc_id % 40 = 7 — those docs are fully contaminated and
    must drop) -> quality >= 0.45 & language gate -> deterministic
    stratified sampling (en 0.5, default 0.25) -> 64/8 context-window
    chunking.  Every stage is an already-verified operator; the DuckDB
    oracle composes their CTEs, with the extraction stage's closed
    form (EXTRACT_TRANSCRIPTS_SQL html turn) standing in for the
    kernel."""
    from batukh_spark import kernels
    from batukh_spark.mix import training_mix

    docs = t_spread(spark, sf, "documents")
    pages = docs.select(
        F.concat(F.lit("c"), F.col("doc_id").cast("string"))
        .alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        _html_payload_col().alias("text"),
        F.lit(None).cast("string").alias("tool"))
    out = kernels.extract_turns(pages)
    extracted = out.select(
        F.expr("cast(substr(conv_id, 2) as bigint)").alias("doc_id"),
        F.col("extracted_text").alias("text"))
    twins = extracted.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    # the mix traverses the corpus once per stage family (keep_set,
    # the gated join, the benchmark slice) — materialize the extraction
    # so the kernel runs once, not once per downstream branch
    corpus = materialize(extracted.unionByName(twins),
                         "queries.training_mix:corpus")
    # eval benchmark = a slice of the corpus itself (doc_id % 40 = 7,
    # originals only) -> those docs are full-overlap contaminated and
    # must be dropped by the decontamination stage before sampling
    bench = corpus.filter((F.col("doc_id") % 40 == 7)
                          & (F.col("doc_id") < 1000000)).select("text")
    mixed = training_mix(corpus, rates={"en": 0.5}, default_rate=0.25,
                         benchmark=bench)
    return mixed.select("doc_id", "chunk_idx", "n_tokens", "chunk_text",
                        "pred_lang", "quality")
# (K3/K5 html tokenize+classify+assemble, K6/K9 XY-cut + reading order,
# K4 tool blocks, S4/Q8 canonicalization+assembly).  The payload for each
# turn is a deterministic pure-SQL function of the documents table, so the
# EXPECTED extraction is a closed form DuckDB can compute exactly; the
# Spark side runs the actual frozen-oracle kernel (no shortcuts).

_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _html_payload_col():
    """Templated HTML page: nav chrome + heading + content + footer.
    Escaped so the tokenizer decodes back to the original text."""
    esc = F.replace(F.col("text"), F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    return F.concat(
        F.lit('<html><body><nav><a href="/">Home</a> '
              '<a href="/a">About</a></nav><h1>Doc '),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), esc,
        F.lit('</p><footer><a href="/">links</a> '
              '<a href="/x">more</a></footer></body></html>'))


def _pdf_grid_payload_col():
    """Single-page PDF-layout JSON: word i of the canonical text at
    column i%8, row i//8 — x-gaps (10) below XY_COL_GAP, row gaps (20)
    above XY_ROW_GAP, so XY-cut yields exactly ceil(nw/8) lines of 8
    words in reading order."""
    canon = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    words = F.filter(F.split(canon, " "), lambda w: w != F.lit(""))
    toks = F.transform(words, lambda w, i: F.struct(
        w.alias("t"),
        ((i % 8) * 30.0).alias("x0"),
        (F.floor(i / 8) * 30.0).cast("double").alias("y0"),
        ((i % 8) * 30.0 + 20.0).alias("x1"),
        (F.floor(i / 8) * 30.0 + 10.0).cast("double").alias("y1"),
        F.lit(0).alias("page")))
    return F.to_json(F.struct(F.lit("pdf_layout").alias("kind"),
                              toks.alias("tokens")))


def _plain_tool_payload_col():
    """Plain/tool transcript: prose line + fenced tool-output region.
    '<' and backticks are folded so family detection and fence parsing
    stay deterministic (same folds in the oracle SQL)."""
    canon = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    safe = F.replace(F.replace(canon, F.lit("<"), F.lit("(")),
                     F.lit("`"), F.lit("'"))
    return F.concat(F.lit("RESULT ok\n\n```\n"), safe, F.lit("\n```"))


def extract_transcripts(spark, sf):
    """Flagship: the fused extraction kernel over deterministic 3-turn
    conversations templated from `documents` — turn 0 html (chrome
    suppression + heading gating), turn 1 pdf_layout (XY-cut grid), turn
    2 plain+tool (fenced tool block kept for role='tool').  Full DuckDB
    oracle: every value is a closed form of the document text."""
    from batukh_spark import kernels

    docs = t_spread(spark, sf, "documents")
    conv = F.concat(F.lit("c"), F.col("doc_id").cast("string"))
    html_t = docs.select(conv.alias("conv_id"), F.lit(0).alias("turn_idx"),
                         F.lit("user").alias("role"),
                         _html_payload_col().alias("text"),
                         F.lit(None).cast("string").alias("tool"))
    pdf_t = docs.select(conv.alias("conv_id"), F.lit(1).alias("turn_idx"),
                        F.lit("assistant").alias("role"),
                        _pdf_grid_payload_col().alias("text"),
                        F.lit(None).cast("string").alias("tool"))
    tool_t = docs.select(conv.alias("conv_id"), F.lit(2).alias("turn_idx"),
                         F.lit("tool").alias("role"),
                         _plain_tool_payload_col().alias("text"),
                         F.lit("search").alias("tool"))
    df = html_t.unionByName(pdf_t).unionByName(tool_t)
    out = kernels.extract_turns(df)
    return out.select("conv_id", "turn_idx", "role", "family",
                      F.col("n_blocks").cast("long").alias("n_blocks"),
                      F.col("n_kept").cast("long").alias("n_kept"),
                      "extracted_text")


def _extracted_turns(spark, sf, name: str) -> DataFrame:
    """The flagship turns (conv_id, turn_idx, role, extracted_text),
    materialized as `name`: every caller reads them more than once, and
    the opaque mapInArrow defeats subtree reuse, so the barrier runs
    the kernel once instead of once per consumer."""
    return materialize(extract_transcripts(spark, sf).select(
        "conv_id", "turn_idx", "role", "extracted_text"), name)


# shared doc-stats CTE: canonical text + word list/count
_DOCSTATS_CTE = r"""
with s as (
  select doc_id,
         trim(regexp_replace(text, '\s+', ' ', 'g')) as c,
         list_filter(regexp_split_to_array(
           trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
           x -> x <> '') as w
  from documents
), st as (
  select doc_id, c, w, len(w) as nw from s
)
"""

EXTRACT_TRANSCRIPTS_SQL = _DOCSTATS_CTE + """
select 'c' || doc_id as conv_id, 0 as turn_idx, 'user' as role,
       'html' as family,
       (3 + case when c <> '' then 1 else 0 end)::bigint as n_blocks,
       (case when nw >= 5 then 2 else 0 end)::bigint as n_kept,
       case when nw >= 5 then 'Doc ' || doc_id || chr(10) || c
            else '' end as extracted_text
from st
union all
select 'c' || doc_id, 1, 'assistant', 'pdf_layout',
       ceil(nw / 8.0)::bigint,
       ceil(nw / 8.0)::bigint,
       array_to_string(
         list_transform(generate_series(1, ceil(nw / 8.0)::int),
           i -> array_to_string(w[(i-1)*8+1 : least(i*8, nw)], ' ')),
         chr(10))
from st
union all
select 'c' || doc_id, 2, 'tool', 'plain',
       (1 + case when c <> '' then 1 else 0 end)::bigint,
       (1 + case when c <> '' then 1 else 0 end)::bigint,
       case when c <> '' then 'RESULT ok' || chr(10)
                 || replace(replace(c, '<', '('), '`', chr(39))
            else 'RESULT ok' end
from st
"""


def html_block_kinds(spark, sf):
    """K3/K5/K7: block tokenize+classify histogram over the templated
    HTML payloads — (kind, keep) counts with a closed-form oracle."""
    from batukh_spark import kernels
    docs = t_spread(spark, sf, "documents")
    blocks = docs.select(_html_payload_col().alias("text")) \
        .select(kernels.html_blocks_udf("text").alias("blocks"))
    return (blocks.select(F.explode("blocks").alias("b"))
            .groupBy(F.col("b.kind").alias("kind"),
                     F.col("b.keep").alias("keep"))
            .agg(F.count(F.lit(1)).alias("n")))


HTML_BLOCK_KINDS_SQL = _DOCSTATS_CTE + """
, per_doc as (
  select doc_id, nw, c <> '' as has_p from st
), rows_out as (
  select 'boilerplate' as kind, false as keep,
         2 * count(*) + count(*) filter (has_p and nw < 5) as n
  from per_doc
  union all
  select 'heading', true, count(*) filter (nw >= 5) from per_doc
  union all
  select 'heading', false, count(*) filter (nw < 5) from per_doc
  union all
  select 'content', true, count(*) filter (nw >= 5) from per_doc
)
select kind, keep, n::bigint as n from rows_out where n > 0
"""


def pdf_xycut_lines(spark, sf):
    """K6/K9: XY-cut over a 2-page, 2-column layout with running
    header/footer — exercises column-major reading order AND repeated
    header/footer suppression, with a closed-form oracle.

    Geometry per page: header 'Page N' (top band, digit-folded repeat),
    3 rows x 2 words in a left column, same in a right column (gutter
    150 >= XY_COL_GAP so columns split before rows), footer 'endnote'
    (bottom band, repeated).  Body words are letter-only (digit folding
    can't alias them) and unique per page (no false suppression)."""
    from batukh_spark import kernels

    docs = t_spread(spark, sf, "documents")
    dl = F.substring(F.lit(_ALPHA),
                     (F.col("doc_id") % 26).cast("int") + 1, 1)

    def letter(i: int):
        return _ALPHA[i]

    toks = []

    def tok(t, x0, y0, page):
        toks.append(F.struct(
            t.alias("t") if hasattr(t, "alias")
            else F.lit(t).alias("t"),
            F.lit(float(x0)).alias("x0"), F.lit(float(y0)).alias("y0"),
            F.lit(float(x0 + 20)).alias("x1"),
            F.lit(float(y0 + 10)).alias("y1"),
            F.lit(page).alias("page")))

    for p in range(2):
        tok("Page", 0, 0, p)
        tok(str(p + 1), 30, 0, p)
        for s in range(2):           # 0 = left column, 1 = right column
            for r in range(3):
                for c in range(2):
                    word = F.concat(
                        F.lit("z" + letter(p) + letter(r)
                              + letter(2 * s + c)), dl)
                    tok(word, (200 if s else 0) + c * 30, 40 + 30 * r, p)
        tok("endnote", 0, 140, p)

    payload = F.to_json(F.struct(F.lit("pdf_layout").alias("kind"),
                                 F.array(*toks).alias("tokens")))
    df = docs.select(F.col("doc_id"), payload.alias("text"),
                     F.lit("assistant").alias("role"),
                     F.lit(None).cast("string").alias("tool"))
    out = kernels.extract_turns(df)
    return out.select("doc_id",
                      F.col("n_kept").cast("long").alias("n_lines"),
                      "extracted_text")


PDF_XYCUT_SQL = """
with d as (
  select doc_id,
         substr('abcdefghijklmnopqrstuvwxyz', (doc_id % 26)::int + 1, 1)
           as dl
  from documents
)
select doc_id, 12::bigint as n_lines,
       array_to_string(
         list_transform(generate_series(0, 11), i ->
           'z' || substr('abcdefghijklmnopqrstuvwxyz', (i // 6) + 1, 1)
               || substr('abcdefghijklmnopqrstuvwxyz', (i % 3) + 1, 1)
               || substr('abcdefghijklmnopqrstuvwxyz',
                         2 * ((i % 6) // 3) + 1, 1) || dl
           || ' ' ||
           'z' || substr('abcdefghijklmnopqrstuvwxyz', (i // 6) + 1, 1)
               || substr('abcdefghijklmnopqrstuvwxyz', (i % 3) + 1, 1)
               || substr('abcdefghijklmnopqrstuvwxyz',
                         2 * ((i % 6) // 3) + 2, 1) || dl),
         chr(10)) as extracted_text
from d
"""


def _quality_cte(src: str, p: str = "") -> str:
    """{p}qtoks/{p}qparts/{p}qs/{p}qual CTE bodies over `src`(doc_id,
    text) — the quality-score computation of QUALITY_SQL, reduced to
    the columns the SCORE uses (dup_para is a report-only column) and
    parameterized so composed pipelines can gate a derived corpus.
    `{p}qual` = (doc_id, quality) with the same round-4 value."""
    return rf"""{p}qtoks as (
  select doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from {src}
), {p}qparts as (
  select doc_id, tokens,
         list_filter(list_transform(string_split(text, chr(10)),
                                    s -> trim(s)), s -> s <> '') as lines,
         case when len(tokens) >= 2 then
           list_transform(generate_series(1, len(tokens) - 1),
                          i -> tokens[i] || ' ' || tokens[i+1])
         else [] end as bg
  from {p}qtoks
), {p}qs as (
  select doc_id, len(tokens) as n_words,
         case when len(tokens) > 0 then
           list_sum(list_transform(tokens, t -> length(t))) / len(tokens)
         else 0.0 end as mean_word_len,
         case when len(tokens) > 0 then
           len(list_filter(tokens, t -> list_contains(
             ['the','and','of','to','a','in','is','that'], t)))
           / len(tokens)
         else 0.0 end as stop_ratio,
         case when len(lines) > 0 then
           (len(lines) - len(list_distinct(lines))) / len(lines)
         else 0.0 end as dup_line,
         case when len(bg) > 0 then
           list_max(list_transform(list_distinct(bg),
                    b -> len(list_filter(bg, x -> x = b)))) / len(bg)
         else 0.0 end as top_bigram
  from {p}qparts
), {p}qual as (
  select doc_id,
         round(0.3 * least(n_words / 100.0, 1.0)
               + 0.15 * case when stop_ratio >= 0.01 and stop_ratio <= 0.6
                        then 1.0 else 0.0 end
               + 0.15 * case when mean_word_len >= 3.0
                                  and mean_word_len <= 12.0
                        then 1.0 else 0.0 end
               + 0.2 * case when dup_line <= 0.30 then 1.0 else 0.0 end
               + 0.2 * case when top_bigram <= 0.20 then 1.0 else 0.0 end,
               4) as quality
  from {p}qs
)"""


# the composed training-mix CTE chain: extraction closed form (html turn
# of EXTRACT_TRANSCRIPTS_SQL) -> keep_set verdict (CORPUS_KEEP_SET_SQL
# CTEs) -> decontamination -> quality + language gate -> deterministic
# sample -> chunking.  Shared by TRAINING_MIX_SQL (chunk rows) and
# TRAINING_BATCHES_SQL (packed 256-token training rows).
_TRAINING_MIX_CTES = (
    _DOCSTATS_CTE.replace("with s as", "with recursive s as", 1)
    + f""", ext0 as (
  select doc_id,
         case when nw >= 5 then 'Doc ' || doc_id || chr(10) || c
              else '' end as text
  from st
), docs as (
  select doc_id, text from ext0
  union all
  select doc_id + 1000000, text from ext0 where doc_id % 25 = 0
), {_lsh_chain_sql("docs")}
, edges as (
  select id_a as src, id_b as dst from cand
  union
  select id_b, id_a from cand
), reach(id, lab) as (
  select src, src from edges
  union
  select e.src, r.lab from edges e join reach r on r.id = e.dst
), clusters as (
  select id as doc_id, min(lab) as cluster_id from reach group by id
), hashes as (
  select doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           as text_hash
  from docs
), exact as (
  select text_hash, min(doc_id) as keep_id from hashes group by 1
), verdict as (
  select h.doc_id,
         case when h.doc_id <> e.keep_id then 'exact_dup'
              when c.cluster_id is not null and h.doc_id <> c.cluster_id
                   then 'near_dup'
              else 'unique' end as reason
  from hashes h
  join exact e using (text_hash)
  left join clusters c using (doc_id)
), kept as (
  select d.doc_id, d.text from docs d
  join verdict v using (doc_id) where v.reason = 'unique'
), btoks as (
  select list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') as tokens
  from docs where doc_id % 40 = 7 and doc_id < 1000000
), bgr as (
  select distinct g from (select unnest({_grams13_sql()}) as g from btoks)
), ktoks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') as tokens
  from kept
), kgr as (
  select doc_id, {_grams13_sql()} as grams from ktoks
), khits as (
  select distinct doc_id
  from (select doc_id, unnest(grams) as g from kgr) join bgr using (g)
), clean as (
  select * from kept where doc_id not in (select doc_id from khits)
), {_quality_cte("clean")}, {_lang_cte("clean")}
, gated as (
  select k.doc_id, k.text, q.quality, l.pred_lang
  from clean k join qual q using (doc_id) join lpred l using (doc_id)
  where q.quality >= 0.45 and l.pred_lang is not null
), sampled as (
  select * from gated
  where substr(md5('mix1:' || doc_id::varchar), 1, 4) <
        case pred_lang when 'en' then '8000' else '4000' end
), {_chunk_sql("sampled")}""")

TRAINING_MIX_SQL = _TRAINING_MIX_CTES + """
select ch.doc_id, ch.chunk_idx, ch.n_tokens, ch.chunk_text,
       s2.pred_lang, s2.quality
from chunks ch join sampled s2 using (doc_id)
"""


def training_batches_q(spark, sf):
    """FULL-PATH capstone: the training_mix pipeline (extraction ->
    dedup -> decontamination -> quality/lang gate -> stratified sample
    -> chunking) packed concat-and-split into materialized 256-token
    training rows — the artifact a pretraining dataloader actually
    reads.  Packing order is the deterministic (doc_id, chunk_idx)
    total order, so the result is invariant to partitioning."""
    from batukh_spark.operators.text import assemble_sequences
    mixed = training_mix_q(spark, sf)
    return assemble_sequences(mixed, seq_len=256)


TRAINING_BATCHES_SQL = _TRAINING_MIX_CTES + """
, g as (
  select doc_id, chunk_idx, n_tokens, chunk_text,
         coalesce(sum(n_tokens) over (
           order by doc_id, chunk_idx
           rows between unbounded preceding and 1 preceding),
           0)::bigint as gstart
  from chunks where n_tokens > 0
), pieces as (
  select doc_id, chunk_idx, chunk_text, s::bigint as seq_id,
         (greatest(gstart, s * 256) - gstart)::bigint as tok_begin,
         (least(gstart + n_tokens, (s + 1) * 256) - gstart)::bigint
           as tok_end,
         (greatest(gstart, s * 256) - s * 256)::bigint as seq_pos
  from g, unnest(generate_series(gstart // 256,
                                 (gstart + n_tokens - 1) // 256)) as t(s)
)
select seq_id,
       sum(tok_end - tok_begin)::bigint as n_tokens,
       string_agg(array_to_string(
         (string_split(chunk_text, ' '))[tok_begin+1 : tok_end], ' '),
         ' ' order by seq_pos) as seq_text
from pieces
group by seq_id
"""


# ---------------------------------------------------------------------------
# registry

def epoch_order_q(spark, sf):
    """Deterministic epoch-7 training order over the packed training
    sequences: a dense global rank in per-epoch md5 order
    (operators/text.py epoch_order — distributed prefix rank, math on
    ids only, payload joined back by key).  The oracle composes the
    packing CTE with row_number() over the same md5 order."""
    from batukh_spark.operators.text import (chunk_documents,
                                             epoch_order,
                                             pack_sequences)
    chunks = chunk_documents(t_spread(spark, sf, "documents"),
                             max_tokens=64, overlap=8)
    # materialize: seqs feeds BOTH the rank computation and the
    # final join base — without it the pieces Generate + groupBy
    # subtree re-executes per consumer (plan-verified)
    seqs = materialize(pack_sequences(chunks, seq_len=256)
                       .groupBy("seq_id")
                       .agg(F.sum(F.col("tok_end") - F.col("tok_begin"))
                            .cast("long").alias("n_tokens")),
                       "queries.epoch_order:seqs")
    ranks = epoch_order(seqs, epoch=7)
    return seqs.join(ranks, "seq_id").select(
        "seq_id", "n_tokens", "epoch_rank")


EPOCH_ORDER_SQL = ("with " + _chunk_sql("documents")
                   + _PACK_PIECES_CTE) + """
, seqs as (
  select seq_id, sum(tok_end - tok_begin)::bigint as n_tokens
  from pieces group by seq_id
)
select seq_id, n_tokens,
       (row_number() over (
          order by md5('epoch7:' || seq_id::varchar), seq_id)
        - 1)::bigint as epoch_rank
from seqs
"""


def unigram_logprob_q(spark, sf):
    """Corpus-unigram log-likelihood (CCNet-style perplexity proxy) in
    integer micro-nats — per-token terms quantized before summation so
    the score is bit-identical across engines and partitionings
    (operators/textstats.py unigram_logprob)."""
    return textstats.unigram_logprob(t_spread(spark, sf, "documents"))


UNIGRAM_LOGPROB_SQL = r"""
with toks as (
  select doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) as token
  from documents
), v as (
  select token, count(*)::bigint as c from toks group by token
), tot as (
  select sum(c)::bigint as n from v
), d as (
  select t.doc_id, count(*)::bigint as n_tokens,
         sum(round(ln(v.c) * 1000000)::bigint)::bigint as slq
  from toks t join v using (token) group by t.doc_id
)
select doc.doc_id,
       coalesce(d.n_tokens, 0)::bigint as n_tokens,
       coalesce(d.slq - d.n_tokens *
                (select round(ln(n) * 1000000)::bigint from tot),
                0)::bigint as logprob_micro
from documents doc left join d on doc.doc_id = d.doc_id
"""


_GREETING = "Hello! How can I help you today?"


def boilerplate_turns_q(spark, sf):
    """Cross-conversation boilerplate turns: the flagship extraction's
    turns plus a planted canned greeting on every third conversation;
    a turn repeated verbatim in >= 3 distinct conversations is flagged
    (operators/conversations.py boilerplate_turns — md5-keyed distinct
    count, text never shuffles)."""
    from batukh_spark.operators.conversations import boilerplate_turns
    docs = t_spread(spark, sf, "documents")
    turns = extract_transcripts(spark, sf).select(
        "conv_id", "turn_idx", "extracted_text")
    greet = docs.filter((F.col("doc_id") % 3) == 0).select(
        F.concat(F.lit("c"), F.col("doc_id").cast("string"))
        .alias("conv_id"),
        F.lit(3).alias("turn_idx"),
        F.lit(_GREETING).alias("extracted_text"))
    # materialize: the turns feed BOTH the stats aggregation and
    # the flag join — without the barrier the extraction kernel would
    # re-run once per consumer (the training_mix re-traversal lesson)
    allt = materialize(turns.unionByName(greet),
                       "queries.boilerplate_turns:turns")
    return boilerplate_turns(allt, min_convs=3).select(
        "conv_id", "turn_idx", "n_convs", "is_boilerplate")


BOILERPLATE_TURNS_SQL = (
    "with base as (" + EXTRACT_TRANSCRIPTS_SQL + """)
, tt as (
  select conv_id, turn_idx, extracted_text from base
  union all
  select 'c' || doc_id, 3, '""" + _GREETING + """'
  from documents where doc_id % 3 = 0
), s as (
  select extracted_text, count(distinct conv_id) as n_convs
  from tt group by extracted_text
)
select tt.conv_id, tt.turn_idx, s.n_convs::bigint as n_convs,
       s.n_convs >= 3 as is_boilerplate
from tt join s using (extracted_text)
""")


def conversation_docs_q(spark, sf):
    """Conversation assembly: the flagship extraction's per-turn output
    re-serialized into one role-tagged training document per
    conversation (operators/conversations.py) — the bridge from the
    turn-level pipeline to every document-level corpus operator.  The
    oracle composes string_agg(.. ORDER BY turn_idx) over the same
    closed-form extracted texts."""
    from batukh_spark.operators.conversations import assemble_conversations
    return assemble_conversations(extract_transcripts(spark, sf))


CONVERSATION_DOCS_SQL = (
    "with base as (" + EXTRACT_TRANSCRIPTS_SQL + """)
select conv_id, n_turns, strlen(doc_text)::bigint as n_bytes, doc_text
from (
  select conv_id, count(*)::bigint as n_turns,
         string_agg('<|' || role || '|>' || chr(10) || extracted_text,
                    chr(10) || chr(10) order by turn_idx) as doc_text
  from base group by conv_id
)
""")


def repetition_loops_q(spark, sf):
    """Stuck-agent loop detection: every turn with an earlier same-role
    turn in its conversation is scored by 3-word-shingle Jaccard
    against that predecessor (operators/conversations.repetition_loops
    — staged shingle columns, (conv, role)-keyed lag window, codegen
    intersect/union; no self-join).  Planted loops: doc_id%13==0
    conversations get a verbatim copy of their assistant turn
    (jaccard 1.0), doc_id%17==0 a copy with appended tail tokens
    (partial overlap); the base 3-turn conversations have no same-role
    adjacency, so every output row is a planted comparison."""
    from batukh_spark.operators.conversations import repetition_loops
    ext = _extracted_turns(spark, sf, "queries.repetition_loops:ext")
    num = F.substring("conv_id", 2, 100).cast("long")
    asst = ext.filter(F.col("turn_idx") == 1)
    dup = asst.filter(num % 13 == 0).select(
        "conv_id", F.lit(3).alias("turn_idx"), "role", "extracted_text")
    part = asst.filter(num % 17 == 0).select(
        "conv_id", F.lit(4).alias("turn_idx"), "role",
        F.concat("extracted_text",
                 F.lit(" circling back to the same plan again"))
        .alias("extracted_text"))
    # non-loop control: a same-role successor with unrelated content
    # (every turn family of one conv shares the SAME document words,
    # so an unrelated fixed sentence is the clean dissimilar case)
    _ctl_text = "let me try a completely different approach to this now"
    ctl = (ext.filter((F.col("turn_idx") == 1) & (num % 19 == 0))
           .select("conv_id", F.lit(5).alias("turn_idx"), "role",
                   F.lit(_ctl_text).alias("extracted_text")))
    return repetition_loops(
        ext.unionByName(dup).unionByName(part).unionByName(ctl))


REPETITION_LOOPS_SQL = (
    "with base as (" + EXTRACT_TRANSCRIPTS_SQL + r""")
, aug as (
  select conv_id, turn_idx, role, extracted_text from base
  union all
  select conv_id, 3, role, extracted_text from base
  where turn_idx = 1 and substring(conv_id, 2)::bigint % 13 = 0
  union all
  select conv_id, 4, role,
         extracted_text || ' circling back to the same plan again'
  from base
  where turn_idx = 1 and substring(conv_id, 2)::bigint % 17 = 0
  union all
  select conv_id, 5, role,
         'let me try a completely different approach to this now'
  from base
  where turn_idx = 1 and substring(conv_id, 2)::bigint % 19 = 0
), tk as (
  select conv_id, turn_idx, role,
         list_filter(regexp_split_to_array(lower(extracted_text),
                                           '\s+'), x -> x <> '') as tokens
  from aug
), sh as (
  select conv_id, turn_idx, role,
         list_distinct(case when len(tokens) >= 3 then
           list_transform(generate_series(1, len(tokens) - 2),
             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])
         else [] end) as sh
  from tk
), lagged as (
  select conv_id, turn_idx, role, sh,
         lag(sh) over (partition by conv_id, role
                       order by turn_idx) as psh
  from sh
)
select conv_id, turn_idx, role,
       round(case when len(sh) + len(psh)
                       - len(list_filter(sh, x -> list_contains(psh, x)))
                  = 0 then 0
             else len(list_filter(sh, x -> list_contains(psh, x)))::double
                  / (len(sh) + len(psh)
                     - len(list_filter(sh, x -> list_contains(psh, x))))
             end, 6) as jaccard_prev,
       round(case when len(sh) + len(psh)
                       - len(list_filter(sh, x -> list_contains(psh, x)))
                  = 0 then 0
             else len(list_filter(sh, x -> list_contains(psh, x)))::double
                  / (len(sh) + len(psh)
                     - len(list_filter(sh, x -> list_contains(psh, x))))
             end, 6) >= 0.5 as is_loop
from lagged where psh is not null
""")


def truncate_conversations_q(spark, sf):
    """Context-window fitting over the flagship turns: keep each
    conversation's opening turn plus the longest recent suffix within
    a 100-token budget (operators/conversations.truncate_conversations
    — one conv-keyed shuffle shared by the min and reverse-running-sum
    windows).  The mixed html/pdf/plain turn lengths make the budget
    bite differently per conversation, so the output carries both kept
    and dropped turns."""
    from batukh_spark.operators.conversations import truncate_conversations
    ext = extract_transcripts(spark, sf).select(
        "conv_id", "turn_idx", "role", "extracted_text")
    return truncate_conversations(ext, max_tokens=100)


TRUNCATE_CONVERSATIONS_SQL = (
    "with base as (" + EXTRACT_TRANSCRIPTS_SQL + r""")
, tk as (
  select conv_id, turn_idx, role,
         len(list_filter(regexp_split_to_array(lower(extracted_text),
                                               '\s+'),
                         x -> x <> ''))::bigint as n_tokens
  from base
), st1 as (
  select *, min(turn_idx) over (partition by conv_id) as first_idx
  from tk
), st2 as (
  select *,
         sum(case when turn_idx = first_idx then 0 else n_tokens end)
           over (partition by conv_id order by turn_idx desc
                 rows between unbounded preceding and current row) as tail,
         max(case when turn_idx = first_idx then n_tokens else 0 end)
           over (partition by conv_id) as ftok
  from st1
)
select conv_id, turn_idx, role, n_tokens,
       case when turn_idx = first_idx then true
            else (tail + ftok) <= 100 end as kept
from st2
""")


def merge_turns_q(spark, sf):
    """Consecutive same-role run collapse with PLANTED runs: the base
    3-turn conversations alternate roles (every run is a singleton),
    conv_id%13==0 conversations gain tool turns 3+4 (a run of three
    with turn 2), conv_id%17==0 gain tool turn 5 — so the oracle must
    produce the same maximal runs, first-turn indices, newline-joined
    texts, and merge counts."""
    from batukh_spark.operators.conversations import merge_consecutive_turns
    ext = _extracted_turns(spark, sf, "queries.merge_turns:ext")
    num = F.substring("conv_id", 2, 100).cast("long")
    t1 = ext.filter(F.col("turn_idx") == 1)
    p3 = t1.filter(num % 13 == 0).select(
        "conv_id", F.lit(3).alias("turn_idx"),
        F.lit("tool").alias("role"), "extracted_text")
    p4 = t1.filter(num % 13 == 0).select(
        "conv_id", F.lit(4).alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.lit("retry output chunk").alias("extracted_text"))
    p5 = t1.filter(num % 17 == 0).select(
        "conv_id", F.lit(5).alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.lit("second flush of the same result").alias("extracted_text"))
    return merge_consecutive_turns(
        ext.unionByName(p3).unionByName(p4).unionByName(p5))


MERGE_TURNS_SQL = (
    "with base as (" + EXTRACT_TRANSCRIPTS_SQL + r""")
, aug as (
  select conv_id, turn_idx, role, extracted_text from base
  union all
  select conv_id, 3, 'tool', extracted_text from base
  where turn_idx = 1 and substring(conv_id, 2)::bigint % 13 = 0
  union all
  select conv_id, 4, 'tool', 'retry output chunk' from base
  where turn_idx = 1 and substring(conv_id, 2)::bigint % 13 = 0
  union all
  select conv_id, 5, 'tool', 'second flush of the same result' from base
  where turn_idx = 1 and substring(conv_id, 2)::bigint % 17 = 0
), lg as (
  select conv_id, turn_idx, role,
         coalesce(extracted_text, '') as t,
         case when lag(role) over w is null
                or lag(role) over w <> role
              then 1 else 0 end as ch
  from aug window w as (partition by conv_id order by turn_idx)
), rn as (
  select *, sum(ch) over (partition by conv_id order by turn_idx
                          rows unbounded preceding) as run
  from lg
)
select conv_id, min(turn_idx) as turn_idx, min(role) as role,
       string_agg(t, chr(10) order by turn_idx) as text,
       count(*)::bigint as n_merged
from rn group by conv_id, run
""")


def transition_latency_q(spark, sf):
    """Per-(event_type -> event_type) latency profile over the events
    stream: n, total seconds, and exact inverse-CDF p50/p90/p99 of the
    integer-second gap (conversations.transition_latency_profile —
    one key shuffle for the lag window, then histogram-first quantiles
    like token_length_profile)."""
    from batukh_spark.operators.conversations import (
        transition_latency_profile)
    ev = t(spark, sf, "events")
    return transition_latency_profile(ev)


TRANSITION_LATENCY_SQL = """
with seq as (
  select user_id, event_type, epoch_us(ts) as us, event_id from events
  where ts is not null and event_id is not null
), lagd as (
  select lag(event_type) over w as prev_type,
         event_type as next_type,
         (us - lag(us) over w) // 1000000 as gap_s
  from seq window w as (partition by user_id order by us, event_id)
), hist as (
  select prev_type, next_type, gap_s, count(*)::bigint as cnt
  from lagd where prev_type is not null
  group by 1, 2, 3
), cum as (
  select prev_type, next_type, gap_s, cnt,
         sum(cnt) over (partition by prev_type, next_type
                        order by gap_s)::bigint as cum,
         sum(cnt) over (partition by prev_type, next_type)::bigint as n,
         sum(gap_s * cnt) over (partition by prev_type,
                                next_type)::bigint as tot
  from hist
)
select prev_type, next_type,
       max(n)::bigint as n_gaps, max(tot)::bigint as total_gap_s,
       min(case when cum * 100 >= n * 50 then gap_s end)::bigint as p50,
       min(case when cum * 100 >= n * 90 then gap_s end)::bigint as p90,
       min(case when cum * 100 >= n * 99 then gap_s end)::bigint as p99
from cum group by 1, 2
"""


def fixed_size_sample_q(spark, sf):
    """Exactly 25 documents per source, deterministically by
    md5(stratum, id) order (sampling.fixed_size_sample — scan-side
    hash-threshold prune keeps ~4k candidates per stratum before the
    exact rank; loud assert if the bound ever undershoots)."""
    from batukh_spark.operators.sampling import fixed_size_sample
    docs = t_spread(spark, sf, "documents")
    return fixed_size_sample(docs, k=25)


FIXED_SIZE_SAMPLE_SQL = """
with h as (
  select doc_id, source,
         md5(chr(31) || source || chr(31) || doc_id::varchar) as hh
  from documents
), r as (
  select doc_id, source,
         row_number() over (partition by source
                            order by hh, doc_id) as rank
  from h
)
select doc_id, source, rank::bigint as rank from r where rank <= 25
"""


def quality_classifier_q(spark, sf):
    """Frozen-weights logistic quality classifier over documents
    (textstats.quality_classifier — GPT-3-style LR corpus filter,
    inference-only like the reference's shipped U-Net weights;
    scan-local integer-exact features, sigmoid rounded to 6)."""
    from batukh_spark.operators.textstats import quality_classifier
    return quality_classifier(t_spread(spark, sf, "documents"))


def _quality_classifier_sql():
    from batukh_spark.operators.textstats import quality_classifier_sql
    return quality_classifier_sql("documents")


def embedding_audit_q(spark, sf):
    """Pre-flight embedding contract audit with PLANTED violations
    (NULL vec on vec_id%23, truncated dim on %29, injected NaN on %31,
    all-zero vector on %37, NULL element on %41) — one row of
    corpus-wide counts (similarity.embedding_audit; scan-local
    conditional aggs)."""
    from batukh_spark.operators.similarity import embedding_audit
    emb = t(spark, sf, "embeddings")
    vid = F.col("vec_id")
    base = emb.select("vec_id", "embedding")
    nulls = (emb.where(vid % 23 == 0)
             .select((vid + 1000000).alias("vec_id"),
                     F.lit(None).cast("array<float>").alias("embedding")))
    short = (emb.where(vid % 29 == 0)
             .select((vid + 2000000).alias("vec_id"),
                     F.slice("embedding", 1, 3).alias("embedding")))
    nans = (emb.where(vid % 31 == 0)
            .select((vid + 3000000).alias("vec_id"),
                    F.concat(F.array(F.lit(float("nan")).cast("float")),
                             F.slice("embedding", 2, 63))
                    .alias("embedding")))
    zeros = (emb.where(vid % 37 == 0)
             .select((vid + 4000000).alias("vec_id"),
                     F.array_repeat(F.lit(0.0).cast("float"), 64)
                     .alias("embedding")))
    nullel = (emb.where(vid % 41 == 0)
              .select((vid + 5000000).alias("vec_id"),
                      F.concat(F.slice("embedding", 1, 4),
                               F.array(F.lit(None).cast("float")),
                               F.slice("embedding", 6, 59))
                      .alias("embedding")))
    planted = (base.unionByName(nulls).unionByName(short)
               .unionByName(nans).unionByName(zeros)
               .unionByName(nullel))
    return embedding_audit(planted, expected_dim=64)


EMBEDDING_AUDIT_SQL = """
with planted as (
  select vec_id, embedding from embeddings
  union all
  select vec_id + 1000000, null::float[] from embeddings
    where vec_id % 23 = 0
  union all
  select vec_id + 2000000, embedding[1:3] from embeddings
    where vec_id % 29 = 0
  union all
  select vec_id + 3000000,
         list_prepend('NaN'::float, embedding[2:64]) from embeddings
    where vec_id % 31 = 0
  union all
  select vec_id + 4000000,
         list_transform(embedding, x -> 0.0::float) from embeddings
    where vec_id % 37 = 0
  union all
  select vec_id + 5000000,
         embedding[1:4] || [null::float] || embedding[6:64]
    from embeddings where vec_id % 41 = 0
), a as (
  select count(*)::bigint as n_rows,
         sum(case when embedding is null then 1 else 0 end)::bigint
           as n_null_vec,
         sum(case when embedding is not null and len(embedding) <> 64
             then 1 else 0 end)::bigint as n_wrong_dim,
         sum(case when embedding is not null and
             len(list_filter(embedding, x -> x is null)) > 0
             then 1 else 0 end)::bigint as n_null_elem,
         sum(case when embedding is not null and
             len(list_filter(embedding,
                             x -> x is not null and isnan(x))) > 0
             then 1 else 0 end)::bigint as n_nan,
         sum(case when embedding is not null and
             len(list_filter(embedding, x -> x is null)) = 0 and
             len(list_filter(embedding, x -> x <> 0.0)) = 0
             then 1 else 0 end)::bigint as n_zero
  from planted
)
select n_rows, n_null_vec, n_wrong_dim, n_null_elem, n_nan, n_zero,
       (n_null_vec = 0 and n_wrong_dim = 0 and n_null_elem = 0
        and n_nan = 0 and n_zero = 0) as ok
from a
"""


def dedup_lines_q(spark, sf):
    """Within-doc duplicate-line removal keeping first occurrences
    (textstats.dedup_lines — scan-local aggregate fold over the staged
    line array, no shuffle).  Documents are augmented with a planted
    repeated-footer twin so the dedup actually fires."""
    from batukh_spark.operators.textstats import dedup_lines
    docs = t_spread(spark, sf, "documents")
    # plant: every doc_id%7==0 doc gets a nav line prepended, repeated
    # mid-text and appended — the classic scraped-chrome artifact
    nav = F.lit("Home | About | Contact")
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(nav, F.lit("\n"),
                        F.coalesce(F.col("text"), F.lit("")),
                        F.lit("\n"), nav, F.lit("\n"), nav))
        .otherwise(F.col("text")).alias("text"))
    return dedup_lines(planted)


DEDUP_LINES_SQL = """
with src as (
  select doc_id,
         case when doc_id % 7 = 0 then
           'Home | About | Contact' || chr(10) || coalesce(text, '')
           || chr(10) || 'Home | About | Contact'
           || chr(10) || 'Home | About | Contact'
         else text end as text
  from documents
), l as (
  select doc_id, string_split(coalesce(text, ''), chr(10)) as lines
  from src
), e as (
  select doc_id, len(lines)::bigint as n_lines,
         unnest(lines) as line, generate_subscripts(lines, 1) as ord
  from l
), firsts as (
  select doc_id, any_value(n_lines) as n_lines, line, min(ord) as ord
  from e group by doc_id, line
)
select doc_id, any_value(n_lines)::bigint as n_lines,
       count(*)::bigint as n_unique,
       coalesce(string_agg(line, chr(10) order by ord), '') as clean_text
from firsts group by doc_id
"""


def contract_audit_q(spark, sf):
    """Pre-flight transcript contract audit over templated 3-turn
    conversations with PLANTED violations (duplicate index on
    doc_id%13, index gap via a stray turn 5 on %17, out-of-domain role
    on %19) — per-conv integrity verdicts
    (conversations.contract_audit; one conditional-agg groupBy)."""
    from batukh_spark.operators.conversations import contract_audit
    d = (t(spark, sf, "documents")
         .select("doc_id",
                 F.concat(F.lit("c"), F.col("doc_id").cast("string"))
                 .alias("conv_id")))

    def mk(pred, idx, role):
        x = d if pred is None else d.where(pred)
        return x.select("conv_id", F.lit(idx).alias("turn_idx"),
                        F.lit(role).alias("role"))

    did = F.col("doc_id")
    turns = (mk(None, 0, "user")
             .unionByName(mk(None, 1, "assistant"))
             .unionByName(mk(None, 2, "tool"))
             .unionByName(mk(did % 13 == 0, 1, "assistant"))
             .unionByName(mk(did % 17 == 0, 5, "user"))
             .unionByName(mk(did % 19 == 0, 3, "sytem")))
    return contract_audit(turns)


CONTRACT_AUDIT_SQL = """
with t as (
  select 'c' || doc_id as conv_id, 0 as turn_idx, 'user' as role
  from documents
  union all select 'c' || doc_id, 1, 'assistant' from documents
  union all select 'c' || doc_id, 2, 'tool' from documents
  union all select 'c' || doc_id, 1, 'assistant' from documents
    where doc_id % 13 = 0
  union all select 'c' || doc_id, 5, 'user' from documents
    where doc_id % 17 = 0
  union all select 'c' || doc_id, 3, 'sytem' from documents
    where doc_id % 19 = 0
), a as (
  select conv_id,
         count(*)::bigint as n_turns,
         count(distinct turn_idx)::bigint as nd,
         sum(case when turn_idx is null then 1 else 0 end)::bigint
           as n_null_idx,
         min(turn_idx)::bigint as min_idx,
         max(turn_idx)::bigint as mx,
         sum(case when role in ('user','assistant','tool','system')
             then 0 else 1 end)::bigint as n_bad_role
  from t group by conv_id
)
select conv_id, n_turns,
       (n_turns - n_null_idx - nd)::bigint as n_dup_idx,
       n_null_idx, min_idx,
       (case when nd > 0 then mx - min_idx + 1 - nd
             else 0 end)::bigint as n_gaps,
       n_bad_role,
       coalesce((n_turns - n_null_idx - nd) = 0 and n_null_idx = 0
                and (case when nd > 0 then mx - min_idx + 1 - nd
                     else 0 end) = 0
                and n_bad_role = 0 and min_idx = 0, false) as ok
from a
"""


def c4_line_clean_q(spark, sf):
    """C4-style line-level cleaning over documents: per-line keep
    rules (word count, terminal punctuation, marker substrings, '{')
    with kept lines rejoined (textstats.c4_line_clean — 100%
    scan-local, staged arrays, no shuffle)."""
    from batukh_spark.operators.textstats import c4_line_clean
    docs = t_spread(spark, sf, "documents")
    return c4_line_clean(docs)


C4_LINE_CLEAN_SQL = """
with l as (
  select doc_id, string_split(coalesce(text, ''), chr(10)) as lines
  from documents
), k as (
  select doc_id, lines,
         list_filter(lines, x ->
           len(list_filter(string_split(x, ' '), w -> w <> '')) >= 3
           and right(rtrim(x), 1) in ('.', '!', '?', '"')
           and instr(x, '{') = 0
           and instr(lower(x), 'javascript') = 0
           and instr(lower(x), 'lorem ipsum') = 0
           and instr(lower(x), 'cookie') = 0) as kept
  from l
)
select doc_id, len(lines)::bigint as n_lines, len(kept)::bigint as n_kept,
       coalesce(array_to_string(kept, chr(10)), '') as clean_text
from k
"""


def key_skew_report_q(spark, sf):
    """Hot-key audit over events.user_id — the top-10 heaviest join
    keys with integer-ppm share (textstats.key_skew_report — one
    partial-agg groupBy + TakeOrderedAndProject, broadcast total)."""
    from batukh_spark.operators.textstats import key_skew_report
    ev = t(spark, sf, "events")
    return key_skew_report(ev, "user_id", top=10)


KEY_SKEW_REPORT_SQL = """
with c as (
  select user_id, count(*)::bigint as n_rows from events group by user_id
), t as (select sum(n_rows) as tot from c)
select user_id, n_rows,
       ((n_rows * 1000000) // tot)::bigint as row_ppm
from c, t
order by n_rows desc, user_id asc limit 10
"""


def mix_report_q(spark, sf):
    """Corpus composition ROLLUP over (source, lang): per-group,
    per-source-subtotal, and grand-total doc/token counts with
    integer-ppm token shares (textstats.mix_report — one corpus scan,
    broadcast grand total)."""
    from batukh_spark.operators.textstats import mix_report
    docs = t_spread(spark, sf, "documents")
    return mix_report(docs)


MIX_REPORT_SQL = r"""
with tok as (
  select source, lang,
         len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> ''))::bigint as t
  from documents
), agg as (
  select source, lang, count(*)::bigint as n_docs,
         sum(t)::bigint as n_tokens,
         grouping(source, lang) as gid
  from tok group by rollup (source, lang)
), tot as (
  select n_tokens as tt from agg where gid = 3
)
select source, lang, n_docs, n_tokens,
       ((n_tokens * 1000000) // tt)::bigint as token_ppm
from agg, tot
"""


def corpus_delta_q(spark, sf):
    """Snapshot diff with a PLANTED re-crawl: the 'new' corpus drops
    every doc_id % 13 = 4 (removed), appends a marker to every
    doc_id % 7 = 1 (changed), and gains 20 fresh ids (added); all
    other docs must come back unchanged (operators/delta.corpus_delta
    — one full-outer join of (id, md5) pairs, text never shuffles)."""
    from batukh_spark.operators.delta import corpus_delta
    docs = t_spread(spark, sf, "documents")
    changed = F.when(F.col("doc_id") % 7 == 1,
                     F.concat(F.col("text"), F.lit(" recrawl-delta"))) \
        .otherwise(F.col("text"))
    new = (docs.filter(F.col("doc_id") % 13 != 4)
           .select("doc_id", changed.alias("text"))
           .unionByName(
               docs.filter(F.col("doc_id") < 20)
               .select((F.col("doc_id") + 1000000).alias("doc_id"),
                       "text")))
    return corpus_delta(docs.select("doc_id", "text"), new)


CORPUS_DELTA_SQL = """
with old as (
  select doc_id, md5(text) as h from documents
), new as (
  select doc_id,
         md5(case when doc_id % 7 = 1 then text || ' recrawl-delta'
                  else text end) as h
  from documents where doc_id % 13 <> 4
  union all
  select doc_id + 1000000 as doc_id, md5(text) as h
  from documents where doc_id < 20
)
select coalesce(o.doc_id, n.doc_id) as doc_id,
       case when o.doc_id is null then 'added'
            when n.doc_id is null then 'removed'
            when o.h = n.h or (o.h is null and n.h is null)
              then 'unchanged'
            else 'changed' end as status
from old o full outer join new n on o.doc_id = n.doc_id
"""


def token_length_profile_q(spark, sf):
    """Per-source token-length profile with exact inverse-CDF
    quantiles (textstats.token_length_profile — corpus collapses to a
    (domain, length, count) histogram first; every window runs on the
    histogram)."""
    from batukh_spark.operators.textstats import token_length_profile
    docs = t_spread(spark, sf, "documents")
    return token_length_profile(docs)


TOKEN_LENGTH_PROFILE_SQL = r"""
with lens as (
  select source,
         len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> ''))::bigint as l
  from documents
), hist as (
  select source, l, count(*) as cnt from lens group by source, l
), cum as (
  select source, l, cnt,
         sum(cnt) over (partition by source order by l
                        rows unbounded preceding) as c,
         sum(cnt) over (partition by source) as n,
         sum(l * cnt) over (partition by source) as tok
  from hist
)
select source, max(n)::bigint as n_docs, max(tok)::bigint as total_tokens,
       min(case when c * 100 >= n * 25 then l end)::bigint as p25,
       min(case when c * 100 >= n * 50 then l end)::bigint as p50,
       min(case when c * 100 >= n * 75 then l end)::bigint as p75,
       min(case when c * 100 >= n * 90 then l end)::bigint as p90,
       min(case when c * 100 >= n * 99 then l end)::bigint as p99
from cum group by source
"""


def bpe_merges_q(spark, sf):
    """BPE merge-table training over the documents corpus
    (vocab.train_bpe — one corpus shuffle to the (word, count) working
    set, collected as Arrow; the driver learns every merge with an
    incremental pair count and greedy-leftmost application).
    Deterministic: integer counts, (count desc, pair asc) tie-break —
    the oracle replays the identical six rounds with list_reduce
    folds."""
    from batukh_spark.operators.vocab import train_bpe
    return train_bpe(t_spread(spark, sf, "documents"), n_merges=6)


def _bpe_cte(n_merges: int = 6, src: str = "documents") -> str:
    """w0 (word-frequency symbol table) -> [p{r} pair counts -> b{r}
    one-row argmax -> w{r} fold-applied merge] x rounds — the DuckDB
    mirror of vocab.train_bpe.  The fold encodes its (out, pending)
    state in one string (out chr(31)-joined, chr(30) separator;
    symbols are ^[a-z0-9]+$ so the separators can never collide),
    init-seeded by list_prepend since list_reduce has no explicit
    initial value."""
    sp1 = "split_part(a, chr(30), 1)"
    sp2 = "split_part(a, chr(30), 2)"
    parts = [r"""w0 as (
  select w,
         list_transform(generate_series(1, length(w)),
                        i -> substr(w, i, 1)) as s,
         count(*)::bigint as n
  from (select unnest(list_filter(regexp_split_to_array(lower(text),
                                                        '\s+'),
                                  x -> x <> '')) as w
        from """ + src + r""")
  where regexp_matches(w, '^[a-z0-9]+$')
  group by w
)"""]
    for r in range(1, n_merges + 1):
        parts.append(f"""p{r} as (
  select pair, sum(n)::bigint as cnt from (
    select unnest(list_transform(generate_series(1, len(s) - 1),
                  i -> s[i] || chr(31) || s[i + 1])) as pair, n
    from w{r - 1} where len(s) >= 2)
  group by pair
), b{r} as (
  select {r} as round,
         split_part(pair, chr(31), 1) as left_s,
         split_part(pair, chr(31), 2) as right_s,
         cnt
  from p{r} order by cnt desc, pair asc limit 1
), w{r} as (
  select w.w, w.n,
         string_split(
           case when split_part(acc, chr(30), 2) = ''
                then split_part(acc, chr(30), 1)
                when split_part(acc, chr(30), 1) = ''
                then split_part(acc, chr(30), 2)
                else split_part(acc, chr(30), 1) || chr(31)
                     || split_part(acc, chr(30), 2) end,
           chr(31)) as s
  from (
    select w.w, w.n,
           list_reduce(list_prepend(chr(30), w.s), (a, x) ->
             case when {sp2} = b.left_s and x = b.right_s
             then (case when {sp1} = '' then b.left_s || b.right_s
                        else {sp1} || chr(31) || b.left_s || b.right_s
                   end) || chr(30)
             else (case when {sp2} = '' then {sp1}
                        when {sp1} = '' then {sp2}
                        else {sp1} || chr(31) || {sp2} end)
                  || chr(30) || x end) as acc
    from w{r - 1} w cross join b{r} b) w
)""")
    return "with " + ", ".join(parts)


BPE_MERGES_SQL = _bpe_cte(6) + """
""" + "\nunion all\n".join(
    f'select round, left_s as "left", right_s as "right", '
    f'left_s || right_s as merged, cnt as pair_count from b{r}'
    for r in range(1, 7)) + """
order by round
"""


def bpe_token_counts_q(spark, sf):
    """Per-document token counts under the TRAINED 6-merge BPE
    vocabulary (vocab.bpe_token_counts — encoding joins each doc's
    tokens against a driver-built (word, n_syms) frame of the
    training's final segmentations; non-word tokens count 1,
    token-less docs report 0)."""
    from batukh_spark.operators.vocab import bpe_token_counts
    return bpe_token_counts(t_spread(spark, sf, "documents"),
                            n_merges=6)


BPE_TOKEN_COUNTS_SQL = _bpe_cte(6) + r"""
, toks as (
  select doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) as w
  from documents
), per as (
  select t.doc_id,
         sum(coalesce(len(w6.s), 1))::bigint as n
  from toks t left join w6 on w6.w = t.w
  group by t.doc_id
)
select d.doc_id, coalesce(per.n, 0)::bigint as n_bpe_tokens
from documents d left join per using (doc_id)
"""


def event_props_stats_q(spark, sf):
    """Typed projection out of the semi-structured JSON props column
    (semistructured.parse_json_props — explicit-schema from_json,
    malformed input counted-not-dropped per the reference's
    ignore_errors contract) rolled up per event type, with corrupt
    rows PLANTED on event_id%31 so the malformed path actually
    fires."""
    from batukh_spark.operators.semistructured import parse_json_props
    ev = t(spark, sf, "events")
    planted = ev.withColumn(
        "props", F.when(F.col("event_id") % 31 == 0, F.lit("xx{"))
        .otherwise(F.col("props")))
    parsed = parse_json_props(planted, {"k": "long"})
    return (parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("malformed"), 1).otherwise(0))
        .cast("long").alias("n_malformed"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        F.count_distinct(F.col("k")).alias("n_distinct_k")))


EVENT_PROPS_STATS_SQL = """
with planted as (
  select event_id, event_type,
         case when event_id % 31 = 0 then 'xx{' else props end as props
  from events
), p as (
  select event_type,
         case when props is not null and json_valid(props)
              then json_extract(props, '$.k')::bigint end as k,
         coalesce(props is not null and not json_valid(props), false)
           as bad
  from planted
)
select event_type, count(*)::bigint as n_events,
       sum(case when bad then 1 else 0 end)::bigint as n_malformed,
       sum(k)::bigint as sum_k, min(k)::bigint as min_k,
       max(k)::bigint as max_k,
       count(distinct k)::bigint as n_distinct_k
from p group by 1
"""


def calibrated_token_profile_q(spark, sf):
    """Per-source token-length profile in CALIBRATED units: factors
    (bpe_per_tok_ppm) are measured from a deterministic 10-doc-per-
    source sample (textstats.calibrate_token_scale — md5-ordered
    fixed-size sample, integer-ppm quantized so both engines apply
    EXACTLY the same arithmetic), then applied per document before the
    histogram-first quantile chain (token_length_profile token_scale).
    The factor table is |domains| rows — the same planning-collect
    class as the IVF codebook."""
    from batukh_spark.operators.textstats import (
        calibrate_token_scale, token_length_profile)
    docs = t_spread(spark, sf, "documents")
    rows = calibrate_token_scale(docs, k=10).collect()
    scale = {r.source: int(r.bpe_per_tok_ppm) for r in rows
             if r.bpe_per_tok_ppm is not None}
    return token_length_profile(docs, token_scale=scale)


CALIBRATED_TOKEN_PROFILE_SQL = r"""
with h as (
  select doc_id, source,
         md5('cal1' || chr(31) || source || chr(31) || doc_id::varchar)
           as hh
  from documents
), r as (
  select doc_id, source,
         row_number() over (partition by source order by hh, doc_id)
           as rk
  from h
), samp as (
  select doc_id from r where rk <= 10
), st as (
  select d.source,
         sum(len(list_filter(regexp_split_to_array(lower(d.text),
                                                   '\s+'),
                             x -> x <> '')))::bigint as ws,
         sum(len(regexp_extract_all(d.text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::bigint as bpe
  from documents d join samp using (doc_id)
  group by d.source
), f as (
  select source, (bpe * 1000000) // ws as ppm from st where ws > 0
), lens as (
  select d.source,
         ((len(list_filter(regexp_split_to_array(lower(d.text), '\s+'),
                           x -> x <> ''))::bigint
           * coalesce(f.ppm, 1000000)) // 1000000)::bigint as l
  from documents d left join f using (source)
), hist as (
  select source, l, count(*) as cnt from lens group by source, l
), cum as (
  select source, l, cnt,
         sum(cnt) over (partition by source order by l
                        rows unbounded preceding) as c,
         sum(cnt) over (partition by source) as n,
         sum(l * cnt) over (partition by source) as tok
  from hist
)
select source, max(n)::bigint as n_docs, max(tok)::bigint as total_tokens,
       min(case when c * 100 >= n * 25 then l end)::bigint as p25,
       min(case when c * 100 >= n * 50 then l end)::bigint as p50,
       min(case when c * 100 >= n * 75 then l end)::bigint as p75,
       min(case when c * 100 >= n * 90 then l end)::bigint as p90,
       min(case when c * 100 >= n * 99 then l end)::bigint as p99
from cum group by source
"""


def interleave_domains_q(spark, sf):
    """Domain-interleaved training order over documents keyed on
    lang (operators/sampling.interleave_domains — per-domain
    distributed rank + closed-form round-robin position from the
    k collected domain sizes; no global sort)."""
    from batukh_spark.operators.sampling import interleave_domains
    docs = t_spread(spark, sf, "documents")
    return interleave_domains(docs, domain_col="lang")


INTERLEAVE_DOMAINS_SQL = """
with r as (
  select doc_id, lang,
         row_number() over (partition by lang
                            order by md5('ilv0:' || doc_id::varchar),
                                     doc_id) - 1 as domain_rank
  from documents
)
select doc_id, lang, domain_rank::bigint as domain_rank,
       (row_number() over (order by domain_rank, lang) - 1)::bigint
         as global_pos
from r
"""


def vocab_coverage_q(spark, sf):
    """Per-doc OOV audit against the corpus' own top-40 token vocab
    (textstats.build_vocab -> vocab_coverage — broadcast vocab join,
    integer-ppm rate).  The 40-token cut leaves real OOV mass, so the
    oracle must reproduce exact per-doc counts and rates."""
    from batukh_spark.operators.textstats import (build_vocab,
                                                  vocab_coverage)
    docs = t_spread(spark, sf, "documents")
    vocab = build_vocab(docs, 40)
    return vocab_coverage(docs, vocab)


VOCAB_COVERAGE_SQL = r"""
with tk as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tokens
  from documents
), tok as (
  select doc_id, unnest(tokens) as token from tk
), vc as (
  select token, count(*) as cnt from tok group by token
), v as (
  select token from vc order by cnt desc, token limit 40
), cov as (
  select t.doc_id, count(*) as nt,
         sum(case when v.token is null then 1 else 0 end) as noov
  from tok t left join v on t.token = v.token
  group by t.doc_id
)
select d.doc_id,
       coalesce(c.nt, 0)::bigint as n_tokens,
       coalesce(c.noov, 0)::bigint as n_oov,
       (case when coalesce(c.nt, 0) > 0
             then (c.noov * 1000000) // c.nt else 0 end)::bigint
         as oov_ppm
from documents d left join cov c using (doc_id)
"""


def length_bucketed_batches_q(spark, sf):
    """Length-bucketed fixed-shape batching over the documents table:
    per-doc whitespace token counts -> ceil-power-of-two buckets ->
    per-bucket deterministic hash-ordered batches of
    max(1, 512 div bucket_len) rows (operators/text.
    length_bucketed_batches — a per-bucket distributed prefix rank,
    see text._prefix_before; never SinglePartition)."""
    from batukh_spark.operators.text import (length_bucketed_batches,
                                             tokens_col)
    docs = t_spread(spark, sf, "documents")
    tk = docs.select(
        "doc_id", F.size(tokens_col("text")).cast("long")
        .alias("n_tokens"))
    return length_bucketed_batches(tk, batch_max_tokens=512)


LENGTH_BUCKETED_SQL = r"""
with tk as (
  select doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> ''))::bigint as n_tokens
  from documents
), b as (
  select doc_id, n_tokens,
         (case when n_tokens <= 1 then 1
               else (1::bigint << length(bin(n_tokens - 1)))
          end)::bigint as bucket_len
  from tk where n_tokens > 0
), rk as (
  select *,
         row_number() over (partition by bucket_len
                            order by md5('bucket:' || doc_id::varchar),
                                     doc_id) - 1 as rnk
  from b
)
select doc_id, n_tokens, bucket_len,
       (rnk // greatest(1, 512 // bucket_len))::bigint as batch_idx,
       (bucket_len - n_tokens)::bigint as pad_tokens
from rk
"""


def _split_case_sql(key_expr: str, weights: dict[str, float],
                    salt: str) -> str:
    """DuckDB mirror of operators/sampling.split_assign — generated
    from the same weights/salt literals and the same cut-point
    arithmetic, so the assignment is identical by construction."""
    total = sum(weights.values())
    names = sorted(weights)
    h = f"substring(md5('{salt}:' || {key_expr}), 1, 8)"
    parts, cum = [], 0.0
    for name in names[:-1]:
        cum += weights[name] / total
        thr = format(min(round(cum * 16 ** 8), 16 ** 8 - 1), "08x")
        parts.append(f"when {h} < '{thr}' then '{name}'")
    return ("case " + " ".join(parts) + f" else '{names[-1]}' end"
            if parts else f"'{names[-1]}'")


_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def train_val_split_q(spark, sf):
    """Leakage-free train/val/test assignment over the extraction's
    turns, keyed on conv_id (operators/sampling.split_assign): every
    turn of a conversation lands in the same split — the group-keyed
    property that keeps near-identical rows of one conversation from
    straddling train and val.  Scan-local codegen expression, no
    shuffle; the oracle is generated from the same weight literals."""
    from batukh_spark.operators.sampling import split_assign
    turns = extract_transcripts(spark, sf).select("conv_id", "turn_idx")
    return split_assign(turns, _SPLIT_WEIGHTS, key_col="conv_id",
                        salt="split1")


TRAIN_VAL_SPLIT_SQL = (
    "with base as (" + EXTRACT_TRANSCRIPTS_SQL + """)
select conv_id, turn_idx, """
    + _split_case_sql("conv_id", _SPLIT_WEIGHTS, "split1")
    + " as split from base")

SPLIT_LEAKAGE_SQL = _split_leakage_sql()


def conversation_keep_set_q(spark, sf):
    """Conversation-granularity dedup: the assembled conversation
    documents run through the full keep_set verdict (exact > near
    precedence, exact-rep collapse before LSH) — dedup at the
    granularity a chat-transcript corpus is actually sampled at.
    Planted twins exercise both drop classes: doc_id%25==0
    conversations get a byte-identical '_x' twin (exact_dup),
    doc_id%37==0 get a '_y' twin with one appended token (near_dup
    via band collision; the oracle replays the identical chain, so
    the verdict matches whatever the banding decides)."""
    from batukh_spark.operators.conversations import assemble_conversations
    num = F.substring("conv_id", 2, 100).cast("long")
    # materialize: conv feeds three union branches (base + both
    # planted-twin arms) — one kernel+assembly run, not three
    conv = materialize(
        assemble_conversations(extract_transcripts(spark, sf)).select(
            F.col("conv_id").alias("doc_id"),
            F.col("doc_text").alias("text"), num.alias("__n")),
        "queries.conversation_keep_set:conv")
    twins = conv.filter(F.col("__n") % 25 == 0).select(
        F.concat("doc_id", F.lit("_x")).alias("doc_id"), "text")
    near = conv.filter(F.col("__n") % 37 == 0).select(
        F.concat("doc_id", F.lit("_y")).alias("doc_id"),
        F.concat("text", F.lit(" zzz")).alias("text"))
    return dedup.keep_set(
        conv.drop("__n").unionByName(twins).unionByName(near))


# DuckDB rejects a nested WITH inside a `WITH RECURSIVE` CTE body, so
# the docstats CTEs are hoisted to the top level and the extraction
# select (EXTRACT_TRANSCRIPTS_SQL minus its leading CTEs) becomes
# `base` directly
_EXTRACT_SELECT_ONLY = EXTRACT_TRANSCRIPTS_SQL[len(_DOCSTATS_CTE):]

# CTE chain shared by conversation_keep_set and the sft_mix capstone:
# extraction closed form -> assembled conversation docs (+ planted
# twins) -> full LSH/exact dedup chain -> per-doc `verdict`
_CONV_KEEP_CTES = (
    "with recursive "
    + _DOCSTATS_CTE.replace("with s as", "s as", 1)
    + ", base as (" + _EXTRACT_SELECT_ONLY + """)
, conv as (
  select conv_id as doc_id, count(*)::bigint as n_turns,
         string_agg('<|' || role || '|>' || chr(10) || extracted_text,
                    chr(10) || chr(10) order by turn_idx) as text,
         substring(conv_id, 2)::bigint as n
  from base group by conv_id
), docs as (
  select doc_id, text from conv
  union all
  select doc_id || '_x', text from conv where n % 25 = 0
  union all
  select doc_id || '_y', text || ' zzz' from conv where n % 37 = 0
), """ + _lsh_chain_sql("docs") + r"""
, edges as (
  select id_a as src, id_b as dst from cand
  union
  select id_b, id_a from cand
), reach(id, lab) as (
  select src, src from edges
  union
  select e.src, r.lab from edges e join reach r on r.id = e.dst
), clusters as (
  select id as doc_id, min(lab) as cluster_id from reach group by id
), hashes as (
  select doc_id,
         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
           as text_hash
  from docs
), exact as (
  select text_hash, min(doc_id) as keep_id from hashes group by 1
), verdict as (
  select h.doc_id,
         case when h.doc_id <> e.keep_id then 'exact_dup'
              when c.cluster_id is not null and h.doc_id <> c.cluster_id
                   then 'near_dup'
              else 'unique' end as reason
  from hashes h
  join exact e using (text_hash)
  left join clusters c using (doc_id)
)
""")

CONVERSATION_KEEP_SET_SQL = (
    _CONV_KEEP_CTES
    + "select doc_id, reason = 'unique' as keep, reason from verdict\n")


def sft_mix_q(spark, sf):
    """Conversation-level SFT capstone (mix.sft_mix): turns ->
    assembled docs -> conversation keep_set (with the same planted
    exact/near twins injected as `extra_docs`, so the dedup gate has
    real work) -> leakage-free split -> trainable-byte manifest.  The
    oracle composes the shared keep-set CTE chain with the split case
    and a span-stats CTE; its trainable_bytes never needs offsets
    (span_end - span_start telescopes to plen - hlen), making it an
    independent derivation of the Spark side's windowed arithmetic."""
    from batukh_spark.mix import sft_mix
    ext = _extracted_turns(spark, sf, "queries.sft_mix:ext")
    from batukh_spark.operators.conversations import assemble_conversations
    conv = materialize(assemble_conversations(ext).select(
        F.col("conv_id").alias("doc_id"), F.col("doc_text").alias("text"),
        F.substring("doc_id", 2, 100).cast("long").alias("__n")),
        "queries.sft_mix:conv")
    twins = conv.filter(F.col("__n") % 25 == 0).select(
        F.concat("doc_id", F.lit("_x")).alias("doc_id"), "text")
    near = conv.filter(F.col("__n") % 37 == 0).select(
        F.concat("doc_id", F.lit("_y")).alias("doc_id"),
        F.concat("text", F.lit(" zzz")).alias("text"))
    return sft_mix(ext, _SPLIT_WEIGHTS,
                   extra_docs=twins.unionByName(near))


def _sft_mix_sql() -> str:
    """Composed oracle: keep-set chain + split case + span stats."""
    doc_bytes = "octet_length(encode(c.text))"
    return (_CONV_KEEP_CTES + """
, tstats as (
  select conv_id,
         count(*)::bigint as n_trainable_turns,
         sum(strlen('<|' || role || '|>' || chr(10) || extracted_text)
             - strlen('<|' || role || '|>') - 1)::bigint
           as trainable_bytes
  from base where role = 'assistant' group by conv_id
)
select v.doc_id as conv_id,
       """ + _split_case_sql("v.doc_id", _SPLIT_WEIGHTS, "split1")
            + f""" as split,
       c.n_turns,
       {doc_bytes}::bigint as doc_bytes,
       coalesce(t.n_trainable_turns, 0)::bigint as n_trainable_turns,
       coalesce(t.trainable_bytes, 0)::bigint as trainable_bytes,
       case when {doc_bytes} > 0
            then round(coalesce(t.trainable_bytes, 0)
                       / {doc_bytes}, 6)
            else 0.0 end as trainable_frac
from verdict v
join conv c on c.doc_id = v.doc_id
left join tstats t on t.conv_id = v.doc_id
where v.reason = 'unique'
""")


def loss_mask_spans_q(spark, sf):
    """Assistant-only loss-mask spans: [start, end) byte offsets of
    each assistant turn's extracted text inside the assembled
    conversation document (operators/conversations.py loss_mask_spans
    — scan-local piece lengths, doc-keyed window offset sum; document
    text never shuffles).  The oracle replays the same byte
    arithmetic with strlen + a per-conversation window cumsum."""
    from batukh_spark.operators.conversations import loss_mask_spans
    return loss_mask_spans(extract_transcripts(spark, sf))


LOSS_MASK_SPANS_SQL = (
    "with base as (" + EXTRACT_TRANSCRIPTS_SQL + """)
, p as (
  select conv_id, turn_idx, role,
         strlen('<|' || role || '|>') + 1 as hlen,
         strlen('<|' || role || '|>' || chr(10) || extracted_text)
           as plen
  from base
), o as (
  select conv_id, turn_idx, role, hlen, plen,
         coalesce(sum(plen + 2) over (
             partition by conv_id order by turn_idx
             rows between unbounded preceding and 1 preceding),
           0) as off
  from p
)
select conv_id, turn_idx, role,
       (off + hlen)::bigint as span_start,
       (off + plen)::bigint as span_end
from o where role = 'assistant'
""")


def token_budget_sample_q(spark, sf):
    """Exact token-budget mixture sampling: per-language, keep
    documents in deterministic md5 walk order until 2000 tokens are
    covered (operators/sampling.py token_budget_sample — per-stratum
    distributed prefix sum, no SinglePartition window).  The oracle is
    the same walk as a per-stratum SQL window cumsum."""
    from batukh_spark.operators.sampling import token_budget_sample
    from batukh_spark.operators.text import tokens_col
    docs = t(spark, sf, "documents").select(
        "doc_id", "lang",
        F.size(tokens_col("text")).cast("long").alias("n_tokens"))
    return token_budget_sample(docs, budget=2000)


TOKEN_BUDGET_SQL = _DOCSTATS_CTE + """
, o as (
  select d.doc_id, d.lang, st.nw,
         coalesce(sum(st.nw) over (
             partition by d.lang
             order by md5('budget1:' || d.doc_id::varchar), d.doc_id
             rows between unbounded preceding and 1 preceding),
           0)::bigint as tokens_before
  from st join documents d on st.doc_id = d.doc_id
)
select doc_id, lang, nw::bigint as n_tokens, tokens_before
from o where tokens_before < 2000
"""


def best_of_n_q(spark, sf):
    """Rejection sampling over response candidates: each conversation's
    assistant turn spawns three candidates (original, half-truncation,
    self-repetition), `quality_score` ranks them, and
    sampling.best_of_n keeps the deterministic argmax per
    conversation.  The oracle recomputes the same candidates, scores
    them through the shared quality CTE generator, and picks the same
    (quality desc, cand_id desc) winner."""
    from batukh_spark.operators.sampling import best_of_n
    full = _response_cands(spark, sf)
    return best_of_n(full, group_col="conv_id", score_col="quality",
                     id_col="cand_id")


def _response_cands(spark, sf):
    """Shared candidate synthesis for the RLHF-selection queries
    (best_of_n, preference_pairs): each conversation's assistant turn
    spawns three scored candidates — original, half-truncation,
    self-repetition — ranked by quality_score."""
    # materialize: three candidate branches consume ext — one
    # kernel run, not three (opaque mapInArrow defeats subtree reuse)
    ext = materialize(extract_transcripts(spark, sf)
                      .filter(F.col("turn_idx") == 1)
                      .select("conv_id", "extracted_text"),
                      "queries._response_cands:ext")
    from batukh_spark.operators.text import tokens_col
    tk = tokens_col("extracted_text")
    half = F.array_join(
        F.slice(tk, 1, F.greatest(F.floor(F.size(tk) / 2), F.lit(1))
                .cast("int")), " ")
    c0 = ext.select(F.col("conv_id"),
                    F.concat("conv_id", F.lit("#0")).alias("cand_id"),
                    F.col("extracted_text").alias("text"))
    c1 = ext.select(F.col("conv_id"),
                    F.concat("conv_id", F.lit("#1")).alias("cand_id"),
                    half.alias("text"))
    c2 = ext.select(F.col("conv_id"),
                    F.concat("conv_id", F.lit("#2")).alias("cand_id"),
                    F.concat("extracted_text", F.lit("\n"),
                             "extracted_text").alias("text"))
    cands = c0.unionByName(c1).unionByName(c2)
    # passthrough enrich: conv_id rides through the quality scan, so
    # no join back against the candidate table is needed
    return textstats.quality_score(cands, "cand_id", "text",
                                   passthrough=("conv_id",)) \
        .select("conv_id", "cand_id", "quality")


_RESP_SCORED_SQL = (
    "with base as (" + EXTRACT_TRANSCRIPTS_SQL + r""")
, src as (
  select conv_id, conv_id || '#0' as doc_id, extracted_text as text
  from base where turn_idx = 1
  union all
  select conv_id, conv_id || '#1',
         array_to_string(
           (list_filter(regexp_split_to_array(lower(extracted_text),
                                              '\s+'), x -> x <> ''))
           [1:greatest(len(list_filter(regexp_split_to_array(
                lower(extracted_text), '\s+'), x -> x <> '')) // 2, 1)],
           ' ')
  from base where turn_idx = 1
  union all
  select conv_id, conv_id || '#2',
         extracted_text || chr(10) || extracted_text
  from base where turn_idx = 1
), cand as (select doc_id, text from src)
, """ + _quality_cte("cand") + """
, scored as (
  select s.conv_id, q.doc_id as cand_id, q.quality
  from qual q join src s on s.doc_id = q.doc_id
)""")


BEST_OF_N_SQL = _RESP_SCORED_SQL + """
, rk as (
  select *, row_number() over (partition by conv_id
                               order by quality desc, cand_id desc) as rn
  from scored
)
select conv_id, cand_id, quality from rk where rn = 1
"""


def preference_pairs_q(spark, sf):
    """DPO preference pairs over the same response-candidate groups as
    best_of_n: chosen = max by (quality, cand_id), rejected = min by
    (quality, cand_id), tied groups dropped.  The oracle double-ranks
    the shared scored CTE (desc and asc) and joins the two rank-1
    rows per conversation."""
    from batukh_spark.operators.sampling import preference_pairs
    full = _response_cands(spark, sf)
    return preference_pairs(full, group_col="conv_id",
                            score_col="quality", id_col="cand_id")


PREFERENCE_PAIRS_SQL = _RESP_SCORED_SQL + """
, rk as (
  select conv_id, cand_id, quality,
         row_number() over (partition by conv_id
                            order by quality desc, cand_id desc) as hi,
         row_number() over (partition by conv_id
                            order by quality asc, cand_id asc) as lo
  from scored
)
select h.conv_id, h.cand_id as chosen_id, l.cand_id as rejected_id,
       h.quality as chosen_score, l.quality as rejected_score,
       h.quality - l.quality as margin
from (select * from rk where hi = 1) h
join (select * from rk where lo = 1) l using (conv_id)
where h.quality - l.quality > 0
"""


def packed_loss_masks_q(spark, sf):
    """Packed-sequence loss masks over the flagship turns at
    seq_len=128 (small enough that conversations straddle sequence
    boundaries, so mask spans genuinely split across packed rows) —
    operators/conversations.packed_loss_masks.  The oracle replays
    the whole chain in SQL: per-turn token counts -> per-conversation
    window offsets -> conversation stream prefix sum -> generate_series
    sequence overlaps -> interval intersection."""
    from batukh_spark.operators.conversations import packed_loss_masks
    return packed_loss_masks(
        _extracted_turns(spark, sf, "queries.packed_loss_masks:ext"),
        seq_len=128)


_PLM_L = 128
PACKED_LOSS_MASKS_SQL = (
    "with base as (" + EXTRACT_TRANSCRIPTS_SQL + r""")
, pt as (
  select conv_id, turn_idx, role,
         len(list_filter(regexp_split_to_array(extracted_text, '\s+'),
                         x -> x <> ''))::bigint as ntext
  from base
), off as (
  select conv_id, turn_idx, role, ntext,
         coalesce(sum(ntext + 1) over (
             partition by conv_id order by turn_idx
             rows between unbounded preceding and 1 preceding),
           0)::bigint as a
  from pt
), convtot as (
  select conv_id, sum(ntext + 1)::bigint as tot from pt group by conv_id
), stream as (
  select conv_id, tot,
         coalesce(sum(tot) over (
             order by conv_id
             rows between unbounded preceding and 1 preceding),
           0)::bigint as g
  from convtot
), ov as (
  select conv_id, s as seq_id,
         greatest(g, s * {L}) - g as tok_begin,
         least(g + tot, (s + 1) * {L}) - g as tok_end,
         greatest(g, s * {L}) - s * {L} as seq_pos
  from (select conv_id, tot, g,
               unnest(generate_series(g // {L}, (g + tot - 1) // {L}))
                 as s
        from stream where tot > 0)
), tr as (
  select conv_id, turn_idx, role,
         a + 1 as ta, a + 1 + ntext as tb
  from off where role = 'assistant'
)
select t.conv_id, t.turn_idx, t.role, o.seq_id,
       (o.seq_pos + greatest(t.ta, o.tok_begin) - o.tok_begin)::bigint
         as seq_start,
       (o.seq_pos + least(t.tb, o.tok_end) - o.tok_begin)::bigint
         as seq_end
from tr t join ov o on o.conv_id = t.conv_id
where greatest(t.ta, o.tok_begin) < least(t.tb, o.tok_end)
""").replace("{L}", str(_PLM_L))


def bigram_logprob_q(spark, sf):
    """Corpus-bigram conditional log-likelihood (order-2 fluency
    proxy) in integer micro-nats — each ln(c2/c1) term quantized
    before summation, so the score is bit-identical across engines
    and partitionings (operators/textstats.py bigram_logprob)."""
    return textstats.bigram_logprob(t_spread(spark, sf, "documents"))


BIGRAM_LOGPROB_SQL = r"""
with toks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') as tk
  from documents
), big as (
  select doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(tk) - 1, 0)),
           i -> tk[i] || ' ' || tk[i+1])) as bg
  from toks
), c2 as (
  select bg, count(*)::bigint as c2 from big group by bg
), c1 as (
  select split_part(bg, ' ', 1) as w1, count(*)::bigint as c1
  from big group by 1
), d as (
  select b.doc_id, count(*)::bigint as n_bigrams,
         sum(round(ln(c2.c2) * 1000000)::bigint
             - round(ln(c1.c1) * 1000000)::bigint)::bigint as s
  from big b
  join c2 using (bg)
  join c1 on split_part(b.bg, ' ', 1) = c1.w1
  group by b.doc_id
)
select doc.doc_id,
       coalesce(d.n_bigrams, 0)::bigint as n_bigrams,
       coalesce(d.s, 0)::bigint as bigram_logprob_micro
from documents doc left join d on doc.doc_id = d.doc_id
"""


def _trace_turns(spark, sf):
    """Shared fixture for the agent-trace queries: the flagship
    extraction's turns with tool metadata re-attached (the lean kernel
    drops it) and planted anomalies — conv%7==0 gets a failing tool
    turn (ERROR marker appended), conv%9==0 gets a SECOND tool (a
    'calc' turn whose text is a Traceback), conv%11==0 gets a
    user->user double-send (turns 3 and 4)."""
    ext = _extracted_turns(spark, sf, "queries._trace_turns:ext")
    num = F.substring("conv_id", 2, 100).cast("long")
    base = ext.select(
        "conv_id", "turn_idx", "role",
        F.when((F.col("role") == "tool") & (num % 7 == 0),
               F.concat("extracted_text", F.lit("\nERROR: timeout")))
        .otherwise(F.col("extracted_text")).alias("extracted_text"),
        F.when(F.col("role") == "tool", F.lit("search"))
        .otherwise(F.lit(None).cast("string")).alias("tool"))
    calc = ext.filter((F.col("turn_idx") == 2) & (num % 9 == 0)).select(
        "conv_id", F.lit(5).alias("turn_idx"), F.lit("tool").alias("role"),
        F.lit("Traceback (most recent call last)").alias("extracted_text"),
        F.lit("calc").alias("tool"))
    dbl = ext.filter((F.col("turn_idx") == 0) & (num % 11 == 0))
    u3 = dbl.select("conv_id", F.lit(3).alias("turn_idx"),
                    F.lit("user").alias("role"),
                    F.lit("are you still there").alias("extracted_text"),
                    F.lit(None).cast("string").alias("tool"))
    u4 = dbl.select("conv_id", F.lit(4).alias("turn_idx"),
                    F.lit("user").alias("role"),
                    F.lit("hello??").alias("extracted_text"),
                    F.lit(None).cast("string").alias("tool"))
    return base.unionByName(calc).unionByName(u3).unionByName(u4)


# oracle mirror of _trace_turns (aug over the extraction closed form)
_TRACE_AUG_CTE = (
    "with base as (" + EXTRACT_TRANSCRIPTS_SQL + """)
, aug as (
  select conv_id, turn_idx, role,
         case when role = 'tool'
                   and substring(conv_id, 2)::bigint % 7 = 0
              then extracted_text || chr(10) || 'ERROR: timeout'
              else extracted_text end as extracted_text,
         case when role = 'tool' then 'search' end as tool
  from base
  union all
  select conv_id, 5, 'tool', 'Traceback (most recent call last)', 'calc'
  from base
  where turn_idx = 2 and substring(conv_id, 2)::bigint % 9 = 0
  union all
  select conv_id, 3, 'user', 'are you still there', NULL
  from base
  where turn_idx = 0 and substring(conv_id, 2)::bigint % 11 = 0
  union all
  select conv_id, 4, 'user', 'hello??', NULL
  from base
  where turn_idx = 0 and substring(conv_id, 2)::bigint % 11 = 0
)
""")


def trace_stats_q(spark, sf):
    """Per-conversation agent-trace profile over the flagship turns
    with planted tool failures, a second tool, and user double-sends
    (operators/conversations.trace_stats — one conditional-agg
    groupBy; error flag is substring match so both engines compute
    it identically)."""
    from batukh_spark.operators.conversations import trace_stats
    return trace_stats(_trace_turns(spark, sf))


TRACE_STATS_SQL = _TRACE_AUG_CTE + """
select conv_id,
       count(*)::bigint as n_turns,
       sum(case when role = 'user' then 1 else 0 end)::bigint as n_user,
       sum(case when role = 'assistant' then 1 else 0 end)::bigint
         as n_assistant,
       sum(case when role = 'tool' then 1 else 0 end)::bigint as n_tool,
       count(distinct case when role = 'tool' then tool end)::bigint
         as n_tools_distinct,
       sum(case when role = 'tool' and (
             contains(lower(extracted_text), 'error:')
             or contains(lower(extracted_text), 'traceback')
             or contains(lower(extracted_text), 'exception:'))
           then 1 else 0 end)::bigint as n_tool_errors,
       sum(octet_length(encode(extracted_text)))::bigint as total_bytes,
       sum(case when role = 'assistant'
           then octet_length(encode(extracted_text)) else 0 end)::bigint
         as assistant_bytes,
       case when sum(octet_length(encode(extracted_text))) > 0
            then round(sum(case when role = 'assistant'
                           then octet_length(encode(extracted_text))
                           else 0 end)
                       / sum(octet_length(encode(extracted_text))), 6)
            else 0.0 end as assistant_byte_frac
from aug group by conv_id
"""


def role_transitions_q(spark, sf):
    """Corpus-wide role-bigram transition histogram over the same
    planted fixture (operators/conversations.role_transitions — lag
    window per conversation, then a tiny groupBy); the planted
    double-sends make tool->user and user->user non-zero cells."""
    from batukh_spark.operators.conversations import role_transitions
    return role_transitions(_trace_turns(spark, sf))


ROLE_TRANSITIONS_SQL = _TRACE_AUG_CTE + """
, lagged as (
  select coalesce(lag(role) over (partition by conv_id
                                  order by turn_idx), '<start>')
           as prev_role,
         role
  from aug
)
select prev_role, role, count(*)::bigint as n
from lagged group by prev_role, role
"""


def sft_samples_q(spark, sf):
    """SFT sample expansion: one (context, target) pair per assistant
    turn, where the Spark side BYTE-SLICES the assembled conversation
    document at the loss-mask offsets (substring over the binary
    cast) and the oracle CONSTRUCTS the same strings from the turn
    pieces — a hash match proves the byte-offset arithmetic is
    exactly consistent with assembly
    (operators/conversations.sft_samples)."""
    from batukh_spark.operators.conversations import sft_samples
    return sft_samples(
        _extracted_turns(spark, sf, "queries.sft_samples:ext"))


SFT_SAMPLES_SQL = (
    "with base as (" + EXTRACT_TRANSCRIPTS_SQL + """)
, p as (
  select conv_id, turn_idx, role, extracted_text,
         '<|' || role || '|>' || chr(10) || extracted_text as piece
  from base
)
select p1.conv_id, p1.turn_idx, p1.role,
       octet_length(encode(
         coalesce(string_agg(p2.piece, chr(10) || chr(10)
                             order by p2.turn_idx)
                  || chr(10) || chr(10), '')
         || '<|' || p1.role || '|>' || chr(10)))::bigint as context_bytes,
       octet_length(encode(p1.extracted_text))::bigint as target_bytes,
       coalesce(string_agg(p2.piece, chr(10) || chr(10)
                           order by p2.turn_idx)
                || chr(10) || chr(10), '')
       || '<|' || p1.role || '|>' || chr(10) as context_text,
       p1.extracted_text as target_text
from p p1
left join p p2 on p2.conv_id = p1.conv_id and p2.turn_idx < p1.turn_idx
where p1.role = 'assistant'
group by p1.conv_id, p1.turn_idx, p1.role, p1.extracted_text
""")


QUERIES = {
    # ---- driver correctness window (first 50 entries, dict order) ----
    # The driver's gate checks the FIRST 50 entries; order them so the
    # correctness contract (flagship extraction), the conversation/SFT
    # training-data layer, and the newest operators are always driver-
    # verified.  Queries rotated past 50 stay covered by pytest and
    # tools/check_queries.py (the identical gate, run locally each
    # round over the FULL registry at both sf0.001 and sf0.01).
    # flagship extraction kernels over SQL-templated payloads
    "extract_transcripts": (extract_transcripts, EXTRACT_TRANSCRIPTS_SQL),
    "html_block_kinds": (html_block_kinds, HTML_BLOCK_KINDS_SQL),
    "pdf_xycut_lines": (pdf_xycut_lines, PDF_XYCUT_SQL),
    # round-6 additions
    "embedding_keep_set": (embedding_keep_set_q, EMBEDDING_KEEP_SET_SQL),
    "ivf_pq_topk": (ivf_pq_topk_q, IVF_PQ_TOPK_SQL),
    "calibrated_token_profile": (calibrated_token_profile_q,
                                 CALIBRATED_TOKEN_PROFILE_SQL),
    "incremental_emb_keep_set": (incremental_embedding_keep_set_q,
                                 INCREMENTAL_EMB_KEEP_SET_SQL),
    "ivf_pq_refine_topk": (ivf_pq_refine_topk_q, IVF_PQ_REFINE_SQL),
    "event_props_stats": (event_props_stats_q, EVENT_PROPS_STATS_SQL),
    "bpe_merges": (bpe_merges_q, BPE_MERGES_SQL),
    "bpe_token_counts": (bpe_token_counts_q, BPE_TOKEN_COUNTS_SQL),
    # conversation / SFT training-data layer
    "conversation_docs": (conversation_docs_q, CONVERSATION_DOCS_SQL),
    "loss_mask_spans": (loss_mask_spans_q, LOSS_MASK_SPANS_SQL),
    "conversation_keep_set": (conversation_keep_set_q,
                              CONVERSATION_KEEP_SET_SQL),
    "train_val_split": (train_val_split_q, TRAIN_VAL_SPLIT_SQL),
    "repetition_loops": (repetition_loops_q, REPETITION_LOOPS_SQL),
    "truncate_conversations": (truncate_conversations_q,
                               TRUNCATE_CONVERSATIONS_SQL),
    "merge_turns": (merge_turns_q, MERGE_TURNS_SQL),
    "token_budget_sample": (token_budget_sample_q, TOKEN_BUDGET_SQL),
    "length_bucketed_batches": (length_bucketed_batches_q,
                                LENGTH_BUCKETED_SQL),
    "vocab_coverage": (vocab_coverage_q, VOCAB_COVERAGE_SQL),
    "interleave_domains": (interleave_domains_q, INTERLEAVE_DOMAINS_SQL),
    "token_length_profile": (token_length_profile_q,
                             TOKEN_LENGTH_PROFILE_SQL),
    "corpus_delta": (corpus_delta_q, CORPUS_DELTA_SQL),
    "mix_report": (mix_report_q, MIX_REPORT_SQL),
    "key_skew_report": (key_skew_report_q, KEY_SKEW_REPORT_SQL),
    "transition_latency": (transition_latency_q, TRANSITION_LATENCY_SQL),
    "c4_line_clean": (c4_line_clean_q, C4_LINE_CLEAN_SQL),
    "contract_audit": (contract_audit_q, CONTRACT_AUDIT_SQL),
    "dedup_lines": (dedup_lines_q, DEDUP_LINES_SQL),
    "embedding_audit": (embedding_audit_q, EMBEDDING_AUDIT_SQL),
    "quality_classifier": (quality_classifier_q, _quality_classifier_sql()),
    "fixed_size_sample": (fixed_size_sample_q, FIXED_SIZE_SAMPLE_SQL),
    "epoch_order": (epoch_order_q, EPOCH_ORDER_SQL),
    "boilerplate_turns": (boilerplate_turns_q, BOILERPLATE_TURNS_SQL),
    "unigram_logprob": (unigram_logprob_q, UNIGRAM_LOGPROB_SQL),
    "bigram_logprob": (bigram_logprob_q, BIGRAM_LOGPROB_SQL),
    "sft_mix": (sft_mix_q, _sft_mix_sql()),
    "packed_loss_masks": (packed_loss_masks_q, PACKED_LOSS_MASKS_SQL),
    "best_of_n": (best_of_n_q, BEST_OF_N_SQL),
    "preference_pairs": (preference_pairs_q, PREFERENCE_PAIRS_SQL),
    "trace_stats": (trace_stats_q, TRACE_STATS_SQL),
    "role_transitions": (role_transitions_q, ROLE_TRANSITIONS_SQL),
    "sft_samples": (sft_samples_q, SFT_SAMPLES_SQL),
    # rotated capstones — re-verified by the driver this round
    "training_mix": (training_mix_q, TRAINING_MIX_SQL),
    "training_batches": (training_batches_q, TRAINING_BATCHES_SQL),
    "incremental_keep_set": (incremental_keep_set_q,
                             INCREMENTAL_KEEP_SET_SQL),
    "corpus_keep_set": (corpus_keep_set, CORPUS_KEEP_SET_SQL),
    "srp_near_dup": (srp_near_dup_q, SRP_NEAR_DUP_SQL),
    "decontaminate_spans": (decontaminate_spans_q,
                            DECONTAMINATE_SPANS_SQL),
    "cut_contaminated": (cut_contaminated_q, CUT_CONTAMINATED_SQL),
    "passage_excision": (passage_excision_q, PASSAGE_EXCISION_SQL),
    "pack_sequences": (pack_sequences_q, PACK_SEQUENCES_SQL),
    "quality_score": (quality_score_q, QUALITY_SQL),
    # ---- past the driver window: pytest + tools/check_queries.py ----
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_nation_revenue": (q5_nation_revenue, Q5_SQL),
    "top3_orders_per_cust": (top3_orders_per_cust, TOP3_SQL),
    "latest_event_per_user": (latest_event_per_user, LATEST_EVENT_SQL),
    "orphan_customers": (orphan_customers, ORPHAN_SQL),
    "adjacent_dedup_events": (adjacent_dedup_events, ADJ_DEDUP_SQL),
    "sessionize_events": (sessionize_events, SESSIONIZE_SQL),
    "revenue_rollup": (revenue_rollup, ROLLUP_SQL),
    "asof_join_events": (asof_join_events, ASOF_SQL),
    "vocab_stats": (vocab_stats, VOCAB_SQL),
    "extract_plain_canonical": (extract_plain_canonical, CANON_SQL),
    "dedup_exact": (dedup_exact_q, DEDUP_EXACT_SQL),
    "minhash_lsh_pairs": (minhash_lsh_pairs_q, MINHASH_LSH_SQL),
    "dedup_clusters": (dedup_clusters_q, DEDUP_CLUSTERS_SQL),
    "ngram_jaccard_adjacent": (ngram_jaccard_adjacent, NGRAM_JACCARD_SQL),
    "lsh_jaccard_verified": (lsh_jaccard_verified,
                             LSH_JACCARD_VERIFIED_SQL),
    "simhash_adjacent_hamming": (simhash_adjacent_hamming, SIMHASH_SQL),
    "simhash_candidates": (simhash_candidates, SIMHASH_CANDIDATES_SQL),
    "fingerprint_winnow": (fingerprint_winnow, FINGERPRINT_SQL),
    "cosine_topk": (cosine_topk_q, COSINE_TOPK_SQL),
    "cosine_near_dup_adjacent": (cosine_near_dup_adjacent,
                                 COSINE_NEAR_DUP_SQL),
    "hard_negatives": (hard_negatives_q, HARD_NEGATIVES_SQL),
    "ivf_cluster_sizes": (ivf_cluster_sizes, IVF_SQL),
    "ivf_recall_topk": (ivf_recall_topk, IVF_RECALL_SQL),
    "srp_recall": (srp_recall, SRP_RECALL_SQL),
    "token_counts": (token_counts_q, TOKEN_COUNTS_SQL),
    "lang_id": (lang_id_q, LANG_ID_SQL),
    "chunk_documents": (chunk_documents_q, CHUNK_DOCUMENTS_SQL),
    "corpus_sample": (corpus_sample, CORPUS_SAMPLE_SQL),
    "temperature_rates": (temperature_rates_q, TEMPERATURE_RATES_SQL),
    "temperature_sample": (temperature_sample_q, TEMPERATURE_SAMPLE_SQL),
    "packed_sequences": (packed_sequences_q, PACKED_SEQUENCES_SQL),
    "fingerprint_candidates": (fingerprint_candidates_q,
                               FINGERPRINT_CANDIDATES_SQL),
    "pii_redact": (pii_redact_q, PII_REDACT_SQL),
    "decontaminate": (decontaminate_q, DECONTAMINATE_SQL),
    "split_leakage": (split_leakage_q, SPLIT_LEAKAGE_SQL),
    "duplicated_passages": (duplicated_passages_q, DUPLICATED_PASSAGES_SQL),
    "media_features": (media_features_q, MEDIA_SQL),
    "video_frame_sample": (video_frame_sample_q, VIDEO_FRAME_SQL),
}
