"""Interleaved-layout canonicalization, incremental/CDC/streaming replays, OLAP surface (graph, star join, pivot/rollup), anomaly family."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsonschema_spark.plans import SparkPlanCompiler

from jsonschema_spark.queries.base import (
    _stage_stream_source,
    _t,
)
from jsonschema_spark.queries.validation import (
    ORACLE_DOCS_VIOLATIONS,
    validate_documents_violations,
)

# ----- OLAP surface: link analysis, star join, pivot, rollup ----------------


def pagerank_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected bipartite supplier↔part supply graph
    (edges = distinct (l_suppkey, l_partkey) from lineitem, both
    directions), 3 synchronous power iterations, damping 0.85 — the
    domain-authority scoring a web-corpus curation pipeline uses as a
    quality prior. Iterative join+agg plan with per-round localCheckpoint
    (operators/graph.py); the edge relation is partitioned on src once and
    reused every round."""
    from jsonschema_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("p"),
    ).distinct()
    edges = pairs.select(F.col("s").alias("src"), F.col("p").alias("dst")).unionByName(
        pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
    )
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return ranks.select(
        "id", (F.floor(F.col("rank") * 1e9 + F.lit(1e-6)) / 1e9).alias("rank")
    )


def _pagerank_oracle_round(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT v.id,
         0.15 / (SELECT c FROM n)
           + 0.85 * coalesce(sum(r.rank / d.out_deg), 0) AS rank
  FROM v
  LEFT JOIN edges e ON e.dst = v.id
  LEFT JOIN {prev} r ON r.id = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY v.id)"""


ORACLE_PAGERANK = f"""
WITH pairs AS (
  SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS s,
                  'P' || CAST(l_partkey AS VARCHAR) AS p
  FROM lineitem),
edges AS (
  SELECT s AS src, p AS dst FROM pairs
  UNION ALL
  SELECT p AS src, s AS dst FROM pairs),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS out_deg FROM edges GROUP BY src),
v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
n AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM v),
r0 AS (SELECT id, 1.0 / (SELECT c FROM n) AS rank FROM v),
{_pagerank_oracle_round("r0", "r1")},
{_pagerank_oracle_round("r1", "r2")},
{_pagerank_oracle_round("r2", "r3")}
SELECT id, floor(rank * 1e9 + 1e-6) / 1e9 AS rank FROM r3
"""


def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style star join: revenue by nation for 1996 orders where
    the customer and the lineitem's supplier sit in the same ASIA nation.
    Plan shape: lineitem⋈orders⋈customer carry the fact-side shuffles;
    supplier/nation/region are broadcast dims (hinted), so the star arm
    adds zero exchanges. Revenue is summed as exact integer
    cents×percent (price and discount are 2-decimal), so Spark and the
    oracle agree bit-for-bit before the final /1e4 display divide."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    nat = F.broadcast(_t(spark, sf_dir, "nation"))
    reg = F.broadcast(_t(spark, sf_dir, "region"))

    rev_c2 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nat, F.col("s_nationkey") == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev_c2).alias("rev_c2"),
        )
        .select(
            "nation",
            "n_items",
            (F.floor(F.col("rev_c2").cast("double") / 1e4 * 100 + F.lit(1e-6)) / 100).alias(
                "revenue"
            ),
        )
    )


ORACLE_STAR_JOIN = """
WITH j AS (
  SELECT n.n_name AS nation,
         CAST(round(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_c2
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE c.c_nationkey = s.s_nationkey
    AND r.r_name = 'ASIA'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1997-01-01')
SELECT nation, count(*) AS n_items,
       floor(CAST(CAST(sum(rev_c2) AS BIGINT) AS DOUBLE) / 1e4 * 100 + 1e-6) / 100 AS revenue
FROM j GROUP BY nation
"""


_DOC_SOURCES = [f"src{i}" for i in range(20)]


def pivot_lang_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crosstab: document counts by lang (rows) × source (columns) — the
    groupBy().pivot() wide-aggregation surface. The source vocabulary is
    passed explicitly so the plan is ONE aggregation pass (no extra
    distinct-values job) with a fixed output schema."""
    docs = _t(spark, sf_dir, "documents")
    wide = docs.groupBy("lang").pivot("source", _DOC_SOURCES).count()
    return wide.select(
        "lang", *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in _DOC_SOURCES]
    )


ORACLE_PIVOT = "SELECT lang, " + ", ".join(
    f"count(*) FILTER (WHERE source = '{s}') AS {s}" for s in _DOC_SOURCES
) + " FROM documents GROUP BY lang"


def rollup_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(event_type, day) multi-level OLAP aggregation: per-(type,day)
    counts and exact integer-micro value sums, plus per-type and grand
    totals in ONE Expand+aggregate pass (no re-scan per level).
    grouping_id disambiguates levels the same way both engines number the
    bitmask (first rollup column = MSB)."""
    ev = _t(spark, sf_dir, "events")
    staged = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 1e6).cast("long").alias("value_micros"),
    )
    return (
        staged.rollup("event_type", "day")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_micros").alias("sum_value_micros"),
        )
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "gid",
            "n_events",
            "sum_value_micros",
        )
    )


ORACLE_ROLLUP = """
SELECT event_type,
       CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       CAST(GROUPING(event_type, CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS gid,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_value_micros
FROM events
GROUP BY ROLLUP (event_type, CAST(date_trunc('day', ts) AS DATE))
"""


def khop_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS reachability from supplier S1 over the undirected
    supplier↔part supply graph — iterative frontier expansion
    (operators/graph.py khop_reachability): per-round cost is the frontier
    join only, visited set is bare (id, hops)."""
    from jsonschema_spark.operators.graph import khop_reachability

    li = _t(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("p"),
    ).distinct()
    edges = pairs.select(F.col("s").alias("src"), F.col("p").alias("dst")).unionByName(
        pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
    )
    seeds = spark.createDataFrame([("S1",)], ["id"])
    return khop_reachability(edges, seeds, k=3)


ORACLE_KHOP = """
WITH pairs AS (
  SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS s,
                  'P' || CAST(l_partkey AS VARCHAR) AS p
  FROM lineitem),
edges AS (
  SELECT s AS src, p AS dst FROM pairs
  UNION ALL
  SELECT p AS src, s AS dst FROM pairs),
h0 AS (SELECT 'S1' AS id, 0 AS hops),
h1 AS (
  SELECT DISTINCT e.dst AS id, 1 AS hops FROM edges e JOIN h0 ON e.src = h0.id
  WHERE e.dst NOT IN (SELECT id FROM h0)),
h2 AS (
  SELECT DISTINCT e.dst AS id, 2 AS hops FROM edges e JOIN h1 ON e.src = h1.id
  WHERE e.dst NOT IN (SELECT id FROM h0 UNION ALL SELECT id FROM h1)),
h3 AS (
  SELECT DISTINCT e.dst AS id, 3 AS hops FROM edges e JOIN h2 ON e.src = h2.id
  WHERE e.dst NOT IN (SELECT id FROM h0 UNION ALL SELECT id FROM h1
                      UNION ALL SELECT id FROM h2))
SELECT id, hops FROM h0 UNION ALL SELECT id, hops FROM h1
UNION ALL SELECT id, hops FROM h2 UNION ALL SELECT id, hops FROM h3
"""


def triangles_copurchase_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the part co-purchase graph (parts appearing
    in the same order are adjacent) via degree-ordered orientation
    (operators/graph.triangle_stats): each triangle counted once from its
    minimum-(degree,id) corner, wedge-center out-degree bounded O(sqrt(m))."""
    from jsonschema_spark.operators.graph import triangle_stats

    li = _t(spark, sf_dir, "lineitem")
    # deterministic 1-in-4 order sample: the census is quadratic in wedge
    # count, so the headline entry bounds the graph; the operator is exact
    # on whatever edge relation it is handed
    items = (
        li.where(F.col("l_orderkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return triangle_stats(edges)


ORACLE_TRIANGLES = """
WITH pairs AS (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS x,
                  greatest(a.l_partkey, b.l_partkey) AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 4 = 0),
deg AS (
  SELECT id, count(*) AS d
  FROM (SELECT x AS id FROM pairs UNION ALL SELECT y AS id FROM pairs)
  GROUP BY 1),
o AS (
  SELECT CASE WHEN (dx.d, p.x) < (dy.d, p.y) THEN p.x ELSE p.y END AS u,
         CASE WHEN (dx.d, p.x) < (dy.d, p.y) THEN p.y ELSE p.x END AS v,
         CASE WHEN (dx.d, p.x) < (dy.d, p.y) THEN dy.d ELSE dx.d END AS dv
  FROM pairs p JOIN deg dx ON dx.id = p.x JOIN deg dy ON dy.id = p.y),
tri AS (
  SELECT count(*) AS n
  FROM o e1
  JOIN o e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
  JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM pairs) AS n_edges,
       (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT) FROM deg) AS n_triples,
       (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles
"""


def entity_matches_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage over canonical part names: multi-pass blocking
    (first token ∪ last token ∪ 4-char prefix) + levenshtein <= 3 on the
    distinct-name relation
    (operators/linkage.blocked_entity_matches) — candidate pairs come from
    block-keyed equi-joins, never a cross join; oversized blocks purge."""
    from jsonschema_spark.operators.linkage import blocked_entity_matches

    p = _t(spark, sf_dir, "part")
    return blocked_entity_matches(p, "p_name", max_dist=3, max_block=10_000)


_ENTITY_CTES = """names AS (SELECT p_name AS name, count(*) AS n FROM part
               WHERE p_name IS NOT NULL GROUP BY 1),
tk AS (SELECT name, n, string_split(name, ' ') AS t FROM names),
keys AS (SELECT name, n,
         unnest(list_distinct([t[1], t[-1], substr(name, 1, 4)])) AS bk FROM tk),
bs AS (SELECT bk, count(*) AS c FROM keys GROUP BY 1),
k2 AS (SELECT keys.name, keys.n, keys.bk FROM keys JOIN bs USING (bk)
       WHERE bs.c <= 10000),
cand AS (SELECT DISTINCT a.name AS name_a, a.n AS n_a,
                         b.name AS name_b, b.n AS n_b
         FROM k2 a JOIN k2 b ON a.bk = b.bk AND a.name < b.name)"""

ORACLE_ENTITY_MATCHES = (
    "WITH "
    + _ENTITY_CTES
    + """
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INT) AS dist, n_a, n_b
FROM cand WHERE levenshtein(name_a, name_b) <= 3
"""
)


def bpe_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 BPE merge rules learned from the documents corpus
    (operators/bpe.bpe_train_merges): one corpus pass to the word
    vocabulary, then per-round pair-stats groupBy + 1-row argmax collect +
    row-local greedy merge fold, localCheckpoint per round."""
    from jsonschema_spark.operators.bpe import bpe_train_merges

    d = _t(spark, sf_dir, "documents", hot=True)
    return bpe_train_merges(d, "text", rounds=4)


def _bpe_oracle_sql(rounds: int = 4) -> str:
    """Chained-CTE replica of bpe_train_merges: per round, weighted
    adjacent-pair counts + deterministic argmax; the greedy
    non-overlapping merge is the gaps-and-islands form (a candidate
    position fires iff its rank inside its maximal consecutive-candidate
    run is odd) — provably the same rewrite as the Spark stack fold."""
    # Every CTE is MATERIALIZED: each round reads its predecessors more than
    # once (s by p and e, c by f and m, f twice, b twice), and DuckDB inlines
    # each reference of a plain CTE, so the plan would grow geometrically
    # with the round count. The apply chain below does the same.
    ctes = [
        """w0 AS MATERIALIZED (SELECT w, count(*) AS n FROM (
    SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
    FROM documents) WHERE w <> '' GROUP BY 1)""",
        """v0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>' AS sym, CAST(n AS BIGINT) AS n FROM w0)""",
    ]
    for r in range(rounds):
        ctes.append(
            f"""s{r} AS MATERIALIZED (SELECT sym, n, string_split(sym, ' ') AS s FROM v{r})"""
        )
        ctes.append(
            f"""p{r} AS MATERIALIZED (SELECT s[t.j] AS l, s[t.j + 1] AS r, CAST(sum(n) AS BIGINT) AS cnt
    FROM s{r}, unnest(range(1, len(s))) AS t(j) GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""b{r} AS MATERIALIZED (SELECT l, r, cnt FROM p{r} ORDER BY cnt DESC, l, r LIMIT 1)"""
        )
        if r < rounds - 1:
            ctes.append(
                f"""e{r} AS MATERIALIZED (SELECT sym, n, t.j, s[t.j] AS x, len(s) AS m, s
    FROM s{r}, unnest(range(1, len(s) + 1)) AS t(j))"""
            )
            ctes.append(
                f"""c{r} AS MATERIALIZED (SELECT e.*, (e.x = b.l AND e.j < e.m AND e.s[e.j + 1] = b.r) AS cand
    FROM e{r} e CROSS JOIN b{r} b)"""
            )
            ctes.append(
                f"""f{r} AS MATERIALIZED (SELECT sym, j FROM (
      SELECT sym, j, j - row_number() OVER (PARTITION BY sym ORDER BY j) AS grp
      FROM c{r} WHERE cand)
    QUALIFY row_number() OVER (PARTITION BY sym, grp ORDER BY j) % 2 = 1)"""
            )
            ctes.append(
                f"""m{r} AS MATERIALIZED (SELECT e.sym AS osym, any_value(e.n) AS n,
      string_agg(CASE WHEN f.j IS NOT NULL THEN (SELECT l || r FROM b{r}) ELSE e.x END,
                 ' ' ORDER BY e.j) AS sym
    FROM c{r} e
    LEFT JOIN f{r} f ON f.sym = e.sym AND f.j = e.j
    LEFT JOIN f{r} g ON g.sym = e.sym AND g.j = e.j - 1
    WHERE g.j IS NULL
    GROUP BY e.sym)"""
            )
            ctes.append(
                f"""v{r + 1} AS MATERIALIZED (SELECT sym, CAST(sum(n) AS BIGINT) AS n FROM m{r} GROUP BY 1)"""
            )
    finals = [
        f"SELECT CAST({r} AS INT) AS round, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, cnt AS pair_n FROM b{r}"
        for r in range(rounds)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(finals)


ORACLE_BPE_TRAIN = _bpe_oracle_sql(4)


def hll_registers_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog register relation over orders.o_custkey
    (operators/sketches.hll_build): ≤256 (reg, max_rho) rows from one
    map-side-max groupBy; union+max merges sketches without raw data.
    Complements cardinality_orders (Spark's built-in HLL) with a sketch
    whose REGISTERS are portable and DuckDB-replayable bit-for-bit."""
    from jsonschema_spark.operators.sketches import hll_build

    o = _t(spark, sf_dir, "orders")
    return hll_build(o, "o_custkey")


ORACLE_HLL_REGISTERS = """
WITH h AS (
  SELECT md5('hll:' || CAST(o_custkey AS VARCHAR)) AS hx
  FROM orders WHERE o_custkey IS NOT NULL),
parts AS (
  SELECT CAST(('0x' || substr(hx, 1, 2)) AS INT) AS reg,
         substr(hx, 3, 30) AS rem
  FROM h),
rho AS (
  SELECT reg,
         CASE WHEN rem SIMILAR TO '0+' THEN 121
              ELSE CAST(len(regexp_extract(rem, '^(0*)', 1)) * 4 +
                   CASE WHEN substr(regexp_extract(rem, '^0*(.)', 1), 1, 1)
                             IN ('8','9','a','b','c','d','e','f') THEN 0
                        WHEN regexp_extract(rem, '^0*(.)', 1) IN ('4','5','6','7') THEN 1
                        WHEN regexp_extract(rem, '^0*(.)', 1) IN ('2','3') THEN 2
                        ELSE 3 END + 1 AS INT)
         END AS rho
  FROM parts)
SELECT reg, CAST(max(rho) AS INT) AS max_rho FROM rho GROUP BY reg
"""


def entity_resolve_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked Levenshtein matches →
    connected components (min-label propagation, dedup.duplicate_clusters)
    → canonical entity table (entity_id = min member name; canonical
    member = highest raw-row support, ties to lexicographically first
    name). The composition that turns pairwise linkage evidence into a
    usable master-entity relation."""
    from jsonschema_spark.operators.dedup import duplicate_clusters
    from jsonschema_spark.operators.linkage import blocked_entity_matches

    p = _t(spark, sf_dir, "part")
    matches = blocked_entity_matches(p, "p_name", max_dist=3, max_block=10_000)
    pairs = matches.select(
        F.col("name_a").alias("id_a"), F.col("name_b").alias("id_b")
    )
    clusters = duplicate_clusters(pairs)
    support = p.groupBy(F.col("p_name").alias("id")).agg(
        F.count(F.lit(1)).alias("n")
    )
    joined = clusters.join(support, "id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n"), "id")
    return joined.select(
        F.col("cluster_id").alias("entity_id"),
        F.col("id").alias("name"),
        "n",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


ORACLE_ENTITY_RESOLVE = (
    "WITH RECURSIVE "
    + _ENTITY_CTES
    + """,
m AS (SELECT name_a, name_b FROM cand WHERE levenshtein(name_a, name_b) <= 3),
edges AS (SELECT name_a AS src, name_b AS dst FROM m
          UNION ALL SELECT name_b AS src, name_a AS dst FROM m),
nds AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nds
  UNION
  SELECT e.dst AS id, r.label FROM edges e JOIN reach r ON r.id = e.src),
cl AS (SELECT id, min(label) AS entity_id FROM reach GROUP BY id),
sup AS (SELECT p_name AS id, count(*) AS n FROM part GROUP BY 1),
j AS (SELECT cl.entity_id, cl.id AS name, sup.n FROM cl JOIN sup USING (id))
SELECT entity_id, name, n,
       (row_number() OVER (PARTITION BY entity_id ORDER BY n DESC, name)) = 1
         AS is_canonical
FROM j
"""
)


def cms_join_size_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from sketches alone: CMS inner product
    of the orders/lineitem orderkey sketches (operators/sketches.
    cms_join_size) next to the exact join count — the planner-style
    "cost a join without touching the tables" primitive."""
    from jsonschema_spark.operators.sketches import cms_build, cms_join_size

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("k")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("k")
    )
    est = cms_join_size(
        cms_build(o, "k", depth=4, width=65536),
        cms_build(li, "k", depth=4, width=65536),
    )
    # exact |A ⋈ B| without materializing the join: Σ_k cntA(k)·cntB(k)
    ca = o.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
    cb = li.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
    exact = (
        ca.join(cb, "k")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("exact_rows"))
    )
    return est.crossJoin(exact)


ORACLE_CMS_JOIN_SIZE = """
WITH ka AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
kb AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
ca AS (SELECT t.d,
         CAST(('0x' || substr(md5('cms:' || k), 1 + 8 * t.d, 8))
              AS BIGINT) % 65536 AS col,
         count(*) AS cnt
       FROM ka, unnest(range(0, 4)) AS t(d) GROUP BY 1, 2),
cb AS (SELECT t.d,
         CAST(('0x' || substr(md5('cms:' || k), 1 + 8 * t.d, 8))
              AS BIGINT) % 65536 AS col,
         count(*) AS cnt
       FROM kb, unnest(range(0, 4)) AS t(d) GROUP BY 1, 2),
dot AS (SELECT ca.d, sum(ca.cnt * cb.cnt) AS dot
        FROM ca JOIN cb USING (d, col) GROUP BY 1)
SELECT (SELECT CAST(min(dot) AS BIGINT) FROM dot) AS est_rows,
       (SELECT count(*) FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
         AS exact_rows
"""


def hll_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct-user HLL sketches over the events stream: one
    register relation per day (operators/sketches.hll_build group mode).
    These are the per-partition sketches a 100 TB pipeline checkpoints and
    later hll_merge's into weekly/monthly rollups without re-reading raw
    events (union + max per register — tested exact)."""
    from jsonschema_spark.operators.sketches import hll_build

    ev = _t(spark, sf_dir, "events")
    staged = ev.select(
        F.to_date("ts").cast("string").alias("day"), F.col("user_id")
    )
    return hll_build(staged, "user_id", group_cols=("day",))


ORACLE_HLL_DAILY = """
WITH h AS (
  SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
         md5('hll:' || CAST(user_id AS VARCHAR)) AS hx
  FROM events WHERE user_id IS NOT NULL),
parts AS (
  SELECT day, CAST(('0x' || substr(hx, 1, 2)) AS INT) AS reg,
         substr(hx, 3, 30) AS rem
  FROM h),
rho AS (
  SELECT day, reg,
         CASE WHEN rem SIMILAR TO '0+' THEN 121
              ELSE CAST(len(regexp_extract(rem, '^(0*)', 1)) * 4 +
                   CASE WHEN regexp_extract(rem, '^0*(.)', 1)
                             IN ('8','9','a','b','c','d','e','f') THEN 0
                        WHEN regexp_extract(rem, '^0*(.)', 1) IN ('4','5','6','7') THEN 1
                        WHEN regexp_extract(rem, '^0*(.)', 1) IN ('2','3') THEN 2
                        ELSE 3 END + 1 AS INT)
         END AS rho
  FROM parts)
SELECT day, reg, CAST(max(rho) AS INT) AS max_rho FROM rho GROUP BY day, reg
"""


def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (minimize retail price, maximize size). NO self-join/anti-join — the
    classic sort-based skyline as two window aggregates: a row is
    dominated iff a STRICTLY cheaper row has size >= its size (running
    max over a RANGE frame ending 1 price-unit before the current row) or
    a same-price row has strictly larger size. One sort exchange, linear
    work — the quadratic NOT EXISTS form this replaces is the textbook
    scale trap."""
    p = _t(spark, sf_dir, "part")
    staged = p.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("int").alias("size"),
    )
    w_cheaper = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("price_cents")
    dominated = (
        F.coalesce(F.max("size").over(w_cheaper), F.lit(-1)) >= F.col("size")
    ) | (F.max("size").over(w_same) > F.col("size"))
    return staged.withColumn("__dom", dominated).where(~F.col("__dom")).select(
        "p_partkey", "price_cents", "size"
    )


ORACLE_SKYLINE = """
WITH staged AS (
  SELECT p_partkey,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS INT) AS size
  FROM part),
flagged AS (
  SELECT p_partkey, price_cents, size,
         (coalesce(max(size) OVER (ORDER BY price_cents
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) >= size
          OR max(size) OVER (PARTITION BY price_cents) > size) AS dom
  FROM staged)
SELECT p_partkey, price_cents, size FROM flagged WHERE NOT dom
"""


def greedy_cover_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-based data selection: the 3 documents that greedily
    maximize distinct 3-gram shingle coverage (operators/cover.
    greedy_cover) — per round one anti-join + gains groupBy + 1-row
    argmax; the covered set shrinks the pair relation monotonically."""
    from jsonschema_spark.operators.cover import greedy_cover

    d = _t(spark, sf_dir, "documents", hot=True)
    return greedy_cover(d, "doc_id", "text", k=3, shingle_n=3)


ORACLE_GREEDY_COVER = """
WITH t AS (SELECT doc_id AS id,
       string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents),
pairs AS (
  SELECT DISTINCT id, md5(array_to_string(list_slice(toks, i, i + 2), ' ')) AS sh
  FROM t, unnest(range(1, len(toks) - 3 + 2)) AS r(i) WHERE len(toks) >= 3
  UNION
  SELECT DISTINCT id, md5(array_to_string(toks, ' ')) AS sh FROM t WHERE len(toks) < 3),
g0 AS (SELECT id, count(*) AS gain FROM pairs GROUP BY 1),
b0 AS (SELECT id, gain FROM g0 ORDER BY gain DESC, id LIMIT 1),
cov0 AS (SELECT DISTINCT sh FROM pairs JOIN b0 USING (id)),
rem1 AS (SELECT p.id, p.sh FROM pairs p
         WHERE p.id NOT IN (SELECT id FROM b0)
           AND NOT EXISTS (SELECT 1 FROM cov0 c WHERE c.sh = p.sh)),
g1 AS (SELECT id, count(*) AS gain FROM rem1 GROUP BY 1),
b1 AS (SELECT id, gain FROM g1 ORDER BY gain DESC, id LIMIT 1),
cov1 AS (SELECT sh FROM cov0 UNION SELECT DISTINCT sh FROM rem1 JOIN b1 USING (id)),
rem2 AS (SELECT p.id, p.sh FROM rem1 p
         WHERE p.id NOT IN (SELECT id FROM b1)
           AND NOT EXISTS (SELECT 1 FROM cov1 c WHERE c.sh = p.sh)),
g2 AS (SELECT id, count(*) AS gain FROM rem2 GROUP BY 1),
b2 AS (SELECT id, gain FROM g2 ORDER BY gain DESC, id LIMIT 1)
SELECT CAST(0 AS INT) AS round, CAST(id AS BIGINT) AS doc_id,
       CAST(gain AS BIGINT) AS gain,
       CAST((SELECT gain FROM b0) AS BIGINT) AS covered_total FROM b0
UNION ALL
SELECT 1, id, gain,
       (SELECT gain FROM b0) + (SELECT gain FROM b1) FROM b1
UNION ALL
SELECT 2, id, gain,
       (SELECT gain FROM b0) + (SELECT gain FROM b1) + (SELECT gain FROM b2) FROM b2
"""


def group_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group type-7 quantiles (P25/P50/P75/P95 of l_quantity per
    l_returnflag) from ONE scan via the bounded distinct-value histogram
    (operators/stats.group_quantiles) — no per-prob re-sort of raw rows."""
    from jsonschema_spark.operators.stats import group_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return group_quantiles(li, "l_returnflag", "l_quantity")


def _oracle_group_quantiles() -> str:
    snap = "floor({x} * 1000000.0 + 0.000001) / 1000000.0"
    parts = [
        f"SELECT l_returnflag, CAST({p} AS DOUBLE) AS p, "
        + snap.format(x=f"quantile_cont(l_quantity, {p})")
        + " AS q FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1"
        for p in (0.25, 0.5, 0.75, 0.95)
    ]
    return "\nUNION ALL\n".join(parts)


ORACLE_GROUP_QUANTILES = _oracle_group_quantiles()


def cube_lang_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(lang, source) over documents: counts + exact char sums for all
    four grouping-set levels in ONE Expand+aggregate pass (completes the
    OLAP set beside rollup_daily_events / pivot_lang_source_docs /
    star_join_revenue). grouping_id disambiguates levels identically in
    both engines (first cube column = MSB)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.cube("lang", "source")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("lang", "source", "gid", "n_docs", "sum_chars")
    )


ORACLE_CUBE = """
SELECT lang, source,
       CAST(GROUPING(lang, source) AS BIGINT) AS gid,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY CUBE (lang, source)
"""


def logreg_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression (operators/logreg.fit_logreg):
    3 full-batch gradient steps predicting lang='en' from bounded text
    features (ln(1+chars), tokens/100). One aggregation per round, model
    as literals, weights snapped per round so the SQL replica's rounds
    consume bit-identical inputs."""
    from jsonschema_spark.operators.dedup import tokens
    from jsonschema_spark.operators.logreg import fit_logreg

    d = _t(spark, sf_dir, "documents", hot=True)
    staged = d.select(
        F.log(F.lit(1.0) + F.col("n_chars")).alias("x1"),
        (F.size(tokens(F.col("text"))) / 100.0).alias("x2"),
        (F.col("lang") == "en").alias("y"),
    )
    return fit_logreg(staged, ["x1", "x2"], "y", iterations=3, lr=0.5)


def _oracle_logreg(iterations: int = 3, lr: float = 0.5) -> str:
    snap = "floor(({x}) * 1000000.0 + 0.000001) / 1000000.0"
    feats = ["bias", "x1", "x2"]
    ctes = [
        """t AS (SELECT 1.0 AS bias,
       ln(1 + n_chars) AS x1,
       len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) / 100.0 AS x2,
       CAST(lang = 'en' AS DOUBLE) AS y
  FROM documents)""",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t)",
        "w0 AS (SELECT 0.0 AS wbias, 0.0 AS wx1, 0.0 AS wx2)",
    ]
    for r in range(iterations):
        z = " + ".join(f"w{r}.w{c} * t.{c}" for c in feats)
        gsums = ", ".join(
            f"sum((1.0 / (1.0 + exp(-({z}))) - t.y) * t.{c}) AS g{c}"
            for c in feats
        )
        ctes.append(f"g{r} AS (SELECT {gsums} FROM t, w{r})")
        steps = ", ".join(
            snap.format(x=f"w{r}.w{c} - {lr!r} * g{r}.g{c} / nn.n") + f" AS w{c}"
            for c in feats
        )
        ctes.append(f"w{r + 1} AS (SELECT {steps} FROM w{r}, g{r}, nn)")
    finals = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS feature, w{c} AS weight FROM w{iterations}"
        for c in feats
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


ORACLE_LOGREG = _oracle_logreg()


def stream_hll_replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING entry in the driver gate: replay the events
    table through `streaming/sketch_stream.stream_hll_windows` (per-DAY
    distinct-user HLL registers, availableNow trigger, memory sink) and
    return the emitted rows. Deterministic: append mode emits exactly the
    windows whose end <= final watermark (max event time, delay 0s), and
    the registers are the same md5-derived monoid as the batch sketch —
    so a plain SQL oracle reproduces the STREAM output bit-for-bit. The
    checkpoint is fresh per call (replay, not resume; resume semantics
    are covered by tests/test_streaming.py)."""
    import os
    import tempfile
    import uuid

    from jsonschema_spark.streaming.sketch_stream import stream_hll_windows

    src = os.path.join(sf_dir, "events.parquet")
    stage = _stage_stream_source(sf_dir, "events")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stage)
        # parquet stores TIMESTAMP_NTZ; watermarks require TIMESTAMP (the
        # session zone is pinned UTC, so the cast is a deterministic relabel)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stream_hll_windows(
        stream, "ts", "user_id", window_duration="1 day", watermark="0 seconds"
    )
    name = f"hll_replay_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="hll_replay_ckpt_")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    # a timeout would silently read a partial memory-sink table (round-4
    # advice): fail loudly instead
    assert q.awaitTermination(300), "stream_hll_replay: query did not finish in 300s"
    return spark.table(name).select(
        F.col("window_start").cast("date").cast("string").alias("day"),
        "reg",
        "max_rho",
    )


ORACLE_STREAM_HLL_REPLAY = """
WITH h AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
         md5('hll:' || CAST(user_id AS VARCHAR)) AS hx
  FROM events WHERE user_id IS NOT NULL),
parts AS (
  SELECT ws, CAST(('0x' || substr(hx, 1, 2)) AS INT) AS reg,
         substr(hx, 3, 30) AS rem
  FROM h),
rho AS (
  SELECT ws, reg,
         CASE WHEN rem SIMILAR TO '0+' THEN 121
              ELSE CAST(len(regexp_extract(rem, '^(0*)', 1)) * 4 +
                   CASE WHEN regexp_extract(rem, '^0*(.)', 1)
                             IN ('8','9','a','b','c','d','e','f') THEN 0
                        WHEN regexp_extract(rem, '^0*(.)', 1) IN ('4','5','6','7') THEN 1
                        WHEN regexp_extract(rem, '^0*(.)', 1) IN ('2','3') THEN 2
                        ELSE 3 END + 1 AS INT)
         END AS rho
  FROM parts),
win AS (SELECT ws, reg, CAST(max(rho) AS INT) AS max_rho FROM rho GROUP BY 1, 2),
wm AS (SELECT max(ts) AS m FROM events)
SELECT CAST(CAST(win.ws AS DATE) AS VARCHAR) AS day, win.reg, win.max_rho
FROM win, wm WHERE win.ws + INTERVAL 1 DAY <= wm.m
"""


def bins_quantity_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (quantile) binning of l_quantity into 4 bins
    (operators/stats.equal_frequency_bins): snapped type-7 edges from the
    single-scan value histogram, assignment re-aggregated over the SAME
    histogram against the broadcast edge row — raw rows scanned once."""
    from jsonschema_spark.operators.stats import equal_frequency_bins

    li = _t(spark, sf_dir, "lineitem")
    return equal_frequency_bins(li, "l_quantity", n_bins=4)


def _oracle_bins() -> str:
    snap = "floor(quantile_cont(l_quantity, {p}) * 1000000.0 + 0.000001) / 1000000.0"
    edges = ", ".join(
        snap.format(p=p) + f" AS e{i}"
        for i, p in enumerate((0.0, 0.25, 0.5, 0.75, 1.0))
    )
    return f"""
WITH e AS (SELECT {edges} FROM lineitem WHERE l_quantity IS NOT NULL),
b AS (SELECT l_quantity AS v FROM lineitem WHERE l_quantity IS NOT NULL),
a AS (SELECT CASE WHEN v <= e.e1 THEN 0 WHEN v <= e.e2 THEN 1
                  WHEN v <= e.e3 THEN 2 ELSE 3 END AS bin,
             count(*) AS n
      FROM b, e GROUP BY 1)
SELECT CAST(a.bin AS INT) AS bin,
       CASE a.bin WHEN 0 THEN e.e0 WHEN 1 THEN e.e1 WHEN 2 THEN e.e2 ELSE e.e3 END AS lo,
       CASE a.bin WHEN 0 THEN e.e1 WHEN 1 THEN e.e2 WHEN 2 THEN e.e3 ELSE e.e4 END AS hi,
       CAST(a.n AS BIGINT) AS n
FROM a, e
"""


ORACLE_BINS = _oracle_bins()


def zorder_layout_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit: interleave l_quantity with a
    price-bucket (operators/layout.zorder_key), group rows into 64
    z-ranges, and report each range's row count plus min/max of BOTH
    dimensions — the zone-map view a ZORDER-clustered file layout would
    expose. Tight per-range bounds on both axes are exactly why the
    interleaved sort key prunes 2-D predicates where a lexicographic sort
    cannot."""
    from jsonschema_spark.operators.layout import zorder_key

    li = _t(spark, sf_dir, "lineitem")
    staged = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.floor(F.col("l_extendedprice") / 1000).cast("bigint").alias("pb"),
    )
    z = zorder_key(F.col("q"), F.col("pb"), bits=6)
    return (
        staged.withColumn("zbucket", F.shiftright(z, 6))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("q").alias("q_min"),
            F.max("q").alias("q_max"),
            F.min("pb").alias("pb_min"),
            F.max("pb").alias("pb_max"),
        )
    )


ORACLE_ZORDER = """
WITH staged AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(floor(l_extendedprice / 1000) AS BIGINT) AS pb
  FROM lineitem),
clamped AS (
  SELECT q, pb,
         least(greatest(q, 0), 63) AS qc,
         least(greatest(pb, 0), 63) AS pc
  FROM staged),
zk AS (
  SELECT q, pb,
         ( ((qc >> 0) % 2) * 1 + ((pc >> 0) % 2) * 2
         + ((qc >> 1) % 2) * 4 + ((pc >> 1) % 2) * 8
         + ((qc >> 2) % 2) * 16 + ((pc >> 2) % 2) * 32
         + ((qc >> 3) % 2) * 64 + ((pc >> 3) % 2) * 128
         + ((qc >> 4) % 2) * 256 + ((pc >> 4) % 2) * 512
         + ((qc >> 5) % 2) * 1024 + ((pc >> 5) % 2) * 2048 ) AS z
  FROM clamped)
SELECT CAST(z >> 6 AS BIGINT) AS zbucket,
       count(*) AS n,
       min(q) AS q_min, max(q) AS q_max,
       min(pb) AS pb_min, max(pb) AS pb_max
FROM zk GROUP BY 1
"""


def bpe_apply_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train→apply loop closed: learn 4 merges on the documents
    corpus, rewrite the distinct-word vocabulary through them, and price
    every document's token count under the learned subwords
    (operators/bpe.bpe_token_counts) — per-doc counts come from a
    words⋈vocab equi-join, never a per-document re-merge."""
    from jsonschema_spark.operators.bpe import bpe_token_counts

    d = _t(spark, sf_dir, "documents", hot=True)
    return bpe_token_counts(d, "doc_id", "text", rounds=4)


def _bpe_apply_round(src: str, key: str, brule: str, out: str, tag: str) -> list[str]:
    """CTE block applying one merge rule to (key, sym) rows — the
    gaps-and-islands greedy form keyed on `key`."""
    return [
        f"""{tag}s AS MATERIALIZED (SELECT {key}, sym, string_split(sym, ' ') AS s FROM {src})""",
        f"""{tag}e AS MATERIALIZED (SELECT {key}, t.j, s[t.j] AS x, len(s) AS m, s
    FROM {tag}s, unnest(range(1, len(s) + 1)) AS t(j))""",
        f"""{tag}c AS MATERIALIZED (SELECT e.*, (e.x = b.l AND e.j < e.m AND e.s[e.j + 1] = b.r) AS cand
    FROM {tag}e e CROSS JOIN {brule} b)""",
        f"""{tag}f AS MATERIALIZED (SELECT {key}, j FROM (
      SELECT {key}, j, j - row_number() OVER (PARTITION BY {key} ORDER BY j) AS grp
      FROM {tag}c WHERE cand)
    QUALIFY row_number() OVER (PARTITION BY {key}, grp ORDER BY j) % 2 = 1)""",
        f"""{out} AS MATERIALIZED (SELECT e.{key},
      string_agg(CASE WHEN f.j IS NOT NULL THEN (SELECT l || r FROM {brule}) ELSE e.x END,
                 ' ' ORDER BY e.j) AS sym
    FROM {tag}c e
    LEFT JOIN {tag}f f ON f.{key} = e.{key} AND f.j = e.j
    LEFT JOIN {tag}f g ON g.{key} = e.{key} AND g.j = e.j - 1
    WHERE g.j IS NULL
    GROUP BY e.{key})""",
    ]


def _bpe_apply_oracle_sql(rounds: int = 4) -> str:
    """Training chain (same as ORACLE_BPE_TRAIN) + per-WORD application of
    all learned rules + per-document rollup."""
    base = _bpe_oracle_sql(rounds)
    train_ctes = base[len("WITH ") : base.rindex("\nSELECT CAST(0")]
    ctes = [train_ctes]
    # the training chain only materializes merges up to v{rounds-1}; the
    # apply chain rewrites the distinct-WORD relation through ALL rules
    ctes.append(
        """wd AS MATERIALIZED (SELECT doc_id AS id, w, count(*) AS n FROM (
    SELECT doc_id,
           unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
    FROM documents) WHERE w <> '' GROUP BY 1, 2)"""
    )
    ctes.append(
        """a0 AS MATERIALIZED (SELECT w, regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>' AS sym
    FROM (SELECT DISTINCT w FROM wd))"""
    )
    for r in range(rounds):
        ctes.extend(_bpe_apply_round(f"a{r}", "w", f"b{r}", f"a{r + 1}", f"ap{r}"))
    ctes.append(
        f"""lens AS MATERIALIZED (SELECT w, len(w) + 1 AS pre,
    len(string_split(sym, ' ')) AS post FROM a{rounds})"""
    )
    final = """SELECT wd.id AS id, CAST(sum(wd.n) AS BIGINT) AS n_words,
       CAST(sum(wd.n * lens.pre) AS BIGINT) AS n_chars_syms,
       CAST(sum(wd.n * lens.post) AS BIGINT) AS n_bpe_syms
FROM wd JOIN lens USING (w) GROUP BY 1"""
    return "WITH " + ",\n".join(ctes) + "\n" + final


ORACLE_BPE_APPLY = _bpe_apply_oracle_sql(4)


def kmv_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day KMV (bottom-k) distinct-user sketches plus their rollup:
    build a k=64 min-wise sample sketch per day over events.user_id
    (operators/sketches.kmv_build — threshold-prefiltered so the wide ops
    see ~8k rows per group, never the raw domain), estimate each day's
    distinct count from the sketch in exact integer arithmetic, then
    kmv_merge the per-day sketches into an 'ALL' rollup WITHOUT touching
    raw data — min-wise sampling is hash-coordinated, so bottom-k of the
    per-day bottom-k union is exactly the global bottom-k. Completes the
    mergeable-sketch algebra beside HLL (registers) and CMS (counters)
    with the one sketch that is also a uniform SAMPLE of the domain."""
    from jsonschema_spark.operators.sketches import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date").cast("string")
    )
    sk = kmv_build(ev, "user_id", k=64, group_cols=("day",))
    daily = kmv_estimate(sk, k=64, group_cols=("day",))
    rollup = kmv_merge(sk.withColumn("day", F.lit("ALL")), k=64, group_cols=("day",))
    merged = kmv_estimate(rollup, k=64, group_cols=("day",))
    return daily.unionByName(merged)


ORACLE_KMV_DAILY = """
WITH t AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         md5('kmv:' || CAST(user_id AS VARCHAR)) AS hx
  FROM events WHERE user_id IS NOT NULL),
d AS (SELECT DISTINCT day, hx FROM t),
r AS (SELECT day, hx, row_number() OVER (PARTITION BY day ORDER BY hx) AS rk FROM d),
g AS (SELECT DISTINCT hx FROM t),
gr AS (SELECT hx, row_number() OVER (ORDER BY hx) AS rk FROM g),
allsk AS (
  SELECT day, hx FROM r WHERE rk <= 64
  UNION ALL
  SELECT 'ALL' AS day, hx FROM gr WHERE rk <= 64),
agg AS (
  SELECT day, count(*) AS n_sketch,
         max(CAST(('0x' || substr(hx, 1, 12)) AS BIGINT)) AS kth
  FROM allsk GROUP BY day)
SELECT day, CAST(n_sketch AS BIGINT) AS n_sketch,
       CAST(CASE WHEN n_sketch < 64 THEN n_sketch
                 ELSE CAST(17732923532771328 AS BIGINT) // kth END AS BIGINT) AS est
FROM agg
"""


def mmd_drift_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment embedding drift between label cohorts: pairwise MMD²
    under the degree-2 polynomial kernel (operators/drift.
    embedding_mmd_drift) — ‖C_A − C_B‖²_F over per-cohort second-moment
    matrices. Complements `centroid_drift_embeddings` (first moment): a
    cohort whose covariance spreads or rotates around an unmoved mean is
    invisible to the centroid cosine but lights up here. Pure +/· all the
    way down (no transcendentals), so the oracle matches to float
    precision under the standard 1e-6 snap."""
    from jsonschema_spark.operators.drift import embedding_mmd_drift

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_mmd_drift(emb, "embedding", "label")


ORACLE_MMD_DRIFT = """
WITH src AS (
  SELECT label AS cohort, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
e1 AS (
  SELECT cohort, e, generate_subscripts(e, 1) AS i, unnest(e) AS vi FROM src),
e2 AS (
  SELECT cohort, i, vi, generate_subscripts(e, 1) AS j, unnest(e) AS vj FROM e1),
cells AS (
  SELECT cohort, i, j, sum(vi * vj) AS s, count(*) AS c
  FROM e2 GROUP BY 1, 2, 3),
pairs AS (
  SELECT a.cohort AS cohort_a, b.cohort AS cohort_b,
         max(a.c) AS n_a, max(b.c) AS n_b,
         sum((a.s / a.c - b.s / b.c) * (a.s / a.c - b.s / b.c)) AS m2
  FROM cells a JOIN cells b ON a.i = b.i AND a.j = b.j AND a.cohort < b.cohort
  GROUP BY 1, 2)
SELECT cohort_a, cohort_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       floor(m2 * 1000000.0 + 0.000001) / 1000000.0 AS mmd2
FROM pairs
"""


def compaction_plan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan (operators/layout.compaction_plan) over a
    deterministic synthetic manifest: one 'file' per (day, user bucket)
    with size = Σ(props bytes + 64 B row overhead) — the accretion pattern
    a per-day streaming ingest leaves behind. Files are binned toward a
    4 KiB target by size-desc cumulative-sum blocking; output is the
    rewrite task list (partition, bin, n_files, total_bytes). The window
    cumsum runs over the MANIFEST relation (metadata scale), never the
    data."""
    from jsonschema_spark.operators.layout import compaction_plan

    ev = _t(spark, sf_dir, "events")
    manifest = (
        ev.groupBy(
            F.col("ts").cast("date").cast("string").alias("part"),
            F.coalesce(F.col("user_id") % 16, F.lit(-1)).alias("file_id"),
        )
        .agg(
            F.sum(F.length(F.coalesce(F.col("props"), F.lit(""))) + 64).alias(
                "size_bytes"
            )
        )
    )
    return compaction_plan(
        manifest,
        partition_col="part",
        file_col="file_id",
        size_col="size_bytes",
        target_bytes=4096,
    )


ORACLE_COMPACTION_PLAN = """
WITH m AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS part,
         COALESCE(user_id % 16, -1) AS file_id,
         SUM(length(COALESCE(props, '')) + 64) AS size_bytes
  FROM events GROUP BY 1, 2),
w AS (
  SELECT part, size_bytes,
         COALESCE(SUM(size_bytes) OVER (
             PARTITION BY part ORDER BY size_bytes DESC, file_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM m)
SELECT part AS partition, CAST(cum_before // 4096 AS BIGINT) AS bin,
       count(*) AS n_files, CAST(sum(size_bytes) AS BIGINT) AS total_bytes
FROM w GROUP BY 1, 2
"""


def cdc_apply_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a synthesized CDC changeset into the events table
    (operators/cdc.apply_cdc_batch) and report the per-day post-merge
    audit: deletes for event_id % 13 == 5, value updates (+100) for
    event_id % 7 == 3 (minus the deleted), inserts under fresh ids for
    event_id % 17 == 2. Output (day, n_rows, n_updated, n_inserted,
    n_deleted, sum_value_milli) — the value sum is per-row-rounded to
    integer millis BEFORE summing so the audit column is exact integer
    arithmetic (no float-accumulation order sensitivity across engines).
    The base table sees exactly one wide op (broadcast anti-join on the
    touched keys); matched-U / fresh-I checks exchange only the base's
    projected key column."""
    from jsonschema_spark.operators.cdc import apply_cdc_batch

    ev = _t(spark, sf_dir, "events")
    cols = ev.columns
    eid = F.col("event_id")
    d_ch = ev.where(eid % 13 == 5).select(F.lit("D").alias("op"), *cols)
    u_ch = (
        ev.where((eid % 7 == 3) & (eid % 13 != 5))
        .withColumn("value", F.col("value") + 100.0)
        .select(F.lit("U").alias("op"), *cols)
    )
    i_ch = (
        ev.where(eid % 17 == 2)
        .withColumn("event_id", eid + 1000000000)
        .select(F.lit("I").alias("op"), *cols)
    )
    merged = apply_cdc_batch(
        ev, d_ch.unionByName(u_ch).unionByName(i_ch), key_col="event_id"
    )
    day = F.col("ts").cast("date").cast("string").alias("day")
    summary = merged.groupBy(day).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("_action") == "updated").cast("bigint")).alias("n_updated"),
        F.sum((F.col("_action") == "inserted").cast("bigint")).alias("n_inserted"),
        F.sum(
            F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("bigint")
        ).alias("sum_value_milli"),
    )
    deletes = (
        ev.where(eid % 13 == 5)
        .groupBy(F.col("ts").cast("date").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_deleted"))
    )
    # FULL outer join (round-4 advice): a day whose rows were ALL deleted has
    # no post-merge summary row, but the audit must still surface its
    # n_deleted instead of silently dropping the day.
    return summary.join(deletes, "day", "full").select(
        "day",
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.coalesce(F.col("n_updated"), F.lit(0)).cast("bigint").alias("n_updated"),
        F.coalesce(F.col("n_inserted"), F.lit(0)).cast("bigint").alias("n_inserted"),
        F.coalesce(F.col("n_deleted"), F.lit(0)).cast("bigint").alias("n_deleted"),
        F.coalesce(F.col("sum_value_milli"), F.lit(0)).cast("bigint").alias("sum_value_milli"),
    )


ORACLE_CDC_APPLY = """
WITH merged AS (
  SELECT ts, value, 'kept' AS act
  FROM events
  WHERE event_id % 13 <> 5 AND NOT (event_id % 7 = 3 AND event_id % 13 <> 5)
  UNION ALL
  SELECT ts, value + 100.0 AS value, 'updated' AS act
  FROM events WHERE event_id % 7 = 3 AND event_id % 13 <> 5
  UNION ALL
  SELECT ts, value, 'inserted' AS act
  FROM events WHERE event_id % 17 = 2),
s AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         count(*) AS n_rows,
         CAST(sum(CASE WHEN act = 'updated' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
         CAST(sum(CASE WHEN act = 'inserted' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
         CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_milli
  FROM merged GROUP BY 1),
del AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS n_deleted
  FROM events WHERE event_id % 13 = 5 GROUP BY 1)
SELECT COALESCE(s.day, del.day) AS day,
       CAST(COALESCE(s.n_rows, 0) AS BIGINT) AS n_rows,
       CAST(COALESCE(s.n_updated, 0) AS BIGINT) AS n_updated,
       CAST(COALESCE(s.n_inserted, 0) AS BIGINT) AS n_inserted,
       CAST(COALESCE(del.n_deleted, 0) AS BIGINT) AS n_deleted,
       CAST(COALESCE(s.sum_value_milli, 0) AS BIGINT) AS sum_value_milli
FROM s FULL OUTER JOIN del ON s.day = del.day
"""


def forecast_backtest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead forecast backtest over the per-(event_type, day)
    mean-value series (operators/timeseries.forecast_backtest): trailing-8
    EWMA with 3/4-decay vs the seasonal-naive (lag-7) baseline, scored by
    MAPE per event_type. The EWMA is a chained-lag literal-weight sum, so
    the fold order is pinned left-associative in both engines."""
    from jsonschema_spark.operators.timeseries import forecast_backtest

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type").alias("etype"),
            F.col("ts").cast("date").cast("string").alias("day"),
        )
        .agg(F.avg("value").alias("mv"))
    )
    return forecast_backtest(
        daily, key_col="etype", day_col="day", value_col="mv"
    ).withColumnRenamed("key", "event_type")


def _forecast_oracle_sql(window: int = 8, decay: float = 0.75, season: int = 7) -> str:
    num = " + ".join(
        f"CASE WHEN lag(mv, {i}) OVER w IS NOT NULL"
        f" THEN lag(mv, {i}) OVER w * {decay ** (i - 1)!r} ELSE 0.0 END"
        for i in range(1, window + 1)
    )
    den = " + ".join(
        f"CASE WHEN lag(mv, {i}) OVER w IS NOT NULL"
        f" THEN {decay ** (i - 1)!r} ELSE 0.0 END"
        for i in range(1, window + 1)
    )
    return f"""
WITH daily AS (
  SELECT event_type AS etype, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         avg(value) AS mv
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
scored AS (
  SELECT etype, mv AS actual,
         CASE WHEN ({den}) > 0 THEN (0.0 + {num}) / (0.0 + {den}) END AS f_ewma,
         lag(mv, {season}) OVER w AS f_snaive
  FROM daily WINDOW w AS (PARTITION BY etype ORDER BY day)),
flags AS (
  SELECT etype, actual, f_ewma, f_snaive,
         (actual IS NOT NULL AND actual <> 0
          AND f_ewma IS NOT NULL AND f_snaive IS NOT NULL) AS ok
  FROM scored)
SELECT etype AS event_type, count(*) AS n_days,
       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
       floor(avg(CASE WHEN ok THEN abs(actual - f_snaive) / abs(actual) END)
             * 1000000.0 + 0.000001) / 1000000.0 AS mape_snaive,
       floor(avg(CASE WHEN ok THEN abs(actual - f_ewma) / abs(actual) END)
             * 1000000.0 + 0.000001) / 1000000.0 AS mape_ewma
FROM flags GROUP BY 1
"""


ORACLE_FORECAST_BACKTEST = _forecast_oracle_sql()


def zone_map_audit_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping audit (operators/layout.zone_map_stats +
    zone_map_prune_audit): synthesize the ingest file layout (4096 order
    keys per file — the natural arrival clustering), build per-file
    min/max/null zone maps in one aggregation pass, and measure how many
    files two range predicates prune from metadata alone. The l_orderkey
    band prunes almost everything (layout-correlated); the l_quantity band
    prunes ~nothing (uncorrelated) — the quantitative case for
    `zorder_layout_lineitem`'s re-clustering, completing the layout
    family: clustering keys (zorder), file sizing (compaction), and now
    the skipping statistics both exist to serve."""
    from jsonschema_spark.operators.layout import (
        zone_map_prune_audit,
        zone_map_stats,
    )

    li = _t(spark, sf_dir, "lineitem")
    rows = li.select(
        F.expr("l_orderkey DIV 4096").alias("file"),
        "l_orderkey",
        "l_quantity",
    )
    zm = zone_map_stats(rows, file_col="file", value_cols=["l_orderkey", "l_quantity"])
    return zone_map_prune_audit(
        zm, [("l_orderkey", 1000, 5000), ("l_quantity", 10, 20)]
    )


ORACLE_ZONE_MAP_AUDIT = """
WITH r AS (
  SELECT l_orderkey // 4096 AS f,
         CAST(l_orderkey AS DOUBLE) AS ok, CAST(l_quantity AS DOUBLE) AS q
  FROM lineitem),
zm AS (
  SELECT f, count(*) AS n_rows,
         min(ok) AS min_ok, max(ok) AS max_ok,
         sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS null_ok,
         min(q) AS min_q, max(q) AS max_q,
         sum(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS null_q
  FROM r GROUP BY 1),
a1 AS (
  SELECT 'l_orderkey' AS "column", CAST(1000.0 AS DOUBLE) AS lo,
         CAST(5000.0 AS DOUBLE) AS hi,
         CAST(count(*) AS BIGINT) AS files_total,
         CAST(sum(CASE WHEN max_ok < 1000.0 OR min_ok > 5000.0
                         OR null_ok = n_rows THEN 1 ELSE 0 END) AS BIGINT)
           AS files_pruned,
         CAST(sum(CASE WHEN max_ok < 1000.0 OR min_ok > 5000.0
                         OR null_ok = n_rows THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_pruned
  FROM zm),
a2 AS (
  SELECT 'l_quantity' AS "column", CAST(10.0 AS DOUBLE) AS lo,
         CAST(20.0 AS DOUBLE) AS hi,
         CAST(count(*) AS BIGINT) AS files_total,
         CAST(sum(CASE WHEN max_q < 10.0 OR min_q > 20.0
                         OR null_q = n_rows THEN 1 ELSE 0 END) AS BIGINT)
           AS files_pruned,
         CAST(sum(CASE WHEN max_q < 10.0 OR min_q > 20.0
                         OR null_q = n_rows THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_pruned
  FROM zm)
SELECT * FROM a1 UNION ALL SELECT * FROM a2
"""


def fd_discovery_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profile (operators/profile.fd_violations) over
    candidate column pairs on customer: the key FD (c_custkey →
    c_nationkey) must hold with zero repairs; the cross-attribute pairs
    (c_nationkey ↔ c_mktsegment) quantify HOW broken they are via the
    minimum-repair row count — the dependency half of the profiling story
    beside key_candidates' uniqueness half."""
    from jsonschema_spark.operators.profile import fd_violations

    c = _t(spark, sf_dir, "customer")
    return fd_violations(
        c,
        [
            ("c_custkey", "c_nationkey"),
            ("c_nationkey", "c_mktsegment"),
            ("c_mktsegment", "c_nationkey"),
        ],
    )


def _fd_oracle_sql() -> str:
    def one(det, dep):
        return f"""
SELECT '{det}' AS determinant, '{dep}' AS dependent,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN n_b > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
       CAST(sum(total - mx) AS BIGINT) AS n_repair_rows,
       sum(CASE WHEN n_b > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (
  SELECT _a, count(*) AS n_b, sum(_n) AS total, max(_n) AS mx
  FROM (
    SELECT {det} AS _a, {dep} AS _b, count(*) AS _n
    FROM customer
    WHERE {det} IS NOT NULL AND {dep} IS NOT NULL
    GROUP BY 1, 2)
  GROUP BY 1)"""

    pairs = [
        ("c_custkey", "c_nationkey"),
        ("c_nationkey", "c_mktsegment"),
        ("c_mktsegment", "c_nationkey"),
    ]
    return "\nUNION ALL\n".join(one(d, p) for d, p in pairs)


ORACLE_FD_DISCOVERY = _fd_oracle_sql()


def benford_price_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance of l_extendedprice
    (operators/profile.benford_first_digit): observed leading-digit
    shares vs log10(1+1/d) with per-digit chi-square terms — the
    fabricated-data / unit-mix smell test, here loudly failed because the
    synthetic price column is near-uniform (exactly what the check is for:
    the chi2 mass says 'this column was not produced by a multiplicative
    process')."""
    from jsonschema_spark.operators.profile import benford_first_digit

    li = _t(spark, sf_dir, "lineitem")
    return benford_first_digit(li, "l_extendedprice")


def _benford_oracle_sql() -> str:
    import math

    case = " ".join(
        f"WHEN digit = {d} THEN {math.log10(1 + 1 / d)!r}" for d in range(1, 10)
    )
    return f"""
WITH src AS (
  SELECT CAST(substr(CAST(CAST(floor(abs(l_extendedprice)) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND abs(l_extendedprice) >= 1),
counts AS (SELECT digit, count(*) AS n FROM src GROUP BY 1),
tot AS (SELECT sum(n) AS t FROM counts),
j AS (
  SELECT digit, n, CAST(n AS DOUBLE) / t AS p_obs,
         CASE {case} ELSE 0.0 END AS p_exp, CAST(t AS DOUBLE) AS t
  FROM counts, tot)
SELECT digit, n,
       floor(p_obs * 1000000.0 + 0.000001) / 1000000.0 AS p_obs,
       floor(p_exp * 1000000.0 + 0.000001) / 1000000.0 AS p_exp,
       floor((p_obs - p_exp) * (p_obs - p_exp) / p_exp * t
             * 1000000.0 + 0.000001) / 1000000.0 AS chi2_term
FROM j
"""


ORACLE_BENFORD = _benford_oracle_sql()


def recluster_gain_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout family end-to-end: measure the data-skipping gain of
    Z-order re-clustering. Build per-file zone maps for l_quantity under
    (a) the natural ingest layout (files = 4096 order keys) and (b) the
    re-clustered layout (files = 64 Z-order buckets of
    (quantity, price-bucket), exactly `zorder_layout_lineitem`'s key),
    then run the SAME quantity-band prune audit against both. Output two
    rows (layout, column, lo, hi, files_total, files_pruned, rows_pruned):
    the natural layout prunes ~nothing on quantity, the Z-ordered one
    prunes most files — compaction picks file sizes, zorder picks file
    CONTENTS, zone maps prove the difference."""
    from jsonschema_spark.operators.layout import (
        zone_map_prune_audit,
        zone_map_stats,
        zorder_key,
    )

    li = _t(spark, sf_dir, "lineitem")
    staged = li.select(
        "l_quantity",
        F.col("l_quantity").cast("bigint").alias("q"),
        F.floor(F.col("l_extendedprice") / 1000).cast("bigint").alias("pb"),
        F.expr("l_orderkey DIV 4096").alias("file_nat"),
    ).withColumn("file_z", F.shiftright(zorder_key(F.col("q"), F.col("pb"), bits=6), 6))
    pred = [("l_quantity", 10, 20)]
    audits = []
    for tag, fcol in (("natural", "file_nat"), ("zorder", "file_z")):
        zm = zone_map_stats(
            staged.select(F.col(fcol).alias("file"), "l_quantity"),
            file_col="file",
            value_cols=["l_quantity"],
        )
        audits.append(
            zone_map_prune_audit(zm, pred).select(F.lit(tag).alias("layout"), "*")
        )
    return audits[0].unionByName(audits[1])


ORACLE_RECLUSTER_GAIN = """
WITH staged AS (
  SELECT CAST(l_quantity AS DOUBLE) AS v,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(floor(l_extendedprice / 1000) AS BIGINT) AS pb,
         l_orderkey // 4096 AS file_nat
  FROM lineitem),
zk AS (
  SELECT v, file_nat,
         ( ((qc >> 0) % 2) * 1 + ((pc >> 0) % 2) * 2
         + ((qc >> 1) % 2) * 4 + ((pc >> 1) % 2) * 8
         + ((qc >> 2) % 2) * 16 + ((pc >> 2) % 2) * 32
         + ((qc >> 3) % 2) * 64 + ((pc >> 3) % 2) * 128
         + ((qc >> 4) % 2) * 256 + ((pc >> 4) % 2) * 512
         + ((qc >> 5) % 2) * 1024 + ((pc >> 5) % 2) * 2048 ) >> 6 AS file_z
  FROM (SELECT v, file_nat,
               least(greatest(q, 0), 63) AS qc,
               least(greatest(pb, 0), 63) AS pc
        FROM staged)),
lay AS (
  SELECT 'natural' AS layout, file_nat AS f, v FROM zk
  UNION ALL
  SELECT 'zorder' AS layout, file_z AS f, v FROM zk),
zm AS (
  SELECT layout, f, count(*) AS n_rows,
         min(v) AS vmin, max(v) AS vmax,
         sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_null
  FROM lay GROUP BY 1, 2)
SELECT layout, 'l_quantity' AS "column",
       CAST(10.0 AS DOUBLE) AS lo, CAST(20.0 AS DOUBLE) AS hi,
       CAST(count(*) AS BIGINT) AS files_total,
       CAST(sum(CASE WHEN vmax < 10.0 OR vmin > 20.0 OR n_null = n_rows
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_pruned,
       CAST(sum(CASE WHEN vmax < 10.0 OR vmin > 20.0 OR n_null = n_rows
                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_pruned
FROM zm GROUP BY 1
"""


def interval_coverage_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage per user (operators/rangejoin.
    merge_intervals): each event opens a half-open activity interval of
    (1s + value ms) from its timestamp; overlapping/touching intervals
    coalesce into maximal islands via the gaps-and-islands double window
    (one key exchange). Output per user: raw interval count, merged
    island count, and exact covered milliseconds — all integer
    microsecond arithmetic, the downtime/coverage readout interval
    algebra exists for."""
    from jsonschema_spark.operators.rangejoin import merge_intervals
    from jsonschema_spark.operators.sessions import _epoch_us

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    dur_us = (
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 1000 + F.lit(0.5)).cast(
            "bigint"
        )
        + F.lit(1000)
    ) * F.lit(1000)
    iv = ev.select(
        "user_id",
        _epoch_us("ts").alias("s_us"),
        (_epoch_us("ts") + dur_us).alias("e_us"),
    )
    merged = merge_intervals(iv, key_col="user_id", start_col="s_us", end_col="e_us")
    return merged.groupBy(F.col("key").alias("user_id")).agg(
        F.sum("n_src").alias("n_raw"),
        F.count(F.lit(1)).alias("n_merged"),
        F.expr("CAST(sum(end - start) DIV 1000 AS BIGINT)").alias("covered_ms"),
    )


ORACLE_INTERVAL_COVERAGE = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts)
         + (CAST(floor(COALESCE(value, 0.0) * 1000 + 0.5) AS BIGINT) + 1000)
           * 1000 AS e
  FROM events WHERE user_id IS NOT NULL),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv),
islands AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged),
merged AS (
  SELECT user_id, island, min(s) AS ms, max(e) AS me, count(*) AS n_src
  FROM islands GROUP BY 1, 2)
SELECT user_id, CAST(sum(n_src) AS BIGINT) AS n_raw,
       count(*) AS n_merged,
       CAST(sum(me - ms) // 1000 AS BIGINT) AS covered_ms
FROM merged GROUP BY 1
"""


def stream_zone_map_replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second STRUCTURED STREAMING entry in the driver gate: replay the
    events table through `streaming/sketch_stream.stream_zone_maps`
    (per-DAY min/max/count/null statistics of `value`, availableNow
    trigger, memory sink) — the ingest-time writer-stats path, driver-
    checked. Deterministic for the same reason as the HLL replay: append
    mode emits exactly the windows whose end <= final watermark (max
    event time, delay 0s), and min/max/count/null over a fixed row set
    are engine-exact — a plain SQL oracle reproduces the stream output
    bit-for-bit."""
    import os
    import tempfile
    import uuid

    from jsonschema_spark.streaming.sketch_stream import stream_zone_maps

    src = os.path.join(sf_dir, "events.parquet")
    stage = _stage_stream_source(sf_dir, "events")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stream_zone_maps(
        stream, "ts", ["value"], window_duration="1 day", watermark="0 seconds"
    )
    name = f"zm_replay_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="zm_replay_ckpt_")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    # a timeout would silently read a partial memory-sink table (round-4
    # advice): fail loudly instead
    assert q.awaitTermination(300), "stream_zone_map_replay: query did not finish in 300s"
    return spark.table(name).select(
        F.col("window_start").cast("date").cast("string").alias("day"),
        "column",
        "vmin",
        "vmax",
        "n_rows",
        "n_null",
    )


ORACLE_STREAM_ZONE_MAP_REPLAY = """
WITH w AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
         CAST(value AS DOUBLE) AS v
  FROM events),
zm AS (
  SELECT ws, min(v) AS vmin, max(v) AS vmax,
         count(*) AS n_rows,
         CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
  FROM w GROUP BY 1),
wm AS (SELECT max(ts) AS m FROM events)
SELECT CAST(CAST(zm.ws AS DATE) AS VARCHAR) AS day, 'value' AS "column",
       zm.vmin, zm.vmax, zm.n_rows, zm.n_null
FROM zm, wm WHERE zm.ws + INTERVAL 1 DAY <= wm.m
"""


def json_schema_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema inference from raw JSON data (operators/profile.
    json_key_profile): serialize a deterministic semi-structured bag per
    event (string / number / integer / boolean / array / object fields,
    each present under a different modular rule) and let the GENERIC
    variant-based profiler recover per-key types, presence fractions, and
    required verdicts. The oracle encodes the generation ground truth the
    profiler does not see — inference is checked against what the data
    actually was, not against a reimplementation of the profiler."""
    from jsonschema_spark.operators.profile import json_key_profile

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    j = F.to_json(
        F.struct(
            F.col("event_type").alias("et"),
            # clamp |v| under 1e7: Double.toString switches to scientific
            # notation there, and integral mantissas ("1.2E7") parse to
            # scale-0 decimals — i.e. JSON integers — flipping the type
            # for ~1% of rows; the profile fixture wants a stable 'number'
            F.when(
                eid % 4 != 0,
                F.least(F.greatest(F.col("value"), F.lit(-9999999.0)), F.lit(9999999.0)),
            ).alias("v"),
            F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k"),
            F.when(eid % 3 == 0, (eid % 2 == 0)).alias("flag"),
            F.when(eid % 5 == 0, F.array(F.col("user_id"))).alias("tags"),
            F.when(eid % 7 == 0, F.struct(F.col("user_id").alias("u"))).alias(
                "meta"
            ),
        )
    )
    return json_key_profile(ev.select(j.alias("j")), "j")


ORACLE_JSON_SCHEMA_PROFILE = """
WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events),
n AS (
  SELECT 'et' AS key, 'string' AS jtype,
         CAST(count(*) AS BIGINT) AS n FROM events WHERE event_type IS NOT NULL
  UNION ALL
  -- JSON-Schema exact-number semantics (same as the reference's big.Rat
  -- rule): a value with zero fractional part IS an integer — 11.0
  -- parses to a scale-0 decimal and the profiler rightly types it
  -- 'integer'; the ground truth splits on integrality accordingly
  SELECT 'v', 'number', CAST(count(*) AS BIGINT)
  FROM (SELECT least(greatest(value, -9999999.0), 9999999.0) AS vc
        FROM events WHERE event_id % 4 <> 0 AND value IS NOT NULL)
  WHERE floor(vc) <> vc
  UNION ALL
  SELECT 'v', 'integer', CAST(count(*) AS BIGINT)
  FROM (SELECT least(greatest(value, -9999999.0), 9999999.0) AS vc
        FROM events WHERE event_id % 4 <> 0 AND value IS NOT NULL)
  WHERE floor(vc) = vc
  UNION ALL
  SELECT 'k', 'integer', CAST(count(*) AS BIGINT)
  FROM events
  WHERE props IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
  UNION ALL
  SELECT 'flag', 'boolean', CAST(count(*) AS BIGINT)
  FROM events WHERE event_id % 3 = 0
  UNION ALL
  SELECT 'tags', 'array', CAST(count(*) AS BIGINT)
  FROM events WHERE event_id % 5 = 0
  UNION ALL
  SELECT 'meta', 'object', CAST(count(*) AS BIGINT)
  FROM events WHERE event_id % 7 = 0)
SELECT key, jtype, n,
       floor(CAST(n AS DOUBLE) / total * 1000000.0 + 0.000001) / 1000000.0 AS frac,
       -- required is a per-KEY verdict (presence across ALL types == total),
       -- matching json_key_profile's sum(n) over key — not per (key, type)
       sum(n) OVER (PARTITION BY key) = total AS required
FROM n, t WHERE n > 0
"""


def trend_slope_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend over the daily mean-value series
    (operators/timeseries.trend_slope): closed-form slope/intercept/r²
    from one pass of sufficient sums — the monotone-drift detector beside
    CUSUM's level shifts and the forecast backtest's predictive check.
    Day index is anchored to 2024-01-01 so x is an exact small integer."""
    from jsonschema_spark.operators.timeseries import trend_slope

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type").alias("etype"),
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
                "x"
            ),
        )
        .agg(F.avg("value").alias("y"))
    )
    return trend_slope(daily, key_col="etype", x_col="x", y_col="y").withColumnRenamed(
        "key", "event_type"
    )


ORACLE_TREND_SLOPE = """
WITH daily AS (
  SELECT event_type AS key,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x,
         avg(value) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))),
agg AS (
  SELECT key, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM daily GROUP BY 1),
d AS (
  SELECT key, n,
         CAST(n AS DOUBLE) * sxx - sx * sx AS dx,
         CAST(n AS DOUBLE) * syy - sy * sy AS dy,
         CAST(n AS DOUBLE) * sxy - sx * sy AS cov,
         sx, sy FROM agg)
SELECT key AS event_type, n,
       floor(CASE WHEN dx > 0 THEN cov / dx END * 1000000.0 + 0.000001)
         / 1000000.0 AS slope,
       floor(CASE WHEN dx > 0 THEN (sy - cov / dx * sx) / CAST(n AS DOUBLE) END
             * 1000000.0 + 0.000001) / 1000000.0 AS intercept,
       floor(CASE WHEN dx > 0 AND dy > 0 THEN cov * cov / (dx * dy) END
             * 1000000.0 + 0.000001) / 1000000.0 AS r2
FROM d
"""


def concentration_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-activity concentration over events (operators/stats.
    concentration): Gini, top-1/top-10 shares, and HHI from the per-user
    count distribution — the skew readout behind sampling quotas and the
    hot-key salting decision. All float formulas consume exact integer
    sums; rank ties break on the key for engine-stable ordering."""
    from jsonschema_spark.operators.stats import concentration

    ev = _t(spark, sf_dir, "events")
    return concentration(ev, "user_id")


ORACLE_CONCENTRATION = """
WITH counts AS (
  SELECT user_id AS k, count(*) AS c FROM events
  WHERE user_id IS NOT NULL GROUP BY 1),
ranked AS (
  SELECT k, c, row_number() OVER (ORDER BY c, k) AS rk FROM counts),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(rk * c) AS BIGINT) AS src, max(c) AS cmax
  FROM ranked),
top10 AS (
  SELECT CAST(sum(c) AS BIGINT) AS t10
  FROM (SELECT c, row_number() OVER (ORDER BY c DESC, k ASC) AS drk FROM counts)
  WHERE drk <= 10),
hhi AS (
  SELECT sum((CAST(c AS DOUBLE) / t) * (CAST(c AS DOUBLE) / t)) AS h
  FROM counts, (SELECT sum(c) AS t FROM counts))
SELECT n_keys, total,
       floor(((2.0 * CAST(src AS DOUBLE)) / (CAST(n_keys AS DOUBLE) * CAST(total AS DOUBLE))
              - (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE))
             * 1000000.0 + 0.000001) / 1000000.0 AS gini,
       floor(CAST(cmax AS DOUBLE) / CAST(total AS DOUBLE) * 1000000.0 + 0.000001)
         / 1000000.0 AS top1_share,
       floor(CAST(t10 AS DOUBLE) / CAST(total AS DOUBLE) * 1000000.0 + 0.000001)
         / 1000000.0 AS top10_share,
       floor(h * 1000000.0 + 0.000001) / 1000000.0 AS hhi
FROM agg, top10, hhi
"""


# Shared NB-scoring prefix (identical to ORACLE_QUALITY_AUC through the
# fixed-grid histogram `h`) for the threshold / calibration oracles.
_NB_HIST_PREFIX = """
WITH t AS (
  SELECT doc_id, lang = 'en' AS pos,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents),
e AS (
  SELECT doc_id, pos,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 262144 AS b
  FROM (SELECT doc_id, pos, unnest(toks) AS tok FROM t)),
cnt AS (
  SELECT b, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
            sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
  FROM e GROUP BY 1),
tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn FROM cnt),
w AS (
  SELECT b, ln((cp + 1.0) / (tp + 262144.0)) - ln((cn + 1.0) / (tn + 262144.0)) AS weight
  FROM cnt, tot),
prior AS (
  SELECT ln(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
            / sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)) AS bias
  FROM t),
sc AS (
  SELECT e.doc_id, bool_or(e.pos) AS pos, bias + sum(w.weight) AS score
  FROM e JOIN w USING (b), prior GROUP BY e.doc_id, bias),
hb AS (
  SELECT least(greatest(CAST(floor((score - (-64.0)) / 0.125) AS BIGINT), 0), 1023) AS b,
         pos
  FROM sc),
h AS (
  SELECT b, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
            sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS n
  FROM hb GROUP BY 1)"""


def _nb_scored_docs(spark: SparkSession, sf_dir: str):
    from jsonschema_spark.operators.quality_model import (
        fit_nb_quality_model,
        score_quality_model,
    )

    d = _t(spark, sf_dir, "documents").withColumn("pos", F.col("lang") == "en")
    weights, consts = fit_nb_quality_model(d, "doc_id", "text", "pos")
    scored = score_quality_model(d, weights, consts, "doc_id", "text")
    return scored.join(d.select(F.col("doc_id").alias("id"), "pos"), "id")


def quality_threshold_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point pick for the NB quality gate (operators/
    quality_model.threshold_pick_bucketed): sweep every fixed-grid bucket
    edge as a candidate threshold via suffix sums over the bounded score
    histogram and return the Youden-J argmax with its precision/recall/F1
    — the deployable WHERE-to-cut beside quality_auc_docs' HOW-WELL-it-
    ranks."""
    from jsonschema_spark.operators.quality_model import threshold_pick_bucketed

    return threshold_pick_bucketed(_nb_scored_docs(spark, sf_dir), "score", "pos")


ORACLE_QUALITY_THRESHOLD = _NB_HIST_PREFIX + """,
tt AS (SELECT CAST(sum(p) AS BIGINT) AS P, CAST(sum(n) AS BIGINT) AS N FROM h),
cand AS (
  SELECT b,
         sum(p) OVER (ORDER BY b DESC ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS tp,
         sum(n) OVER (ORDER BY b DESC ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS fp
  FROM h),
m AS (
  SELECT CAST(-64.0 AS DOUBLE) + CAST(b AS DOUBLE) * CAST(0.125 AS DOUBLE)
           AS threshold,
         CAST(tp AS DOUBLE) / P AS tpr_raw,
         CAST(fp AS DOUBLE) / N AS fpr_raw,
         CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS prec_raw,
         P, N
  FROM cand, tt),
s AS (
  SELECT threshold,
         floor(tpr_raw * 1000000.0 + 0.000001) / 1000000.0 AS tpr,
         floor(fpr_raw * 1000000.0 + 0.000001) / 1000000.0 AS fpr,
         floor((tpr_raw - fpr_raw) * 1000000.0 + 0.000001) / 1000000.0 AS youden_j,
         floor(prec_raw * 1000000.0 + 0.000001) / 1000000.0 AS "precision",
         floor(tpr_raw * 1000000.0 + 0.000001) / 1000000.0 AS recall,
         floor(CASE WHEN prec_raw + tpr_raw > 0
                    THEN 2.0 * prec_raw * tpr_raw / (prec_raw + tpr_raw) END
               * 1000000.0 + 0.000001) / 1000000.0 AS f1,
         P AS n_pos, N AS n_neg
  FROM m)
SELECT threshold, tpr, fpr, youden_j, "precision", recall, f1, n_pos, n_neg
FROM s ORDER BY youden_j DESC, threshold ASC LIMIT 1
"""


def quality_calibration_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the NB quality gate (operators/
    quality_model.calibration_deciles_bucketed): equal-count score
    deciles from cumulative-count blocking over the bounded histogram,
    each with observed positive rate beside mean score — monotone
    pos_rate in mean_score is what lets a pipeline trust the gate's
    scores as probabilities-up-to-ordering."""
    from jsonschema_spark.operators.quality_model import (
        calibration_deciles_bucketed,
    )

    return calibration_deciles_bucketed(
        _nb_scored_docs(spark, sf_dir), "score", "pos"
    )


ORACLE_QUALITY_CALIBRATION = _NB_HIST_PREFIX + """,
tt AS (SELECT CAST(sum(p + n) AS BIGINT) AS T FROM h),
st AS (
  SELECT b, p, n,
         coalesce(sum(p + n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cum
  FROM h),
dec AS (
  SELECT least(CAST((cum * 10) // T AS INT), 9) AS decile, b, p, n
  FROM st, tt),
agg AS (
  SELECT decile, CAST(sum(p + n) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS n_pos,
         sum((CAST(-64.0 AS DOUBLE) + (CAST(b AS DOUBLE) + 0.5) * CAST(0.125 AS DOUBLE))
             * CAST(p + n AS DOUBLE)) AS ms
  FROM dec GROUP BY 1)
SELECT decile, n, n_pos,
       floor(ms / n * 1000000.0 + 0.000001) / 1000000.0 AS mean_score,
       floor(CAST(n_pos AS DOUBLE) / n * 1000000.0 + 0.000001) / 1000000.0 AS pos_rate
FROM agg
"""


def kmv_overlap_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-only key-overlap triage (operators/sketches.
    kmv_intersect_estimate): estimate |orders.o_custkey ∩
    events.user_id|, their union size, and Jaccard from two k=128 KMV
    sketches alone — min-wise sampling is hash-coordinated, so membership
    of a union-sample hash in both sketches is EXACT intersection
    membership and the estimator runs in pure integer arithmetic. The
    kilobyte answer to "do these two 100 TB tables even share keys?"
    before paying for the referential join."""
    from jsonschema_spark.operators.sketches import (
        kmv_build,
        kmv_intersect_estimate,
    )

    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    sa = kmv_build(o, "o_custkey", k=128)
    sb = kmv_build(ev, "user_id", k=128)
    return kmv_intersect_estimate(sa, sb, k=128)


ORACLE_KMV_OVERLAP = """
WITH da AS (
  SELECT DISTINCT md5('kmv:' || CAST(o_custkey AS VARCHAR)) AS hx
  FROM orders WHERE o_custkey IS NOT NULL),
ra AS (SELECT hx, row_number() OVER (ORDER BY hx) AS rk FROM da),
ska AS (SELECT hx FROM ra WHERE rk <= 128),
db AS (
  SELECT DISTINCT md5('kmv:' || CAST(user_id AS VARCHAR)) AS hx
  FROM events WHERE user_id IS NOT NULL),
rb AS (SELECT hx, row_number() OVER (ORDER BY hx) AS rk FROM db),
skb AS (SELECT hx FROM rb WHERE rk <= 128),
un AS (SELECT DISTINCT hx FROM (SELECT hx FROM ska UNION ALL SELECT hx FROM skb)),
ru AS (SELECT hx, row_number() OVER (ORDER BY hx) AS rk FROM un),
sku AS (SELECT hx FROM ru WHERE rk <= 128),
f AS (
  SELECT hx,
         hx IN (SELECT hx FROM ska) AS ia,
         hx IN (SELECT hx FROM skb) AS ib
  FROM sku),
aa AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
              max(CAST(('0x' || substr(hx, 1, 12)) AS BIGINT)) AS ka FROM ska),
ab AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
              max(CAST(('0x' || substr(hx, 1, 12)) AS BIGINT)) AS kb FROM skb),
au AS (SELECT CAST(count(*) AS BIGINT) AS nu,
              CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
              max(CAST(('0x' || substr(hx, 1, 12)) AS BIGINT)) AS ku FROM f)
SELECT n_a, n_b, nu AS n_union_sample, n_both,
       CAST(CASE WHEN n_a < 128 THEN n_a
                 ELSE CAST(35747322042253312 AS BIGINT) // ka END AS BIGINT) AS est_a,
       CAST(CASE WHEN n_b < 128 THEN n_b
                 ELSE CAST(35747322042253312 AS BIGINT) // kb END AS BIGINT) AS est_b,
       CAST(CASE WHEN nu < 128 THEN nu
                 ELSE CAST(35747322042253312 AS BIGINT) // ku END AS BIGINT) AS est_union,
       CAST(CASE WHEN nu > 0 THEN
                 (n_both * (CASE WHEN nu < 128 THEN nu
                                 ELSE CAST(35747322042253312 AS BIGINT) // ku END))
                 // nu ELSE 0 END AS BIGINT) AS est_intersection,
       floor(CAST(n_both AS DOUBLE) / nu * 1000000.0 + 0.000001) / 1000000.0
         AS jaccard
FROM aa, ab, au
"""


def violation_code_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation triage view: the corpus-wide frequency of every
    (instance_path, keyword, code) the flagship validation emits, plus
    how many distinct documents each touches — the "what is failing
    most" dashboard relation an operator reads before deciding which
    constraint to fix or which producer to chase. Pure rollup of the
    scalar-parity violation rows; the exchange carries one row per
    distinct code triple (map-side combined)."""
    v = validate_documents_violations(spark, sf_dir)
    return v.groupBy("instance_path", "keyword", "code").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


ORACLE_VIOLATION_CODE_STATS = (
    "WITH v AS ("
    + ORACLE_DOCS_VIOLATIONS
    + """)
SELECT instance_path, keyword, code, count(*) AS n,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM v GROUP BY 1, 2, 3
"""
)


def rank_churn_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-stability drift: Spearman correlation of token-frequency
    RANKINGS between the two doc_id-parity halves of the corpus — the
    drift family's missing axis (KS/PSI/JS see mass move; a vocabulary
    whose top terms REORDER while every marginal stays flat only shows
    up in rank correlation). Top-100 per half by (count desc, token),
    intersected, re-ranked within the common set, then the closed form
    1 − 6Σd²/(m(m²−1)) — integer arithmetic to the final division. One
    token-count exchange (map-side combined); every window runs on the
    ≤100-row top lists. Output one row: (n_common, spearman)."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents", hot=True)
    toks = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("tok"),
    )
    cnt = toks.groupBy("half", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("half").orderBy(F.desc("c"), F.asc("tok"))
    top = cnt.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 100)
    a = top.where(F.col("half") == 0).select("tok", F.col("c").alias("ca"))
    b = top.where(F.col("half") == 1).select("tok", F.col("c").alias("cb"))
    common = a.join(b, "tok")
    ra = F.row_number().over(Window.orderBy(F.desc("ca"), F.asc("tok")))
    rb = F.row_number().over(Window.orderBy(F.desc("cb"), F.asc("tok")))
    ranked = common.select("tok", ra.alias("ra"), rb.alias("rb"))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(
            (F.col("ra") - F.col("rb")).cast("bigint")
            * (F.col("ra") - F.col("rb")).cast("bigint")
        ).alias("_d2"),
    )
    m = F.col("n_common").cast("double")
    rho = F.when(
        F.col("n_common") > 1,
        F.lit(1.0)
        - F.lit(6.0) * F.col("_d2").cast("double") / (m * (m * m - F.lit(1.0))),
    )
    snapped = F.floor(rho * F.lit(1000000.0) + F.lit(0.000001)) / F.lit(1000000.0)
    return agg.select("n_common", snapped.alias("spearman"))


ORACLE_RANK_CHURN = """
WITH toks AS (
  SELECT doc_id % 2 AS half, unnest(
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
  ) AS tok
  FROM documents),
cnt AS (SELECT half, tok, count(*) AS c FROM toks GROUP BY 1, 2),
top AS (
  SELECT half, tok, c,
         row_number() OVER (PARTITION BY half ORDER BY c DESC, tok ASC) AS rk
  FROM cnt),
a AS (SELECT tok, c AS ca FROM top WHERE half = 0 AND rk <= 100),
b AS (SELECT tok, c AS cb FROM top WHERE half = 1 AND rk <= 100),
common AS (SELECT a.tok, ca, cb FROM a JOIN b ON a.tok = b.tok),
ranked AS (
  SELECT tok,
         row_number() OVER (ORDER BY ca DESC, tok ASC) AS ra,
         row_number() OVER (ORDER BY cb DESC, tok ASC) AS rb
  FROM common),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS d2
  FROM ranked)
SELECT n_common,
       floor(CASE WHEN n_common > 1 THEN
                 1.0 - 6.0 * CAST(d2 AS DOUBLE)
                 / (CAST(n_common AS DOUBLE)
                    * (CAST(n_common AS DOUBLE) * CAST(n_common AS DOUBLE) - 1.0))
             END * 1000000.0 + 0.000001) / 1000000.0 AS spearman
FROM agg
"""


def weekday_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-cohort anomaly detection: z-score each day's mean value
    against its OWN (event_type, weekday) cohort — the seasonality-aware
    complement to `rolling_anomaly_events` (trailing window, blind to
    weekly rhythm) and `cusum_changepoints_events` (level shifts). A
    Saturday that looks normal against the trailing week but is 2σ off
    every other Saturday flags here and nowhere else. Weekday index is
    `datediff(day, 2024-01-01) % 7` — pure integer arithmetic, dodging
    the Sunday=0-vs-1 convention split between engines. Cohort mean/std
    come from one pass of sufficient sums with pinned operand order;
    days in cohorts with n < 3 or zero variance are not scored. Output
    flagged days (|z| ≥ 1.2): (event_type, day, weekday, mean_value, z)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type").alias("etype"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(F.avg("value").alias("y"))
        .withColumn(
            "weekday",
            (F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")) % 7).cast(
                "int"
            ),
        )
    )
    w = Window.partitionBy("etype", "weekday")
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum("y").over(w)
    sxx = F.sum(F.col("y") * F.col("y")).over(w)
    snap = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.000001)) / F.lit(1000000.0)  # noqa: E731
    # variance is filtered BEFORE sqrt on both engines: fp rounding can make
    # a zero-variance cohort's sufficient-sums variance a tiny negative,
    # which Spark's sqrt turns into NaN (silently filtered) but DuckDB's
    # sqrt raises on — erroring the whole oracle query (round-4 advice).
    var = (F.col("_sxx") - F.col("_sx") * F.col("_sx") / F.col("_n")) / (
        F.col("_n") - F.lit(1.0)
    )
    return (
        daily.withColumn("_n", n)
        .withColumn("_sx", sx)
        .withColumn("_sxx", sxx)
        .withColumn("_var", var)
        .where((F.col("_n") >= 3) & (F.col("_var") > 0))
        .withColumn("_z", (F.col("y") - F.col("_sx") / F.col("_n")) / F.sqrt("_var"))
        .where(F.abs(F.col("_z")) >= 1.2)
        .select(
            F.col("etype").alias("event_type"),
            F.col("day").cast("string").alias("day"),
            "weekday",
            snap(F.col("y")).alias("mean_value"),
            snap(F.col("_z")).alias("z"),
        )
    )


ORACLE_WEEKDAY_ANOMALY = """
WITH daily AS (
  SELECT event_type AS etype, CAST(ts AS DATE) AS day, avg(value) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
wd AS (
  SELECT etype, day, y,
         CAST(date_diff('day', DATE '2024-01-01', day) % 7 AS INT) AS weekday
  FROM daily),
st AS (
  SELECT etype, day, y, weekday,
         CAST(count(*) OVER cohort AS DOUBLE) AS n,
         sum(y) OVER cohort AS sx,
         sum(y * y) OVER cohort AS sxx
  FROM wd
  WINDOW cohort AS (PARTITION BY etype, weekday)),
v AS (
  -- variance filtered BEFORE sqrt: a zero-variance cohort can round to a
  -- tiny negative here, and DuckDB's sqrt raises where Spark yields NaN
  SELECT etype, day, y, weekday, n,
         (sxx - sx * sx / n) / (n - 1.0) AS var, sx
  FROM st WHERE n >= 3 AND (sxx - sx * sx / n) / (n - 1.0) > 0),
z AS (
  SELECT etype, day, y, weekday,
         (y - sx / n) / sqrt(var) AS zz
  FROM v)
SELECT etype AS event_type, CAST(day AS VARCHAR) AS day, weekday,
       floor(y * 1000000.0 + 0.000001) / 1000000.0 AS mean_value,
       floor(zz * 1000000.0 + 0.000001) / 1000000.0 AS z
FROM z WHERE abs(zz) >= 1.2
"""
