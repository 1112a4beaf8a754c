"""Graph analytics over the order network: the customer↔supplier
bipartite graph induced by lineitem ⋈ orders (an edge wherever a
customer's order contained a supplier's line).

Two tiers, deliberately paired: ``graph_degree_stats`` is exact SQL —
hash-verified — while ``graph_pagerank`` is the iterative fixed-point
(rank sums are float accumulations whose ulps depend on partition
merge order, so it ships rows-only with conservation/stability
invariants in pytest — the llm_kmeans_cluster contract).

Scale posture: edges are deduplicated pairs (bounded by customers ×
suppliers, far below line items); the static edge+degree relation is
cached once and every PageRank iteration is ONE shuffle of (dst,
contribution) pairs — rank state lives in a DataFrame partitioned by
node, never on the driver.  localCheckpoint truncates the 10-iteration
lineage so the plan stays flat (the iterative-algorithm pattern shared
with llm_kmeans_cluster / llm_dedup_cluster)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from un_datapipeline_spark.session import ckpt, iteration_scope
from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import load_table


def _cust_supp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (cust, supp) pairs: a customer↔supplier edge wherever a
    customer's order contained a supplier's line."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )


def _repeat_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (u, v), u < v, of parts sharing ≥ 2 distinct orders —
    the signal edges of the co-purchase graph.  Checkpointed once: every
    consumer (kcore's peel, the BFS/LPA bidir union's two branches)
    re-reads it, and the pair-join build behind it is the expensive plan."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    return (
        a.join(b, (a.k == b.k) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
        .transform(ckpt())
    )


def _degrees(e: DataFrame) -> DataFrame:
    """(node, d): the degree of every node of the undirected edges (u, v)."""
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer↔supplier edges, one row per direction.

    Round-12 (guide §2.3 "shuffle fewer bytes / narrower types"): the
    distinct used to run on the CONCATENATED node strings, shuffling two
    ~8-char strings per surviving lineitem row; deduplicating the raw
    (custkey, suppkey) int64 pair first shuffles 16 fixed bytes per row
    and builds the label strings only for the ~5x-smaller distinct set.
    Same output rows by construction (concat after distinct = distinct
    of concats; the int pair determines the string pair 1:1)."""
    e = _cust_supp_edges(spark, sf_dir).select(
        F.concat(F.lit("c"), F.col("cust").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("supp").cast("string")).alias("dst"),
    )
    return e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


_DEGREE_ORACLE = """
WITH e AS (
  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), bi AS (
  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS degree FROM bi GROUP BY src
)
SELECT substr(node, 1, 1) AS node_type, degree,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1, 2
"""


@register("graph_degree_stats", oracle=_DEGREE_ORACLE, tier="T2")
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer↔supplier graph, split by node
    side: for each degree value, how many customers / suppliers have
    exactly that many distinct counterparties.  The first question asked
    of any graph (skew tells you whether PageRank-style propagation will
    have hot keys), and a pure two-shuffle SQL plan: distinct edges,
    count by node, count by (side, degree)."""
    deg = (
        _bipartite_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy(
        F.substring("src", 1, 1).alias("node_type"), "degree"
    ).agg(F.count(F.lit(1)).alias("n_nodes"))


@register("graph_pagerank", oracle=None, tier="T3")
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 10 fixed iterations) over the undirected
    customer↔supplier graph — the canonical iterative-fixpoint workload,
    here expressed as pure DataFrame ops: the static edge⋈out-degree
    relation is cached once, each iteration shuffles (dst, rank/degree)
    contributions and folds them with one groupBy, and ranks never
    leave the cluster (contrast a driver-side adjacency walk, which
    dies at the first graph that outgrows one machine).  Both directions
    are materialized so no node dangles and total rank mass stays at
    n_nodes (Σpr = 0.15·n + 0.85·Σpr ⇒ Σpr = n, the pytest-asserted
    conservation invariant).  Rows-only: per-node sums are float
    accumulations whose last ulp depends on partition merge order.
    Returns the 20 highest-ranked nodes with their degrees."""
    # Round-12 (guide §1.2 "don't compute things you throw away"): the
    # edge build is a fact-table join (lineitem ⋈ orders + distinct) and
    # the OLD lineage ran it FOUR times — twice inside the persisted
    # static relation (edges ⋈ deg(edges)), once for the rank init, once
    # for the final degree join — and the degree aggregate three times.
    # One eager checkpoint each makes every consumer read the
    # materialized rows (with the shuffle_hash iteration hint below:
    # measured solo at sf0.1, 102 s → 75 s; the remaining cost is the 10
    # fixed iteration jobs).  At 100 TB the edge build IS the expensive
    # pass, so running it once is the difference between 1 and 4
    # fact-table shuffles.
    # DISK_ONLY for the corpus-sized edge relation (ADVICE r12: the
    # sibling ops' convention — keeps the checkpoint off the execution
    # heap).  The edge BUILD runs at session width (it is fact-table-
    # sized at scale); only the static layout + iterations get the
    # pinned iteration width below.
    edges = _bipartite_edges(spark, sf_dir).transform(ckpt(storage_level=StorageLevel.DISK_ONLY))
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .transform(ckpt())
    )
    # Round-13 (guide §2.2, VERDICT r12 item 4): the static layout and
    # the 10 iterations run in the iteration scope's pinned small shuffle
    # width: under a plain session every per-iteration stage
    # previously dispatched 200 near-empty reduce tasks, and the task
    # dispatch — not compute — dominated each ~6-7 s iteration at test
    # scale.  Rows-only op: width only changes float merge order, which
    # the rows-only contract already covers.  The static relation MUST
    # be laid out at the same width (its repartition("src") is inside
    # the scope) or every iteration would re-exchange it.
    with iteration_scope(spark) as it:
        # Pre-partition the static relation by the per-iteration join
        # key (guide §2.4 "two operations keyed the same way can share
        # one exchange"): every iteration joins static on `src`, so
        # persisting it already hash-partitioned lets the iteration reuse
        # the layout instead of re-shuffling the (large) edge relation 10
        # times.  At test scale the rank side broadcasts and the exchange
        # never appears; at cluster scale ranks ~ nodes outgrow the
        # broadcast threshold and this becomes the shape that shuffles
        # only the rank table.
        static = it.static(edges.join(deg, "src").repartition("src"))
        ranks = deg.select("src", F.lit(1.0).alias("rank"))
        for _ in range(10):
            # SHUFFLE_HASH on the rank side (guide §3.1): the checkpointed
            # rank table has no size statistics, so the planner falls back
            # to a sort-merge join that re-SORTS the static edge relation
            # every iteration; hashing the (|nodes|-sized) rank side
            # streams the pre-partitioned edges sort-free.  Per-partition
            # build = nodes/partitions rows — the shape that holds at
            # cluster scale where ranks outgrow any broadcast.
            contribs = (
                static.join(ranks.hint("shuffle_hash"), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("degree")).alias("mass"))
            )
            ranks = contribs.select(
                F.col("dst").alias("src"),
                (0.15 + 0.85 * F.col("mass")).alias("rank"),
            ).transform(ckpt(eager=False))
        return it.freeze(
            ranks.join(deg, "src")
            .select(
                F.col("src").alias("node"),
                F.round("rank", 6).alias("rank"),
                "degree",
            )
            .orderBy(F.desc("rank"), "node")
            .limit(20)
        )


_JACCARD_ORACLE = """
WITH e AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS (SELECT supp, count(*) AS d FROM e GROUP BY supp),
common AS (
  SELECT a.supp AS s1, b.supp AS s2, count(*) AS c
  FROM e a JOIN e b ON a.cust = b.cust AND a.supp < b.supp
  GROUP BY a.supp, b.supp
)
SELECT s1, s2, c AS n_common,
       ROUND(c * 1.0 / (d1.d + d2.d - c), 6) AS jaccard
FROM common
JOIN deg d1 ON d1.supp = s1
JOIN deg d2 ON d2.supp = s2
ORDER BY jaccard DESC, s1, s2
LIMIT 20
"""


@register("graph_jaccard_neighbors", oracle=_JACCARD_ORACLE, tier="T3")
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node similarity by neighborhood overlap: for every supplier pair,
    Jaccard of their customer sets (shared customers / union), top-20.

    Pair generation is the per-customer self-join — fan-out per customer
    is (suppliers-of-customer)², which is safe HERE because the supplier
    axis is a bounded dimension (every customer buys from at most
    |supplier| vendors), and that bound is what makes the exact oracle
    feasible.  On an unbounded graph (doc↔shingle, user↔item) the same
    statement must go through the capped/bucketed machinery instead:
    llm_dedup_ngram_jaccard's MAX_GRAM_DF hub cap, or MinHash
    (llm_dedup_near_minhash) when even capped exact counting is too
    wide — this operator is the exact-small-graph end of that ladder.
    One shuffle for distinct edges, one for the pair counts, broadcast
    degree join, deterministic (jaccard DESC, s1, s2) order; the
    division is a single float op on exact integers, so it hash-matches
    bit-for-bit."""
    e = _cust_supp_edges(spark, sf_dir)
    deg = e.groupBy("supp").agg(F.count(F.lit(1)).alias("d"))
    a = e.alias("a")
    b = e.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.supp") < F.col("b.supp")),
        )
        .groupBy(F.col("a.supp").alias("s1"), F.col("b.supp").alias("s2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    d1 = deg.select(F.col("supp").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("supp").alias("s2"), F.col("d").alias("d2"))
    return (
        common.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            F.round(
                F.col("n_common") / (F.col("d1") + F.col("d2") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "s1", "s2")
        .limit(20)
    )


def _degree_oriented_edges(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(deg, o) of the part co-purchase graph for the compact-forward
    triangle enumeration: ``deg`` = (node, d), and ``o`` = every
    undirected edge oriented from its lower-(degree, id) endpoint,
    (src, dst, dst_d) with dst_d the degree of dst.  Shared by
    graph_triangle_count and graph_local_clustering."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    # Materialize the edge list and (below) the oriented table ONCE:
    # both feed 3-4 downstream branches (degrees, orientation, both
    # wedge sides, closure), and without the checkpoint each branch
    # re-executes the distinct pair-join edge build — measured 2.5x
    # end-to-end at sf0.1 (13.9 s -> 5.4 s cold).  At cluster scale
    # this is the standard materialize-reused-dataset pattern; the
    # checkpointed data is shuffle-sized (the edge list itself).
    e = (
        a.join(b, (a.k == b.k) & (F.col("u") < F.col("v")))
        .select("u", "v")
        .distinct()
        # DISK_ONLY: the edge list is shuffle-sized — default
        # MEMORY_AND_DISK pins it on the executor heap for the session
        # and OOMs a default-memory driver at 10x data (probed at
        # sf0.1); disk blocks cost one local read and never evict or
        # crowd execution memory
        .transform(ckpt(storage_level=StorageLevel.DISK_ONLY))
    )
    # Round-12: the degree table feeds three consumers (both orientation
    # sides and the final stats/credit join); checkpointing it makes the
    # union+aggregate over the edge list run once instead of three times.
    deg = _degrees(e).transform(ckpt(storage_level=StorageLevel.DISK_ONLY))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # degree table = one row per node: joined plain (NOT F.broadcast) so
    # the same plan survives billion-node graphs; AQE picks broadcast
    # when it fits.
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("dst_d"),
        )
        .transform(ckpt(storage_level=StorageLevel.DISK_ONLY))
    )
    return deg, o


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented compact-forward)
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY node
), o AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
), od AS (
  SELECT o.src, o.dst, d.d AS dst_d FROM o JOIN deg d ON d.node = o.dst
), wedge AS (
  SELECT w1.dst AS v, w2.dst AS w
  FROM od w1 JOIN od w2
    ON w2.src = w1.src
   AND (w1.dst_d < w2.dst_d OR (w1.dst_d = w2.dst_d AND w1.dst < w2.dst))
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM wedge JOIN o ON o.src = wedge.v AND o.dst = wedge.w
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d) // 2 AS BIGINT) AS n_edges,
         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CAST((3 * n_triangles * 1000000) // n_wedges AS BIGINT)
         AS global_cc_ppm
FROM stats CROSS JOIN tri
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE, tier="T2")
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    part co-purchase graph (parts are adjacent iff some order contains
    both), via DEGREE ORIENTATION — the compact-forward algorithm
    (Latapy 2008; also the MapReduce formulation in Suri & Vassilvitskii
    WWW'11): orient every undirected edge from its lower-(degree, id)
    endpoint to the higher, enumerate wedges only AT the lower endpoint,
    and close each wedge with one semi-join back to the oriented edges.

    Why orientation matters at 100 TB: wedges at a node grow as
    outdeg^2, and co-purchase graphs are power-law — a naive
    lowest-id orientation puts all of a hub's adjacency on the hub
    (outdeg = deg, quadratic blow-up), while degree orientation caps
    every outdeg at O(sqrt(edges)), bounding total wedges at
    O(edges^1.5), the known optimum for exact counting.  Each triangle
    is counted exactly once (at its lowest-degree corner).

    Scale shape: distinct-pair edge build (bounded x136 per order),
    two hash aggs for degrees, the wedge expansion is an equi-join on
    the shared LOW endpoint, and closure is an equi-join on (v, w) —
    all shuffle-partitioned by node, no driver state.  Wedge/edge/node
    counts and the x10^6-scaled clustering coefficient come out exact
    BIGINT."""
    deg, o = _degree_oriented_edges(spark, sf_dir)
    w1 = o.select(F.col("src").alias("s"), F.col("dst").alias("v"),
                  F.col("dst_d").alias("vd"))
    w2 = o.select(F.col("src").alias("s"), F.col("dst").alias("w"),
                  F.col("dst_d").alias("wd"))
    # Round-13 (guide §3.1): both the wedge expansion and the closure
    # probe were sort-merge joins — the closure SMJ SORTS the O(m^1.5)
    # wedge stream.  SHUFFLE_HASH builds the hash table on the
    # edge-sized oriented relation and streams wedges sort-free; per-
    # partition build = |edges|/partitions rows, the safe side at any
    # scale.  Exact integer counts — join strategy cannot change values.
    wedge = w1.join(
        w2.hint("shuffle_hash"),
        (w1.s == w2.s)
        & (
            (F.col("vd") < F.col("wd"))
            | ((F.col("vd") == F.col("wd")) & (F.col("v") < F.col("w")))
        ),
    ).select("v", "w")
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedge.join(closing.hint("shuffle_hash"), ["v", "w"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("sum(d) DIV 2").cast("long").alias("n_edges"),
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges"),
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr("(3 * n_triangles * 1000000) DIV n_wedges")
        .cast("long")
        .alias("global_cc_ppm"),
    )


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction
# ---------------------------------------------------------------------------

_ADAMIC_ADAR_ORACLE = """
WITH e AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
cdeg AS (SELECT cust, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY cust),
pairs AS (
  SELECT a.supp AS s1, b.supp AS s2, a.cust AS cust
  FROM e a JOIN e b ON a.cust = b.cust AND a.supp < b.supp
),
-- Rank FIRST on the cheap exact count, THEN fold 1/ln(deg) for the 20
-- survivors only — folding for every pair materializes |pairs| lists
-- and OOMs at sf0.1 (measured); this shape is also the scale-correct one.
top AS (
  SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_common
  FROM pairs GROUP BY s1, s2
  ORDER BY count(*) DESC, s1, s2 LIMIT 20
)
SELECT t.s1, t.s2, t.n_common,
       ROUND(list_aggregate(list(1.0 / ln(cd.d) ORDER BY p.cust), 'sum'), 6)
         AS aa_score
FROM pairs p
JOIN top t ON t.s1 = p.s1 AND t.s2 = p.s2
JOIN cdeg cd ON cd.cust = p.cust
GROUP BY t.s1, t.s2, t.n_common
"""


@register("graph_link_predict_aa", oracle=_ADAMIC_ADAR_ORACLE, tier="T3")
def graph_link_predict_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar 2003) over the
    customer–supplier bipartite projection: for each supplier pair, the
    score Σ 1/ln(deg(z)) over their common customers z — common
    neighbors weighted inversely by how promiscuous they are, the
    classic who-will-transact-next ranking.  Reported for the top-20
    pairs by exact common-neighbor count (deterministic rank key; the
    float score is descriptive, not the sort).

    Determinism lane (ordered fold): each pair's 1/ln(d) terms are
    summed in customer-id order on BOTH engines — Spark left-folds
    F.aggregate over the cust-sorted array, DuckDB left-folds
    list_aggregate over list(… ORDER BY cust) — so the float sum is
    bit-identical (the llm_vector_norms lane).  deg(z) ≥ 2 for every
    common neighbor, so ln is never zero.

    Scale shape: like graph_jaccard_neighbors this is the
    exact-small-graph end of the ladder — the per-customer self-join is
    O(deg²); at 100 TB you cap or sample high-degree hubs first
    (MAX_GRAM_DF discipline) or fall back to the MinHash/LSH end."""
    e = _cust_supp_edges(spark, sf_dir)
    cdeg = e.groupBy("cust").agg(F.count(F.lit(1)).alias("d"))
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cust") == F.col("b.cust")) & (F.col("a.supp") < F.col("b.supp")),
    ).select(
        F.col("a.supp").alias("s1"), F.col("b.supp").alias("s2"), F.col("a.cust").alias("cust")
    )
    # Rank FIRST on the cheap exact count (TakeOrdered over the bounded
    # pair-count table), THEN collect/fold the 1/ln(deg) terms for the 20
    # survivors only — collecting per-pair term arrays for EVERY pair is
    # the memory hazard the oracle also avoids.
    top = (
        pairs.groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .orderBy(F.desc("n_common"), "s1", "s2")
        .limit(20)
    )
    terms = pairs.join(F.broadcast(top), ["s1", "s2"]).join(cdeg, "cust").select(
        "s1", "s2", "n_common",
        F.struct(F.col("cust"), (F.lit(1.0) / F.log(F.col("d"))).alias("t")).alias("ct"),
    )
    agg = terms.groupBy("s1", "s2", "n_common").agg(
        F.aggregate(
            F.array_sort(F.collect_list("ct")),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("aa"),
    )
    return agg.select("s1", "s2", "n_common", F.round("aa", 6).alias("aa_score"))


# ---------------------------------------------------------------------------
# Local clustering coefficients (per-node triangle credit)
# ---------------------------------------------------------------------------

_LOCAL_CC_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY node
), o AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
), od AS (
  SELECT o.src, o.dst, d.d AS dst_d FROM o JOIN deg d ON d.node = o.dst
), wedge AS (
  SELECT w1.src AS s, w1.dst AS v, w2.dst AS w
  FROM od w1 JOIN od w2
    ON w2.src = w1.src
   AND (w1.dst_d < w2.dst_d OR (w1.dst_d = w2.dst_d AND w1.dst < w2.dst))
), tri AS (
  SELECT s, v, w FROM wedge JOIN o ON o.src = wedge.v AND o.dst = wedge.w
), credit AS (
  SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
    SELECT s AS node FROM tri
    UNION ALL SELECT v AS node FROM tri
    UNION ALL SELECT w AS node FROM tri
  ) GROUP BY node
)
SELECT deg.node, deg.d, coalesce(credit.t, 0) AS n_tri,
       CAST((2 * coalesce(credit.t, 0) * 1000000) // (deg.d * (deg.d - 1))
            AS BIGINT) AS local_cc_ppm
FROM deg LEFT JOIN credit USING (node)
WHERE deg.d >= 2
ORDER BY deg.d DESC, deg.node
LIMIT 20
"""


@register("graph_local_clustering", oracle=_LOCAL_CC_ORACLE, tier="T3")
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the part co-purchase
    graph: cc(v) = 2·tri(v) / (d(v)·(d(v)−1)) — how close each node's
    neighborhood is to a clique, the hub-vs-community diagnostic that
    the GLOBAL coefficient (graph_triangle_count) averages away.
    Reported for the 20 highest-degree nodes.

    Same degree-oriented compact-forward enumeration as
    graph_triangle_count (wedges only at the lower-(deg,id) endpoint,
    O(m^1.5) total), with one extension: the closure join keeps the
    full (s, v, w) triple so each triangle credits ALL THREE corners
    via a 3-way explode before the per-node count.  The coefficient is
    a ×10⁶ integer division of exact counts — bit-deterministic."""
    deg, o = _degree_oriented_edges(spark, sf_dir)
    w1 = o.select(F.col("src").alias("s"), F.col("dst").alias("v"),
                  F.col("dst_d").alias("vd"))
    w2 = o.select(F.col("src").alias("s2"), F.col("dst").alias("w"),
                  F.col("dst_d").alias("wd"))
    # Round-13 (guide §3.1): same SHUFFLE_HASH treatment as
    # graph_triangle_count — the closure SMJ otherwise sorts the
    # O(m^1.5) wedge stream; the build side is the edge-sized oriented
    # relation.  Exact integer counts, strategy cannot change values.
    wedge = w1.join(
        w2.hint("shuffle_hash"),
        (w1.s == w2.s2)
        & (
            (F.col("vd") < F.col("wd"))
            | ((F.col("vd") == F.col("wd")) & (F.col("v") < F.col("w")))
        ),
    ).select("s", "v", "w")
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedge.join(closing.hint("shuffle_hash"), ["v", "w"]).select("s", "v", "w")
    credit = (
        tri.select(F.explode(F.array("s", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(credit, "node", "left")
        .select(
            "node",
            "d",
            F.coalesce(F.col("t"), F.lit(0)).alias("n_tri"),
            F.expr("(2 * coalesce(t, 0L) * 1000000) DIV (d * (d - 1))")
            .cast("long")
            .alias("local_cc_ppm"),
        )
        .orderBy(F.desc("d"), "node")
        .limit(20)
    )


@register("graph_kcore", oracle=None, tier="T3")
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (iterative peel) of the repeat-co-purchase
    graph — part pairs sharing ≥ 2 distinct orders, the signal edges;
    single co-occurrence is noise at any scale.  k starts at the P75 of
    the initial degree distribution (exact rank, not a float quantile)
    and HALVES whenever the core collapses to empty — probed: dense
    small graphs cascade to nothing at their own P75 (sf0.001: k=29→0,
    k=14→162 survivors), so no fixed quantile serves every SF.  Nodes
    with in-core degree < k peel until a fixed point — the standard
    community-core / spam-tail separator, and the cheapest "is this
    node structurally embedded?" signal a graph has.

    The k-core is UNIQUE (peel order never changes the fixed point), so
    the operator is deterministic; it ships rows-only because the
    iterative fixed point is not one SQL query — tests/
    test_analytics_wave7.py re-derives the core in pure Python at
    sf0.001 and asserts set equality plus the defining invariant
    (every member keeps ≥ k in-core neighbors).

    Scale shape: the house iterative-DataFrame pattern
    (graph_pagerank / llm_dedup_cluster): each round is one degree
    aggregate + one semi-join edge prune, localCheckpoint truncates
    lineage, and the ONLY driver traffic is one scalar (bad-node count)
    per round; ≤ 20 rounds bounds the loop."""
    edges = _repeat_copurchase_edges(spark, sf_dir)
    deg0 = _degrees(edges)
    # exact P75: the degree at ascending rank ceil(0.75·n), (d, node) order
    from pyspark.sql import Window as W

    ranked = deg0.select(
        "d",
        F.row_number().over(W.orderBy("d", "node")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    k_rows = ranked.filter(
        F.col("rn") == F.ceil(F.col("n") * 3 / 4).cast("int")
    ).collect()
    if not k_rows:
        # a tiny corpus can have NO co-purchase edge with weight >= 2 —
        # the graph is empty and so is every core (round-6 tiny-tables
        # sweep; the old collect()[0] was an IndexError here)
        return spark.createDataFrame([], "node long, core_deg long, k int")
    k = k_rows[0]["d"]

    # Round-13 (guide §2.2, VERDICT r12 item 4 family): the peel loop —
    # a degree aggregate + two anti-joins per round, each re-checkpointed
    # — runs in the iteration scope's pinned width (a plain session
    # gave every round 200 near-empty reduce tasks), and so does
    # the final degree table, frozen before the scope restores the
    # width.  All state is exact integers, so width cannot change the
    # unique k-core fixed point.
    with iteration_scope(spark) as it:
        while True:
            cur = edges
            for _ in range(30):
                # Round-12: materialize the peel set ONCE per round.  The
                # old loop ran the degree aggregate twice per round — once
                # under the emptiness probe and again when the un-cached
                # `bad` lineage re-executed inside the anti-join
                # checkpoint (and a third time for the second anti-join
                # side under it).  The eager checkpoint pins the
                # aggregate's result so the probe and both anti-joins read
                # materialized rows.
                bad = (
                    _degrees(cur)
                    .filter(F.col("d") < k)
                    .select("node")
                    .transform(ckpt())
                )
                if bad.limit(1).count() == 0:
                    break
                cur = (
                    cur.join(bad, cur.u == bad.node, "left_anti")
                    .join(bad, cur.v == bad.node, "left_anti")
                    .transform(ckpt())
                )
            if k <= 1 or cur.limit(1).count() > 0:
                break
            k //= 2  # core collapsed — retry the full edge set at half k
        return it.freeze(
            _degrees(cur)
            .select("node", F.col("d").alias("core_deg"), F.lit(int(k)).alias("k"))
            .orderBy(F.desc("core_deg"), "node")
        )


# ---------------------------------------------------------------------------
# Multi-level BFS from the hub node (graph traversal as DataFrame joins)
# ---------------------------------------------------------------------------

_BFS_ORACLE = """
WITH RECURSIVE li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey u, b.l_partkey v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), bidir AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM bidir GROUP BY 1),
src AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1),
reach(node, dist) AS (
  SELECT node, 0 FROM src
  UNION
  SELECT b.v, r.dist + 1 FROM reach r JOIN bidir b ON b.u = r.node
  WHERE r.dist < 4
), md AS (
  SELECT node, CAST(min(dist) AS INT) AS dist FROM reach GROUP BY node
)
SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(max(node) AS BIGINT) AS max_node
FROM md GROUP BY dist
"""


@register("graph_bfs_layers", oracle=_BFS_ORACLE, tier="T3")
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first layers (shortest unweighted distance ≤ 4 hops) from
    the hub — the highest-degree node, ties to the lowest id — of the
    repeat-co-purchase graph: how much of the graph is reachable per
    hop, the reachability profile behind recommendation radius and
    blast-radius questions.  BFS distances are unique, so unlike
    PageRank this traversal hash-matches an oracle (DuckDB replays it
    as a recursive CTE whose UNION dedups (node, dist) pairs).

    Spark formulation: the frontier-expansion loop — each level is ONE
    equi-join of the current frontier against the adjacency relation,
    anti-joined against the visited set, localCheckpoint per level to
    keep the plan flat (the graph_pagerank / llm_dedup_cluster
    iterative pattern).  State lives in DataFrames partitioned by node;
    the driver never sees a frontier, only loop control.  4 levels =
    4 shuffles, independent of graph size."""
    e = _repeat_copurchase_edges(spark, sf_dir)
    # Round-13 (guide §2.2/§2.4, VERDICT r12 items 4+6): frontier loop
    # in the iteration scope's pinned width (each level previously
    # dispatched 200 near-empty tasks under a plain session),
    # adjacency PRE-PARTITIONED by the per-level join key `u` and
    # persisted — each level then shuffles only the (frontier-sized)
    # node set, the pagerank repartition("src") shape.  BFS distances
    # are exact sets: width cannot change values, the op stays
    # hash-matched.
    with iteration_scope(spark) as it:
        bidir = it.static(
            e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition("u")
        )
        deg = bidir.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).alias("d")
        )
        src = deg.orderBy(F.desc("d"), "node").limit(1).select("node")

        visited = src.select("node", F.lit(0).alias("dist")).transform(ckpt())
        frontier = visited.select("node")
        for level in range(1, 5):
            nxt = (
                frontier.join(bidir, frontier.node == bidir.u)
                .select(F.col("v").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .transform(ckpt())
            )
            visited = visited.unionAll(
                nxt.select("node", F.lit(level).alias("dist"))
            ).transform(ckpt())
            frontier = nxt
        return it.freeze(
            visited.groupBy("dist").agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.min("node").alias("min_node"),
                F.max("node").alias("max_node"),
            )
        )


# ---------------------------------------------------------------------------
# Label propagation (synchronous, deterministic): community detection
# ---------------------------------------------------------------------------

_LPA_ITERATIONS = 3


def _lpa_cte_prefix() -> str:
    """The shared WITH chain: co-purchase graph + unrolled synchronous
    label-propagation iterations, ending at CTE ``l{N}`` (the converged
    labels).  Shared verbatim by the LPA and modularity oracles so both
    provably score the same partition."""
    parts = [
        """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
bidir AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM bidir)"""
    ]
    for i in range(1, _LPA_ITERATIONS + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT b.u AS node, l.lbl, count(*) AS c
  FROM bidir b JOIN l{i - 1} l ON l.node = b.v
  GROUP BY 1, 2
),
l{i} AS (
  SELECT node, min(lbl) AS lbl FROM (
    SELECT node, lbl, c, max(c) OVER (PARTITION BY node) AS mc FROM c{i}
  ) t WHERE c = mc GROUP BY node
)"""
        )
    return "".join(parts)


def _lpa_oracle() -> str:
    """Unroll the synchronous label-propagation iterations as chained
    CTEs (the graph_bfs_layers recipe extended to argmax state): each
    round is count-labels-over-neighbors, then per node take the
    majority label with ties to the SMALLEST label.  Every step is
    exact integer arithmetic on deterministic inputs, so unlike
    PageRank the fixed iteration count hash-matches across engines."""
    return _lpa_cte_prefix() + (
        f"""
SELECT CAST(lbl AS BIGINT)      AS community,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(max(node) AS BIGINT) AS max_node
FROM l{_LPA_ITERATIONS}
GROUP BY lbl
ORDER BY n_nodes DESC, community
LIMIT 20"""
    )


_LPA_ORACLE = _lpa_oracle()


def _lpa_state(e: DataFrame, it: iteration_scope) -> tuple[DataFrame, DataFrame]:
    """(bidirectional edges, converged labels) of the synchronous 3-round
    LPA over the repeat-co-purchase edges ``e`` — shared by
    graph_label_propagation and graph_modularity so the partition both
    report is the same object.  Runs in the caller's iteration scope
    ``it``; the caller freezes its output through ``it`` too.

    Round-13 (guide §2.2/§2.4, VERDICT r12 items 4+6): the label loop
    runs at the scope's pinned width (under a plain session each
    round's three stages dispatched 200 near-empty tasks), and the
    bidir edge relation is PRE-PARTITIONED by the per-round join key
    `v` and persisted for the scope, so each round shuffles only the
    (node-sized) label table while the edge relation's layout is built
    once — the pagerank `repartition("src")` shape.  All loop state is
    exact integers (counts, min-labels), so width cannot change values
    — the ops stay hash-matched."""
    from pyspark.sql import Window

    bidir = it.static(
        e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition("v")
    )
    labels = (
        bidir.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .transform(ckpt())
    )
    w = Window.partitionBy("node")
    for _ in range(_LPA_ITERATIONS):
        cnt = (
            bidir.join(labels.select(F.col("node").alias("v"), "lbl"), "v")
            .groupBy(F.col("u").alias("node"), F.col("lbl"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.withColumn("mc", F.max("c").over(w))
            .filter(F.col("c") == F.col("mc"))
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .transform(ckpt())
        )
    return bidir, labels


@register("graph_label_propagation", oracle=_LPA_ORACLE, tier="T3")
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via SYNCHRONOUS label propagation (Raghavan
    2007) on the repeat-co-purchase part graph: every node starts as its
    own community, then for a fixed 3 rounds simultaneously adopts the
    majority label among its neighbors, ties broken to the smallest
    label.  Top-20 communities by size — the catalog-taxonomy /
    spam-ring discovery primitive.

    Determinism: asynchronous LPA (the usual formulation) is
    order-dependent, but the synchronous variant with a total tie-break
    is a pure function of the graph, so a FIXED iteration count
    hash-matches the unrolled-CTE oracle exactly — the graph_bfs_layers
    lane, extended from set union to argmax state.

    Scale shape: label state is a (node, lbl) DataFrame partitioned by
    node; each round is ONE equi-join of labels against the edge list
    (|E| rows), one (node, lbl) count, and one per-node window argmax —
    all key-partitioned shuffles, nothing driver-side.  localCheckpoint
    per round keeps the plan flat (the iterative-algorithm pattern
    shared with graph_pagerank / graph_bfs_layers); rounds are fixed at
    3, independent of graph size."""
    e = _repeat_copurchase_edges(spark, sf_dir)
    with iteration_scope(spark) as it:
        _bidir, labels = _lpa_state(e, it)
        return it.freeze(
            labels.groupBy("lbl")
            .agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.min("node").alias("min_node"),
                F.max("node").alias("max_node"),
            )
            .select(
                F.col("lbl").alias("community"), "n_nodes", "min_node", "max_node"
            )
            .orderBy(F.desc("n_nodes"), "community")
            .limit(20)
        )


# ---------------------------------------------------------------------------
# Modularity of the LPA partition (exact-integer quality score)
# ---------------------------------------------------------------------------

_MODULARITY_ORACLE = _lpa_cte_prefix() + f""",
dg AS (SELECT u AS node, count(*) AS d FROM bidir GROUP BY 1),
ec AS (
  SELECT lu.lbl, CAST(count(*) AS BIGINT) AS e_in
  FROM e
  JOIN l{_LPA_ITERATIONS} lu ON lu.node = e.u
  JOIN l{_LPA_ITERATIONS} lv ON lv.node = e.v
  WHERE lu.lbl = lv.lbl
  GROUP BY 1
),
dc AS (
  SELECT l.lbl, CAST(sum(dg.d) AS BIGINT) AS d_sum
  FROM dg JOIN l{_LPA_ITERATIONS} l ON l.node = dg.node
  GROUP BY 1
),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
per AS (
  SELECT dc.lbl, CAST(coalesce(ec.e_in, 0) AS BIGINT) AS e_in, dc.d_sum
  FROM dc LEFT JOIN ec ON ec.lbl = dc.lbl
)
SELECT CAST(count(*) AS BIGINT) AS n_communities,
       CAST(sum(CASE WHEN e_in > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_internal_communities,
       m AS m_edges,
       CAST(sum(4 * m * e_in - d_sum * d_sum) AS BIGINT) AS q_num,
       floor(CAST(sum(4 * m * e_in - d_sum * d_sum) AS DOUBLE)
             / (4.0 * m * m) * 1000000 + 0.5) / 1000000.0 AS modularity
FROM per, mm
GROUP BY m
"""


@register("graph_modularity", oracle=_MODULARITY_ORACLE, tier="T3")
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation partition — THE
    quality score for a community structure: Q = Σ_c [e_c/m −
    (d_c/2m)²] over communities c with e_c internal edges, d_c total
    degree, m edges overall.  Everything stays exact BIGINT via the
    cross-multiplied numerator Σ_c (4·m·e_c − d_c²); Q itself is ONE
    division of exact operands, rounded by the explicit
    floor(x·10⁶+0.5) lane (Q can be negative, where engine-native
    ROUND half-away / half-up conventions diverge — PARITY.md).

    Shares _lpa_state / _lpa_cte_prefix with graph_label_propagation,
    so the scored partition is provably the one that operator reports.

    Scale shape: e_c is ONE self-equi-join of the edge list against
    the label table (join key = node, |E| rows); d_c one degree
    aggregation; the m spine is the house 1-row broadcast.  No
    per-community loop, no driver-side state."""
    e = _repeat_copurchase_edges(spark, sf_dir)
    with iteration_scope(spark) as it:
        bidir, labels = _lpa_state(e, it)
        dg = bidir.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).alias("d")
        )
        lu = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lbl_u"))
        lv = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lbl_v"))
        ec = (
            e.join(lu, "u")
            .join(lv, "v")
            .filter(F.col("lbl_u") == F.col("lbl_v"))
            .groupBy(F.col("lbl_u").alias("lbl"))
            .agg(F.count(F.lit(1)).alias("e_in"))
        )
        dc = (
            dg.join(labels, "node")
            .groupBy("lbl")
            .agg(F.sum("d").cast("long").alias("d_sum"))
        )
        mm = e.agg(F.count(F.lit(1)).alias("m"))
        per = dc.join(ec, "lbl", "left").select(
            "lbl",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("long").alias("e_in"),
            "d_sum",
        )
        q_num = F.sum(
            4 * F.col("m") * F.col("e_in") - F.col("d_sum") * F.col("d_sum")
        ).cast("long")
        out = (
            per.crossJoin(mm)  # 1-row broadcast spine (house share-of-total)
            .groupBy("m")
            .agg(
                F.count(F.lit(1)).alias("n_communities"),
                F.sum(F.when(F.col("e_in") > 0, 1).otherwise(0))
                .cast("long")
                .alias("n_internal_communities"),
                q_num.alias("q_num"),
            )
            .select(
                "n_communities",
                "n_internal_communities",
                F.col("m").alias("m_edges"),
                "q_num",
                (
                    F.floor(
                        F.col("q_num").cast("double")
                        / (4.0 * F.col("m") * F.col("m"))
                        * 1000000
                        + 0.5
                    )
                    / 1000000.0
                ).alias("modularity"),
            )
        )
        return it.freeze(out)
