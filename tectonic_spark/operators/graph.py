"""Graph operators (beyond SURVEY §2.B, alongside dedup's connected
components): deterministic PageRank over the customer↔supplier
interaction graph derived from orders⋈lineitem.

Determinism strategy: ALL arithmetic is 64-bit integer ("micro-rank"
units, base 10^12) with floor division — no floats anywhere, so Spark
and DuckDB produce bit-identical scores with no rounding tolerance and
no summation-order concerns (integer sums are associative). The floor
divisions make this a *defined* deterministic dynamical system rather
than ideal real-valued PageRank; both engines run the same system.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tectonic_spark.operators.registry import register
from tectonic_spark.tables import table

PR_BASE = 10**12  # micro-rank units
PR_ITERS = 4
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an integer ratio


def _pr_oracle() -> str:
    head = f"""
    WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src,
                                l.l_suppkey * 2 + 1 AS dst
                FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM e GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
    p0 AS (SELECT node, CAST({PR_BASE} // n.n_nodes AS BIGINT) AS p
           FROM deg, n),
    tele AS (SELECT CAST(({PR_DAMP_DEN - PR_DAMP_NUM} * ({PR_BASE} // n.n_nodes))
                         // {PR_DAMP_DEN} AS BIGINT) AS t FROM n)
    """
    iters = ""
    prev = "p0"
    for i in range(1, PR_ITERS + 1):
        iters += f""",
    p{i} AS (SELECT e.dst AS node,
                    CAST(tele.t + ({PR_DAMP_NUM} * SUM({prev}.p // deg.deg))
                         // {PR_DAMP_DEN} AS BIGINT) AS p
             FROM e
             JOIN {prev} ON {prev}.node = e.src
             JOIN deg ON deg.node = e.src, tele
             GROUP BY e.dst, tele.t)"""
        prev = f"p{i}"
    return (
        head
        + iters
        + f"""
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           p AS rank_micro
    FROM {prev}
    """
    )


@register(
    "c06_pagerank",
    oracle=_pr_oracle(),
    doc=f"Deterministic PageRank ({PR_ITERS} iterations, damping "
    f"{PR_DAMP_NUM}/{PR_DAMP_DEN}) over the bipartite customer↔supplier "
    "graph (edges = distinct orders⋈lineitem pairs, mirrored both "
    "directions so no node dangles) — the entity-importance ranking of "
    "a relationship graph (Page et al. 1999; the Kiveris-CC companion "
    "in this repo's graph surface). ALL arithmetic is 64-bit integer "
    f"micro-rank units (base 10^12) with floor division — zero floats, "
    "so scores are bit-identical across engines, partitionings, and "
    "re-runs with NO rounding tolerance (integer sums are associative; "
    "the floor-div dynamics are the defined algorithm on both sides). "
    "100 TB shape: per iteration ONE shuffle keyed on dst for the "
    "contribution aggregation (map-side combinable BIGINT sums); the "
    "edge list is computed once and reused across iterations; scores "
    "are 16 bytes/node. The iteration count is a compile-time constant; "
    "one bounded scalar, the node count from deg.count(), crosses the "
    "driver.",
)
def c06_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    # r14 (guide §2.4/§5): the r13 plan still carried 92 Exchanges / 44
    # BroadcastHashJoins because every per-iteration scalar subtree — and
    # the deg sides of p0/ed — re-derived orders⋈lineitem → distinct from
    # scratch (only ed itself was persisted; e0/deg were not, so e0
    # executed ~7x per run). Materialize the shared spine once: e0 (the
    # distinct edge set, the expensive join) and deg (node cardinality,
    # cheap agg over the cache). Pure integer arithmetic — results are
    # unchanged.
    # r14 (guide §3.1, the r13 q03/q05/b07 doctrine): without the hint the
    # planner broadcast the pruned ORDERS side — a 75 MiB, 1.5M-row FACT
    # hash built single-threaded on the driver, and a scale bug at 100 TB
    # where orders is unbounded. Interleaved cold-cache A/B at sf1: wash to
    # better locally (merge 3.7/2.6/1.8 vs plain-broadcast 7.9/4.9/1.5 s
    # across three rounds); the hint removes the structural hazard.
    e0 = (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e0.count()
    e = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # r14 (guide §5, the kmeans K×DIM precedent): the two iteration
    # constants derive from ONE bounded scalar — the node count, which the
    # eager deg materialization computes anyway — so fetch it (8 bytes
    # across the driver) and inline p_init/tele as literals. This replaces
    # the r13 localCheckpoint row + a broadcast-join subtree in p0 and in
    # every iteration with plain literals: same integers (Python // ==
    # BIGINT div on non-negative operands), bit-identical ranks.
    n_nodes = deg.count()
    p_init = PR_BASE // n_nodes
    tele = ((PR_DAMP_DEN - PR_DAMP_NUM) * (PR_BASE // n_nodes)) // PR_DAMP_DEN
    p = deg.select(
        F.col("src").alias("node"), F.lit(p_init).cast("long").alias("p")
    )
    # r13 (guide §2.4/§5): persist the per-iteration-invariant edge list
    # (src, dst, deg); r14: its inputs are now cached, so the lazy persist
    # materializes cheaply inside iteration 1 (the r13 eager-count A/B
    # regressed when the build still raced sibling broadcast jobs — with
    # the spine cached there is nothing left to race).
    ed = e.join(
        deg.select(F.col("src"), F.col("deg")), "src"
    ).persist(StorageLevel.MEMORY_AND_DISK)  # (src, dst, deg)
    for _ in range(PR_ITERS):
        # r14 (guide §3.1): a shuffle_hash hint on the rank side (hash-build
        # |V|, stream the cached |2E| edges unsorted instead of SMJ
        # re-sorting them every iteration) was A/B'd — interleaved,
        # cold-cache, 3 aligned pass pairs — and REVERTED: plain SMJ won
        # every pair (5.215 vs 5.274 best). At sf1 the per-iteration sort of
        # the cached edge list is cheaper than the hash-build overhead; the
        # hint doctrine (r13) keeps only measured wins.
        contrib = ed.join(
            p.select(F.col("node").alias("src"), F.col("p").alias("ps")),
            "src",
        ).select("dst", F.expr("ps div deg").alias("c"))
        p = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"CAST({tele} + ({PR_DAMP_NUM} * s) div {PR_DAMP_DEN}"
                    " AS BIGINT)"
                ).alias("p"),
            )
        )
    return p.select(
        "node",
        F.when(F.col("node") % 2 == 0, "customer")
        .otherwise("supplier")
        .alias("node_type"),
        F.col("p").alias("rank_micro"),
    )


# --- triangle counting (degree-ordered wedge join) ------------------------

_TRI_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
),
und AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM und GROUP BY u),
oriented AS (
  SELECT CASE WHEN (du.deg, p.u) < (dv.deg, p.v) THEN p.u ELSE p.v END AS s,
         CASE WHEN (du.deg, p.u) < (dv.deg, p.v) THEN p.v ELSE p.u END AS t
  FROM pairs p
  JOIN deg du ON du.node = p.u
  JOIN deg dv ON dv.node = p.v
),
tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM oriented e1
  JOIN oriented e2 ON e2.s = e1.t
  JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
),
per_node AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT d.node AS supp_node, d.deg,
       COALESCE(p.n_triangles, 0) AS n_triangles
FROM deg d LEFT JOIN per_node p ON p.node = d.node
"""


@register(
    "c06_triangle_count",
    oracle=_TRI_ORACLE,
    doc="Per-node triangle counting over the supplier co-occurrence graph "
    "(suppliers sharing an order) with DEGREE-ORDERED edge orientation "
    "(Suri & Vassilvitskii WWW'11, the MapReduce triangle-counting "
    "paper): every edge points from its lower-(degree, id) endpoint to "
    "the higher, so each triangle is enumerated exactly once and — the "
    "scale point — wedge fan-out concentrates on LOW-degree nodes: a "
    "celebrity node of degree d contributes O(d) oriented out-wedges "
    "only through neighbors that out-rank it, not O(d²). Shuffles: the "
    "edge self-join on the wedge midpoint and the closing-edge hash "
    "join, both on bounded keys. Integer counts — exact cross-engine.",
)
def c06_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("u"))
    # merge hint on the self-join probe side: lineitem is a fact — never
    # build it as a driver-side broadcast hash (r13, guide §3.1; A/B at
    # sf1: 24.6s -> 23.3s, and the scale hazard is gone)
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("v")).hint("merge")
    # r14 (guide §2.4/§5): WITHOUT materialization this plan re-derived the
    # lineitem self-join + distinct once per consumer — `oriented` feeds
    # e1/e2/e3, deg feeds du/dv and the final left join, so the physical
    # plan carried 138 Exchanges / 52 SortMergeJoins and the sf1 row sat at
    # ~25 s with the pairs pipeline executing ~5x. Eager persist+count of
    # the three shared relations (pairs: |E|; deg: node-cardinality;
    # oriented: |E|) executes each once; every consumer reads the cached
    # columnar batches. Eager, not lazy: e1/e2's sort-merge map stages
    # launch concurrently and would race a cold cache (the r13 minhash
    # lesson). Integer-exact values — results unchanged.
    pairs = (
        a.join(b, "k")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs.count()
    und = pairs.unionAll(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = (
        und.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg.count()
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    # plain equi-joins: deg is node-cardinality (NOT bounded) — forcing a
    # broadcast here would collect it to the driver at scale; let AQE pick
    p = pairs.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = p.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    oriented.count()
    # r14 (guide §3.1): shuffle_hash hints on e2/e3 (hash-build the |E|-row
    # side so the out-deg² wedge stream is never sorted) were A/B'd —
    # interleaved, cold-cache — and REVERTED as a wash (plain 16.0 s vs
    # hinted 16.47 s best; aligned pairs split 1-2 under rising
    # contention). The structural argument (SMJ sorts the largest relation
    # in the query to probe a bounded edge set) did not cash out at sf1
    # because the sort runs on cached integer pairs; the hint doctrine
    # (r13) keeps only measured wins.
    e1 = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    # r14 (guide §1.2 "per-task work", §3): the closing-edge probe key is
    # PACKED into one BIGINT (a*2^32 + c — exact and collision-free:
    # suppkey is a positive 32-bit int by schema, so a < 2^31 and
    # 0 < c < 2^32). A two-column equi-join builds a generic
    # UnsafeHashedRelation whose per-probe cost (hash an UnsafeRow, walk a
    # BytesToBytesMap chain) dominated the whole query: the wedge stream
    # (sum of out-deg² ≈ 137M rows at sf1) pays it once per wedge. A
    # single-long key hits the LongHashedRelation fast path instead.
    # Interleaved cold-cache A/B at sf1: closure 12.0-15.4 s → 2.4-3.1 s
    # (~5x); identical join semantics (inner equality on an injective
    # packing), so results are unchanged.
    e3 = oriented.select(
        (F.col("s").cast("long") * F.lit(1 << 32) + F.col("t")).alias("ac")
    )
    # Per-triangle rows are never materialized into a union: the old shape
    # (tri UNION ALL ×3 → groupBy) re-executed the wedge-closure join once
    # per branch — 3 full join executions at ~10⁸ triangles (sf1: 73 s).
    # Instead the join runs ONCE and each output row explodes into its 3
    # endpoint rows in the same stage; the groupBy's partial (map-side)
    # aggregate collapses them to node-cardinality before the only
    # post-join exchange. Density caveat: triangle count itself grows
    # superlinearly as a co-occurrence graph densifies over a fixed node
    # set — see SCALING.md (graph density row).
    per_node = (
        e1.join(e2, "b")
        .withColumn(
            "ac", F.col("a").cast("long") * F.lit(1 << 32) + F.col("c")
        )
        .join(e3, "ac")
        .select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            F.col("node").alias("supp_node"),
            "deg",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
    )


# --- bipartite (alpha, beta)-core peeling ---------------------------------

CORE_ALPHA = 35  # min distinct suppliers a customer needs
CORE_BETA = 230  # min distinct customers a supplier needs
CORE_MAX_ROUNDS = 10


def _core_oracle() -> str:
    ctes = [
        """e0 AS MATERIALIZED (
          SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)""",
        "ac0 AS MATERIALIZED (SELECT DISTINCT c FROM e0)",
        "as0 AS MATERIALIZED (SELECT DISTINCT s FROM e0)",
    ]
    removed = []
    for r in range(1, CORE_MAX_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"""er{r} AS MATERIALIZED (
              SELECT e0.c, e0.s FROM e0
              JOIN ac{p} ON ac{p}.c = e0.c
              JOIN as{p} ON as{p}.s = e0.s)"""
        )
        ctes.append(
            f"""badc{r} AS MATERIALIZED (
              SELECT ac{p}.c FROM ac{p}
              LEFT JOIN (SELECT c, COUNT(*) AS d FROM er{r} GROUP BY c) dc
                ON dc.c = ac{p}.c
              WHERE COALESCE(dc.d, 0) < {CORE_ALPHA})"""
        )
        ctes.append(
            f"""bads{r} AS MATERIALIZED (
              SELECT as{p}.s FROM as{p}
              LEFT JOIN (SELECT s, COUNT(*) AS d FROM er{r} GROUP BY s) ds
                ON ds.s = as{p}.s
              WHERE COALESCE(ds.d, 0) < {CORE_BETA})"""
        )
        ctes.append(
            f"ac{r} AS MATERIALIZED (SELECT c FROM ac{p} "
            f"WHERE c NOT IN (SELECT c FROM badc{r}))"
        )
        ctes.append(
            f"as{r} AS MATERIALIZED (SELECT s FROM as{p} "
            f"WHERE s NOT IN (SELECT s FROM bads{r}))"
        )
        removed.append(
            f"SELECT c * 2 AS node, 'customer' AS node_type, "
            f"CAST({r} AS BIGINT) AS round_removed FROM badc{r}"
        )
        removed.append(
            f"SELECT s * 2 + 1 AS node, 'supplier' AS node_type, "
            f"CAST({r} AS BIGINT) AS round_removed FROM bads{r}"
        )
    last = CORE_MAX_ROUNDS
    survivors = (
        f"SELECT c * 2 AS node, 'customer' AS node_type, "
        f"CAST(NULL AS BIGINT) AS round_removed FROM ac{last} "
        f"UNION ALL SELECT s * 2 + 1, 'supplier', CAST(NULL AS BIGINT) "
        f"FROM as{last}"
    )
    poison = (
        f"poison AS (SELECT 1 AS x FROM badc{last} "
        f"UNION ALL SELECT 1 FROM bads{last})"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + ",\n"
        + poison
        + "\n"
        + " UNION ALL ".join(removed)
        + " UNION ALL "
        + survivors
        + f"""
    UNION ALL
    SELECT CAST(error('core oracle: still peeling at round {last}')
                AS BIGINT), NULL, NULL FROM poison
    """
    )


@register(
    "c06_alpha_beta_core",
    oracle=_core_oracle(),
    doc=f"Bipartite (α,β)-core peeling over the customer↔supplier graph "
    f"(α={CORE_ALPHA} suppliers per customer, β={CORE_BETA} customers "
    "per supplier — the bipartite k-core generalization, Ahmed et al.; "
    "the engaged-subgraph extraction of interaction mining): each round "
    "SIMULTANEOUSLY removes every node below its side's threshold, "
    "degrees recompute on the shrunk graph, and the cascade repeats to "
    "fixpoint. Output is the full peeling trace — every node's removal "
    "round (NULL = survived into the core): the onion-layer "
    "decomposition, strictly more informative than the core membership "
    "bit. Pure integer set/degree arithmetic — exact cross-engine; the "
    f"oracle unrolls {CORE_MAX_ROUNDS} rounds and error()s if still "
    "peeling (the Spark loop raises likewise). 100 TB shape: per round "
    "two degree aggregations and an edge semi-join, all keyed on the "
    "endpoint ids; each round's edge set only shrinks, and the loop is "
    "driver-controlled by COUNTS only (the CC convergence pattern).",
)
def c06_alpha_beta_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint()
    )
    ac = e0.select("c").distinct()
    asup = e0.select("s").distinct()
    removed_parts = []
    for r in range(1, CORE_MAX_ROUNDS + 1):
        er = e0.join(ac, "c").join(asup, "s")
        dc = er.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
        ds = er.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
        badc = (
            ac.join(dc, "c", "left")
            .where(F.coalesce("d", F.lit(0)) < CORE_ALPHA)
            .select("c")
            .localCheckpoint()
        )
        bads = (
            asup.join(ds, "s", "left")
            .where(F.coalesce("d", F.lit(0)) < CORE_BETA)
            .select("s")
            .localCheckpoint()
        )
        n_bad = badc.count() + bads.count()
        if n_bad == 0:
            break
        removed_parts.append(
            badc.select(
                (F.col("c") * 2).alias("node"),
                F.lit("customer").alias("node_type"),
                F.lit(r).cast("long").alias("round_removed"),
            )
        )
        removed_parts.append(
            bads.select(
                (F.col("s") * 2 + 1).alias("node"),
                F.lit("supplier").alias("node_type"),
                F.lit(r).cast("long").alias("round_removed"),
            )
        )
        ac = ac.join(badc, "c", "left_anti").localCheckpoint()
        asup = asup.join(bads, "s", "left_anti").localCheckpoint()
    else:
        raise RuntimeError(
            f"alpha-beta core: still peeling after {CORE_MAX_ROUNDS} rounds"
        )
    survivors = ac.select(
        (F.col("c") * 2).alias("node"),
        F.lit("customer").alias("node_type"),
        F.lit(None).cast("long").alias("round_removed"),
    ).unionAll(
        asup.select(
            (F.col("s") * 2 + 1).alias("node"),
            F.lit("supplier").alias("node_type"),
            F.lit(None).cast("long").alias("round_removed"),
        )
    )
    out = survivors
    for part in removed_parts:
        out = out.unionAll(part)
    return out
