"""Link analysis — PageRank-style ranking over the crawl's link graph.

Crawl engines prioritize the frontier by link evidence (OPIC/PageRank
descendants); the reference leaves prioritization to ``nextFetchDate``
ordering, so this is a beyond-reference operator: feed the outlinks table
(source_url, target_url) in, get a rank per URL to blend into the frontier
query's ordering.

Spark shape: the classic iterative join — ranks ⋈ edges on src, grouped
sum on dst — run for a fixed number of iterations. Each iteration is one
shuffle; the edges DataFrame is reused across iterations (cache it for
real workloads), and a fixed iteration count keeps the computation
deterministic and oracle-checkable (the DuckDB oracle unrolls the same
iterations as chained CTEs).

Variant: unnormalized PageRank, ``r_{k+1}(v) = (1-d) + d·Σ_{u→v}
r_k(u)/outdeg(u)``; nodes without in-links settle at ``1-d``. Dangling
nodes (no out-links) contribute nothing — matching the plain formulation
an unrolled SQL oracle can express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def link_rank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank) after ``iterations`` synchronous updates from rank 1.0."""
    # Pre-join rank-independent state once and cache: each iteration reuses
    # (edges ⋈ outdeg) and nodes; ranks localCheckpoint per iteration to cut
    # lineage — without it, iteration k replays all k-1 predecessors.
    # The distinct edge relation itself is NOT cached: it is only read
    # while the cached children below first materialize (ReusedExchange
    # shares its shuffle within that action), and a cache here would pin
    # a duplicate copy of the edge list in executor memory for the whole
    # iteration loop with no further reads.
    raw = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        raw.select(F.col("src").alias("node"))
        .union(raw.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    outdeg = raw.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e = raw.join(outdeg, "src").cache()
    ranks = nodes.withColumn("rank", F.lit(1.0))

    for _ in range(iterations):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.round(F.col("rank"), 6).alias("rank"))


def unrolled_pagerank_sql(
    edges_cte: str, iterations: int = 5, damping: float = 0.85
) -> str:
    """The DuckDB oracle: the same fixed-iteration PageRank unrolled as
    chained CTEs over an ``edges(src, dst)`` CTE supplied by the caller."""
    d = damping
    parts = [
        f"{edges_cte}",
        "e AS (SELECT DISTINCT src, dst FROM edges)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "r0 AS (SELECT node, 1.0 AS rank FROM nodes)",
    ]
    for k in range(iterations):
        parts.append(
            f"c{k} AS (SELECT e.dst AS node, sum(r{k}.rank / outdeg.outdeg) AS contrib"
            f" FROM e JOIN r{k} ON e.src = r{k}.node"
            f" JOIN outdeg ON e.src = outdeg.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{k + 1} AS (SELECT nodes.node,"
            f" {1.0 - d} + {d} * coalesce(c{k}.contrib, 0.0) AS rank"
            f" FROM nodes LEFT JOIN c{k} ON nodes.node = c{k}.node)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"
    )


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) — the complementary link
    signal to PageRank: a page is a good AUTHORITY if good hubs point at
    it, a good HUB if it points at good authorities. Frontier blending
    uses authority for content pages, hub for index/listing pages.

    Deliberately UNNORMALIZED with a small fixed iteration count: starting
    from hub=1, every score stays an exact INTEGER (auth = sum of
    in-neighbor hubs, hub = sum of out-neighbor auths), so the computation
    is bit-identical on any engine, any partitioning — no floating-point
    normalization sums to drift. Rankings are invariant to the missing
    normalization (it's a positive scalar per iteration); with default
    iterations=2 scores are bounded by ~deg^4, far inside bigint range.

    Shape: per iteration two edge⋈score joins + partial-aggregable sums —
    the same one-shuffle-per-side pattern as link_rank; scores
    localCheckpoint per iteration to cut lineage.
    """
    if iterations < 1:
        raise ValueError("hits: iterations must be >= 1")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .cache()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    hub = nodes.withColumn("h", F.lit(1).cast("bigint"))
    auth = None
    for _ in range(iterations):
        auth = (
            e.join(hub, e.src == hub.node)
            .groupBy(F.col("dst").alias("n"))
            .agg(F.sum("h").alias("a"))
        )
        auth = (
            nodes.join(auth, nodes.node == auth.n, "left")
            .select(
                "node", F.coalesce(F.col("a"), F.lit(0)).cast("bigint").alias("a")
            )
            .localCheckpoint(eager=False)
        )
        hub = (
            e.join(auth, e.dst == auth.node)
            .groupBy(F.col("src").alias("n"))
            .agg(F.sum("a").alias("h"))
        )
        hub = (
            nodes.join(hub, nodes.node == hub.n, "left")
            .select(
                "node", F.coalesce(F.col("h"), F.lit(0)).cast("bigint").alias("h")
            )
            .localCheckpoint(eager=False)
        )
    return auth.join(hub, "node").select(
        "node", F.col("a").alias("authority"), F.col("h").alias("hub")
    )


def unrolled_hits_sql(edges_cte: str, iterations: int = 2) -> str:
    """The identical unnormalized-integer HITS unrolled as chained CTEs."""
    if iterations < 1:
        raise ValueError("unrolled_hits_sql: iterations must be >= 1")
    parts = [
        edges_cte,
        "e AS (SELECT DISTINCT src, dst FROM edges)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes)",
    ]
    for it in range(iterations):
        parts.append(
            f"a{it + 1} AS (SELECT nodes.node,"
            f" CAST(coalesce(s.a, 0) AS BIGINT) AS a FROM nodes"
            f" LEFT JOIN (SELECT e.dst AS node, sum(h{it}.h) AS a"
            f" FROM e JOIN h{it} ON e.src = h{it}.node GROUP BY e.dst) s"
            f" USING (node))"
        )
        parts.append(
            f"h{it + 1} AS (SELECT nodes.node,"
            f" CAST(coalesce(s.h, 0) AS BIGINT) AS h FROM nodes"
            f" LEFT JOIN (SELECT e.src AS node, sum(a{it + 1}.a) AS h"
            f" FROM e JOIN a{it + 1} ON e.dst = a{it + 1}.node"
            f" GROUP BY e.src) s USING (node))"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT a{iterations}.node, a{iterations}.a AS authority,
       h{iterations}.h AS hub
FROM a{iterations} JOIN h{iterations} USING (node)
"""
    )


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over the undirected simple graph of
    ``edges`` — the local-clustering signal (link-farm detection on a
    crawl's host graph; the reference has no graph analytics at all, so
    this is beyond-reference surface like link_rank).

    Scale: the naive 3-way edge self-join explodes on high-degree nodes
    (a degree-d hub contributes d² wedges). Degree-ordered orientation is
    the standard fix (Cohen 2009 / Suri-Vassilvitskii 2011 MapReduce
    triangle counting): orient every undirected edge from the
    lexicographically smaller (degree, node) endpoint to the larger, so
    every node's OUT-degree is bounded by ~sqrt(2|E|) regardless of its
    real degree — the hub's d² wedge bill collapses to the wedges of its
    (low-degree) neighbors. Each triangle {x,y,z} then materializes
    exactly once as the oriented wedge u→v, u→w closed by v→w. Three
    shuffles total (wedge join on u, closure join on (v,w), final count
    groupBy); no step is quadratic in degree.

    Returns (node, degree, triangles), every node of the graph included
    (triangles = 0 for triangle-free nodes).
    """
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    lt = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    # carry v's (degree, node) rank so wedge endpoints can be ordered by
    # the SAME total order the orientation uses — then the closing edge
    # is exactly v1→v2 in oriented form and the closure join is a plain
    # equi-join (an either-direction OR condition would deny Catalyst its
    # equi keys and fall to a nested-loop join)
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lt, F.col("degb")).otherwise(F.col("dega")).alias("degv"),
        )
        # Materialize ONCE: three consumers (wedge sides e1/e2 and the
        # closing-edge probe) — e1/e2 share the exchange on u, but the
        # closure joins on (v1, v2), a different key, so that branch
        # otherwise re-executes the full orientation lineage (scan →
        # distinct → two degree joins) from scratch (r13, guide §2.4).
        .localCheckpoint(eager=False)
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("v1"), F.col("degv").alias("degv1"))
    e2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("degv").alias("degv2"))
    v_order = (F.col("degv1") < F.col("degv2")) | (
        (F.col("degv1") == F.col("degv2")) & (F.col("v1") < F.col("v2"))
    )
    wedges = (
        e1.join(e2, F.col("u") == F.col("u2"))
        .where(v_order)
        .select("u", "v1", "v2")
    )
    closing = oriented.select(
        F.col("u").alias("cu"), F.col("v").alias("cv")
    )
    tris = wedges.join(
        closing,
        (F.col("v1") == F.col("cu")) & (F.col("v2") == F.col("cv")),
    ).select("u", "v1", "v2")
    per_node = (
        tris.select(F.col("u").alias("node"))
        .unionAll(tris.select(F.col("v1").alias("node")))
        .unionAll(tris.select(F.col("v2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
                "triangles"
            ),
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    max_rounds: int = 12,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """The k-core of the undirected simple graph of ``edges``: the maximal
    subgraph in which every node keeps degree ≥ k, found by the standard
    peel — repeatedly drop sub-k nodes and their edges until a fixpoint.
    Crawl-graph use: the dense core separates genuinely interlinked hosts
    from the pendant/chain periphery (link-farm and seed-set analysis),
    complementing triangle_counts' local view with a global cohesion cut.

    Scale: each round is one partial-aggregable degree count plus two
    LEFT ANTI joins of the live edge set against the round's DEAD set —
    the sub-k nodes being peeled. Peeling by removing the dead (small,
    shrinking toward the fixpoint) instead of keeping the alive (huge,
    the whole surviving graph) is what keeps rounds cheap: AQE sees the
    dead side's runtime size and broadcast-hashes the anti joins, so the
    live edge set is never shuffled by the joins — the original
    keep-side LEFT SEMI formulation shuffled the full edge set twice per
    round and went superlinear in the 16M→64M octave (4.94× time for 4×
    edges; the anti-join rewrite measured 0.71× at 64M — 135 s, curve in
    SCALING.json). What remains per round is the full-degree recount
    (one partial-aggregated shuffle of 2|E| endpoint rows) — the
    standard BSP peel shape; a 40 GB-heap A/B run reproduced the 64M
    time within noise, so the cost is this recount, not memory pressure.
    Rounds are bounded by the peel depth (≤ graph degeneracy, small for
    web-like graphs). The live edge set is cached per round with a lazy
    localCheckpoint to cut lineage (the link_rank pattern); the only
    driver-side values per round are the dead-node count (the fixpoint
    test, checked BEFORE the round's joins so convergence costs no extra
    pass) and the materializing edge count — metadata-sized by
    construction. Post-fixpoint rounds are identities, so the early exit
    cannot change the result — the unrolled oracle
    (``unrolled_kcore_sql``) just runs the full ``max_rounds`` instead.

    Returns (node, core_degree) for k-core members: the node's remaining
    degree inside the core (≥ k by definition).
    """
    live = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .cache()
    )
    live.count()
    for _ in range(max_rounds):
        deg = (
            live.select(F.col("a").alias("node"))
            .unionAll(live.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        dead = deg.where(F.col("degree") < k).select("node").cache()
        if dead.count() == 0:
            dead.unpersist()
            break
        nxt = (
            live.join(dead.withColumnRenamed("node", "a"), "a", "left_anti")
            .join(dead.withColumnRenamed("node", "b"), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=False)
            .cache()
        )
        nxt.count()
        live.unpersist()
        dead.unpersist()
        live = nxt
    return (
        live.select(F.col("a").alias("node"))
        .unionAll(live.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


def unrolled_kcore_sql(edges_cte: str, k: int, max_rounds: int = 12) -> str:
    """The DuckDB oracle: the same peel unrolled as chained CTEs over an
    ``edges(src, dst)`` CTE supplied by the caller. Runs ALL ``max_rounds``
    (no early exit) — rounds past the fixpoint are identities, so this
    matches ``kcore`` exactly whenever the peel converges within
    ``max_rounds`` (the registered graph converges in far fewer; the
    equivalence property test peels chain graphs that need many rounds).

    The round CTEs are MATERIALIZED: each round references its
    predecessor three times (twice through the degree table, once as the
    FROM), so DuckDB's default CTE inlining would expand the unroll into
    a 3^rounds-node plan tree — the planner itself blows up long before
    execution. Materialization makes the chain linear."""
    parts = [
        f"{edges_cte}",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,"
        " greatest(src, dst) AS b FROM edges WHERE src <> dst)",
    ]
    for r in range(max_rounds):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT node, count(*) AS degree FROM ("
            f"SELECT a AS node FROM e{r} UNION ALL SELECT b FROM e{r}"
            f") GROUP BY node)"
        )
        parts.append(
            f"e{r + 1} AS MATERIALIZED (SELECT a, b FROM e{r}"
            f" WHERE a IN (SELECT node FROM d{r} WHERE degree >= {k})"
            f" AND b IN (SELECT node FROM d{r} WHERE degree >= {k}))"
        )
    n = max_rounds
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, count(*)::BIGINT AS core_degree FROM ("
        f"SELECT a AS node FROM e{n} UNION ALL SELECT b FROM e{n}"
        f") GROUP BY node"
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """TrustRank (Gyöngyi et al. 2004): PageRank personalized to a small
    trusted seed set — teleport mass lands ONLY on seeds, so trust decays
    with link distance from them. Crawl use: spam demotion / frontier
    prioritization from a curated whitelist of hosts, the personalized
    complement to ``link_rank``'s global signal (the reference leaves
    prioritization to ``nextFetchDate``; this is a beyond-reference op).

    ``r_{k+1}(v) = (1-d)·t(v) + d·Σ_{u→v} r_k(u)/outdeg(u)`` with
    ``t(v) = 1`` for seeds, else 0, and ``r_0 = t`` — unnormalized, same
    oracle-friendly formulation as ``link_rank``. Non-seeds reachable only
    from nowhere settle at exactly 0.

    Scale shape: identical to ``link_rank`` — per iteration ONE shuffle
    (edge⋈rank join + partial-aggregable sum); the trust vector is a
    broadcast-joined seed table materialized ONCE and reused every
    iteration (a whitelist is small by construction — if yours isn't,
    pass a pre-partitioned seeds frame and drop the broadcast hint).
    Ranks localCheckpoint per iteration to cut lineage.
    """
    # distinct edges deliberately uncached (same rationale as link_rank:
    # only read while the cached trust/joined relations first materialize)
    raw = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        raw.select(F.col("src").alias("node"))
        .union(raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    trust = (
        nodes.join(
            F.broadcast(
                seeds.select(F.col(seed_col).alias("node")).distinct()
            ).withColumn("__s", F.lit(1.0)),
            "node",
            "left",
        )
        .select("node", F.coalesce(F.col("__s"), F.lit(0.0)).alias("t"))
        .cache()
    )
    outdeg = raw.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e = raw.join(outdeg, "src").cache()
    ranks = trust.select("node", F.col("t").alias("rank"))
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            trust.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("t")
                    + F.lit(damping)
                    * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.round(F.col("rank"), 6).alias("rank"))


def unrolled_trustrank_sql(
    edges_cte: str,
    seeds_cte: str,
    iterations: int = 5,
    damping: float = 0.85,
) -> str:
    """The identical fixed-iteration TrustRank unrolled as chained CTEs.
    Caller supplies ``edges(src, dst)`` and ``seeds(node)`` CTE bodies."""
    d = damping
    parts = [
        f"{edges_cte}",
        f"{seeds_cte}",
        "e AS (SELECT DISTINCT src, dst FROM edges)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "t AS (SELECT nodes.node,"
        " CASE WHEN seeds.node IS NOT NULL THEN 1.0 ELSE 0.0 END AS t"
        " FROM nodes LEFT JOIN (SELECT DISTINCT node FROM seeds) seeds"
        " ON nodes.node = seeds.node)",
        "r0 AS (SELECT node, t AS rank FROM t)",
    ]
    for k in range(iterations):
        parts.append(
            f"c{k} AS (SELECT e.dst AS node,"
            f" sum(r{k}.rank / outdeg.outdeg) AS contrib"
            f" FROM e JOIN r{k} ON e.src = r{k}.node"
            f" JOIN outdeg ON e.src = outdeg.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{k + 1} AS (SELECT t.node,"
            f" {1.0 - d} * t.t + {d} * coalesce(c{k}.contrib, 0.0) AS rank"
            f" FROM t LEFT JOIN c{k} ON t.node = c{k}.node)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"
    )


def seed_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from a seed set along
    directed edges — the graph-scale twin of the crawl's ``depth``
    metadata (MaxDepthFilter semantics, ``filtering/depth/
    MaxDepthFilter.java:35``, measure link distance per URL instead of
    per discovery path; also the distance TrustRank's decay is tracking).
    Returns every graph node with ``hops`` ∈ [0, max_hops], or -1 if
    unreachable within the budget.

    Scale shape: per round ONE shuffle — the reached set joins edges on
    src (partial-aggregable ``min``), unions into the running minimum,
    and localCheckpoints to cut lineage. BFS rounds are layered: a node
    first reached in round k has final distance k, so when the reached
    COUNT stops growing the distances are a fixpoint and the loop exits
    early on that one metadata-sized scalar per round (same early-exit
    contract as ``kcore`` — the oracle unrolls ALL rounds, identities
    past the fixpoint, so a green row proves the exit sound).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .cache()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    dist = (
        nodes.join(
            F.broadcast(
                seeds.select(F.col(seed_col).alias("node")).distinct()
            ),
            "node",
            "left_semi",
        )
        .withColumn("hops", F.lit(0).cast("bigint"))
        # lazy checkpoints here and per hop below: the reached-count
        # action right after each one materializes it, so every BFS hop
        # runs ONE job instead of two (r14 — same fusion as
        # _local_checkpoint_tracked; lineage still truncates at call)
        .localCheckpoint(eager=False)
    )
    n_reached = dist.count()
    for _ in range(max_hops):
        cands = (
            e.join(dist, e.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
        )
        dist = (
            dist.unionByName(cands)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint(eager=False)
        )
        now_reached = dist.count()
        if now_reached == n_reached:
            break
        n_reached = now_reached
    return nodes.join(dist, "node", "left").select(
        "node", F.coalesce(F.col("hops"), F.lit(-1)).cast("bigint").alias("hops")
    )


def unrolled_seed_distance_sql(
    edges_cte: str, seeds_cte: str, max_hops: int = 8
) -> str:
    """The identical layered BFS unrolled as chained CTEs (MATERIALIZED —
    default inlining would expand the unroll exponentially, the same trap
    ``unrolled_kcore_sql`` hit). Rounds past the fixpoint are identities."""
    parts = [
        f"{edges_cte}",
        f"{seeds_cte}",
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        "nodes AS MATERIALIZED"
        " (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "d0 AS MATERIALIZED (SELECT DISTINCT s.node, 0 AS hops FROM"
        " (SELECT DISTINCT node FROM seeds) s"
        " JOIN nodes ON s.node = nodes.node)",
    ]
    for k in range(max_hops):
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT e.dst AS node,"
            f" min(d{k}.hops + 1) AS hops"
            f" FROM e JOIN d{k} ON e.src = d{k}.node GROUP BY e.dst)"
        )
        parts.append(
            f"d{k + 1} AS MATERIALIZED (SELECT node, min(hops) AS hops FROM"
            f" (SELECT * FROM d{k} UNION ALL SELECT * FROM c{k})"
            f" GROUP BY node)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT nodes.node,"
        f" coalesce(d{max_hops}.hops, -1)::BIGINT AS hops"
        f" FROM nodes LEFT JOIN d{max_hops} ON nodes.node = d{max_hops}.node"
    )


class _CheckpointHandle:
    """Deterministic release for a localCheckpoint's storage blocks.

    ``DataFrame.unpersist()`` only talks to the CacheManager and is a
    no-op for checkpointed frames, and empirically the blocks do NOT
    free on GC either (tested: 30 s of forced two-sided GC left every
    round's RDD in persistentRdds), so the doubling loops track the RDD
    ids each checkpoint registers and release superseded rounds through
    ``SparkContext.unpersistRDD``. Duck-types ``unpersist(blocking)`` so
    it can ride the existing ``cache_handle`` contract next to real
    DataFrames."""

    def __init__(self, sc, rdd_ids):
        self._sc, self._ids = sc, list(rdd_ids)

    def unpersist(self, blocking: bool = False):
        for rid in self._ids:
            try:
                self._sc._jsc.sc().unpersistRDD(rid, bool(blocking))
            except Exception:
                pass  # already released / context shut down


def _local_checkpoint_tracked(df: DataFrame):
    """LAZY localCheckpoint + the id set it registered, as a releasable
    handle. Blocks store SERIALIZED (PySpark's MEMORY_AND_DISK; the JVM
    default is the DESER variant): the default deserialized level
    thrashed the GC once pointer tables hit 64M rows (353 s vs 221 s
    serialized for the full resolve — the JVM object-per-row overhead is
    several times the serialized size, and two round generations are
    live at once).

    eager=False (r14): every caller follows the checkpoint with an
    immediate counting action (the round's done-count), and a LAZY
    checkpoint is materialized BY that action — so each doubling round
    runs ONE Spark job instead of two (checkpoint job + count job; the
    count read the blocks the checkpoint job had just written). The two
    properties the loops rely on hold at CALL time regardless of
    eagerness: the returned frame's logical plan is already the
    truncated LogicalRDD (Catalyst lineage is cut when the checkpoint
    Dataset is created, not when blocks materialize — the planning-
    cascade fix is unaffected), and the RDD registers in persistentRdds
    when persist() is marked, so the before/after id tracking still
    captures it. Measured solo at sf0.1: graph_redirect_incremental
    4.87 -> 3.9 s class, graph_redirect_resolve similar (numbers in
    OPTIMIZATION_r14.md)."""
    from pyspark import StorageLevel

    sc = df.sparkSession.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    return out, _CheckpointHandle(sc, after - before)


def redirect_resolve(
    redirects: DataFrame,
    max_hops: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
    cache_handle: list | None = None,
) -> DataFrame:
    """Collapse multi-hop redirect chains to their final targets by
    POINTER DOUBLING — the crawl-pipeline operator behind canonical
    indexing: the reference surfaces each 3xx hop as ``_redirTo`` status
    metadata (``bolt/FetcherBolt.java:732``, ``SimpleFetcherBolt``;
    meta-refresh in ``JSoupParserBolt``; explicitly NOT transferred to
    outlinks, ``util/MetadataTransfer.java:155``) and chains accumulate
    across generations one hop per crawl — this operator resolves the
    accumulated chain set in one batch so the indexer can key documents
    by their terminal URL.

    Semantics: the redirect map is canonicalized to a FUNCTION
    (``min(dst)`` per src — crawl data can carry conflicting hops; min
    is deterministic and engine-portable). A node with no outgoing
    redirect is TERMINAL. For every src the output row is
    ``(url, target, hops, resolved)``: the terminal URL and exact chain
    length when the walk terminates within the budget, or
    ``(NULL, NULL, 0)`` when it does not (a redirect CYCLE — including
    self-loops — or a chain longer than the budget). The budget is
    EXACTLY ``max_hops``: the doubling walk internally covers the next
    power of two, and a final clamp marks rows whose exact chain length
    exceeds ``max_hops`` unresolved in BOTH engines (r10 shipped without
    the clamp, so e.g. max_hops=100 silently resolved 128-hop chains —
    the r10 ADVICE item).

    Scale shape: ``ceil(log2(max_hops))`` rounds, each ONE self-join of
    the pointer table on a UNIQUE key (no fanout, no skew: src is
    unique by construction) with terminal absorption —
    ``g'(u) = g(g(u)) if g(u) has an outgoing edge else g(u)`` — and hop
    counts compose additively, so a 63-hop chain costs 6 shuffles where
    one-hop iteration costs 63. The pointer table is |redirect srcs|
    rows, independent of corpus size. A ``done`` flag rides the SAME
    round join for free (the probe side missing == the pointer is
    terminal; a matched row inherits the match's flag), so the
    all-resolved early exit costs one scan of the just-materialized
    table — no extra join per round (the first cut paid a per-round
    left-anti + count and measured SUPERLINEAR at 16M; see BASELINE.md).
    Each round materializes via localCheckpoint — lineage TRUNCATION,
    not just caching: a persisted round's logical plan still embeds both
    self-join sides' full history, so round r's tree grows ~3^r nodes
    and Catalyst re-analyzes all of it every round (the r10-r11 "fixed
    per-round job overhead" was this planning cascade — 10.3 s on a
    3,940-row pointer table, 2-3 s truncated). Superseded rounds'
    blocks are released EXPLICITLY: each round's checkpoint-registered
    RDD ids are tracked by ``_CheckpointHandle`` and unpersisted via
    ``SparkContext.unpersistRDD`` the moment the next round
    materializes (checkpoint blocks are invisible to
    ``DataFrame.unpersist`` and measured NOT to free on GC — see the
    handle's docstring); peak live storage remains two pointer-table
    generations. Cycle inputs simply run all
    ceil(log2(max_hops)) rounds — the round count is log-bounded by
    construction. The final
    terminality marking is ONE domain join (unchanged from the oracle's
    final SELECT), so the ``done`` flag never reaches the output: the
    oracle unrolls ALL rounds and unresolved rows emit NULLs in both
    engines regardless of where their cycle pointer sits.

    Toy-scale overhead: the early-exit scan is a per-round Spark job,
    which dominates wall-clock when the pointer table is tiny (the r10
    driver row spent 10 s on a 3,940-row table — all job overhead).
    Deferring the scan for the first rounds was TRIED (r11) and
    MEASURED WORSE (10.05 → 14.36 s at sf0.1): an unmaterialized round
    is scanned by BOTH sides of the next round's self-join, and the two
    exchange stages each recompute it — cost doubles per deferred
    level, so skipping k scans multiplies the first real job by ~2^k.
    Every round therefore materializes via its own scan, which also
    populates the cache the next round reads once per side.

    Caching: intermediate rounds are localCheckpoint snapshots whose
    blocks each round RELEASES explicitly once superseded
    (``_CheckpointHandle.unpersist`` → ``SparkContext.unpersistRDD``;
    the r12 finding was that neither DataFrame.unpersist nor GC frees
    them — pinned by
    test_redirect_resolve_cache_handle_and_no_leaked_storage); the
    pointer canonicalization ``f`` stays persist()ed (shallow plan, used
    by both g0 and the final domain join — deriving the final join from
    the last round instead of ``f`` was tried and measured ~15% slower
    at toy scale). Pass ``cache_handle=[]`` to receive [f, last-round
    handle] and ``.unpersist()`` them after materializing the output —
    releasing f via the CacheManager and the final round's checkpoint
    blocks via the tracked unpersistRDD (every earlier round was
    already released in-loop).
    """
    import math

    from pyspark import StorageLevel

    rounds = max(1, math.ceil(math.log2(max(2, max_hops))))
    f = (
        redirects.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .groupBy("src")
        .agg(F.min("dst").alias("nxt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_total = f.count()
    g = f.select(
        "src", "nxt", F.lit(1).cast("bigint").alias("hops"),
        F.lit(0).alias("done"),
    )

    # Each round materializes via localCheckpoint(eager) rather than
    # persist: a persisted round's LOGICAL plan still embeds both join
    # sides' full lineage, so round r's tree grows ~3^r nodes and
    # Catalyst re-analyzes all of it every round — measured 10.3 s on a
    # 3,940-row pointer table (the "fixed per-round job overhead" r10/r11
    # chased) vs 2-3 s with per-round lineage truncation, and 101 -> 15 s
    # on the incremental operator's 4M-map advance. Execution was hitting
    # the cache all along; PLANNING was the cascade. The checkpoint
    # truncates the plan to a LogicalRDD; each superseded round's blocks
    # are released through its tracked _CheckpointHandle below (measured
    # NOT to free on GC). Trade-off: lineage cannot recompute a lost
    # block — on a multi-node cluster prefer reliable checkpointing
    # (sc.setCheckpointDir + .checkpoint()) if executor loss matters;
    # the round is cheap to re-derive from the store either way.
    prev_ck: _CheckpointHandle | None = None
    ck: _CheckpointHandle | None = None
    for _ in range(rounds):
        a, b = g.alias("a"), g.alias("b")
        g, ck = _local_checkpoint_tracked(
            a.join(b, F.col("a.nxt") == F.col("b.src"), "left")
            .select(
                F.col("a.src").alias("src"),
                F.coalesce(F.col("b.nxt"), F.col("a.nxt")).alias("nxt"),
                (
                    F.col("a.hops")
                    + F.coalesce(F.col("b.hops"), F.lit(0))
                ).alias("hops"),
                F.when(F.col("b.src").isNull(), F.lit(1))
                .otherwise(F.col("b.done"))
                .alias("done"),
            )
        )
        n_done = g.agg(F.sum("done")).first()[0] or 0
        if prev_ck is not None:
            prev_ck.unpersist(False)
        prev_ck = ck
        if n_done == n_total:
            break
    if cache_handle is not None:
        cache_handle.extend([f, ck])
    # mark terminality via a left join against the function's domain
    # (done lags absorption by up to one round, so the flag is only the
    # exit heuristic — the output's resolved bit comes from this join)
    domain = f.select(F.col("src").alias("__dom"))
    marked = g.join(domain, g.nxt == F.col("__dom"), "left")
    return marked.select(
        F.col("src").alias("url"),
        F.when(
            F.col("__dom").isNull() & (F.col("hops") <= F.lit(max_hops)),
            F.col("nxt"),
        ).alias("target"),
        F.when(
            F.col("__dom").isNull() & (F.col("hops") <= F.lit(max_hops)),
            F.col("hops"),
        )
        .cast("bigint")
        .alias("hops"),
        (F.col("__dom").isNull() & (F.col("hops") <= F.lit(max_hops)))
        .cast("int")
        .alias("resolved"),
    )


def unrolled_redirect_resolve_sql(
    redirects_cte: str, max_hops: int = 64
) -> str:
    """The identical pointer-doubling walk unrolled as MATERIALIZED
    chained CTEs (default inlining would expand the unroll
    exponentially — the ``unrolled_kcore_sql`` trap). Rounds past the
    resolution fixpoint only rotate cycle pointers, and cycle rows emit
    NULLs in the output, so the final SELECT is round-count-insensitive
    exactly like the Spark side's early exit. The final SELECT applies
    the same ``hops <= max_hops`` clamp as the Spark side, so the budget
    is exact, not rounded up to a power of two."""
    import math

    rounds = max(1, math.ceil(math.log2(max(2, max_hops))))
    parts = [
        f"{redirects_cte}",
        "f AS MATERIALIZED (SELECT src, min(dst) AS nxt"
        " FROM redirects GROUP BY src)",
        "g0 AS MATERIALIZED"
        " (SELECT src, nxt, CAST(1 AS BIGINT) AS hops FROM f)",
    ]
    for r in range(rounds):
        parts.append(
            f"g{r + 1} AS MATERIALIZED (SELECT a.src,"
            f" coalesce(b.nxt, a.nxt) AS nxt,"
            f" a.hops + coalesce(b.hops, 0) AS hops"
            f" FROM g{r} a LEFT JOIN g{r} b ON a.nxt = b.src)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT a.src AS url,
       CASE WHEN d.src IS NULL AND a.hops <= {max_hops}
            THEN a.nxt END AS target,
       CAST(CASE WHEN d.src IS NULL AND a.hops <= {max_hops}
                 THEN a.hops END AS BIGINT) AS hops,
       CAST((d.src IS NULL AND a.hops <= {max_hops}) AS INT) AS resolved
FROM g{rounds} a LEFT JOIN f d ON a.nxt = d.src
"""
    )


def incremental_redirect_resolve(
    prior: DataFrame,
    new_edges: DataFrame,
    max_hops: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
    cache_handle: list | None = None,
    delta_handle: list | None = None,
) -> DataFrame:
    """Advance a resolved redirect map by ONE generation of new
    observations WITHOUT re-doubling the whole accumulated chain set —
    the crawl loop's steady-state path (the r11 verdict: the loop re-ran
    :func:`redirect_resolve` from scratch over the growing edge store
    every generation; the reference's status store is merged, never
    recomputed — external/sql/.../StatusUpdaterBolt.java:103-219).

    Store semantics are FIRST-OBSERVATION-WINS: a src already present in
    ``prior`` keeps its recorded hop; later conflicting observations are
    dropped (``new_edges`` srcs anti-join against ``prior.url``). That
    matches how a crawl actually produces the data — a URL's 3xx/meta
    target is recorded when it is fetched — and it is what makes
    incrementality SOUND: interior pointers never change, so the only
    rows a new generation can affect are (a) the fresh srcs themselves
    and (b) previously-RESOLVED rows whose terminal target just gained
    an outgoing edge (de-terminalization). Unresolved rows never revive:
    a cycle stays a cycle and an over-budget chain only grows.

    Algorithm (per generation, everything sized by the DELTA):
      1. ``fresh``  = within-batch min(dst) per src, anti-joined against
         ``prior.url`` (first-wins).
      2. ``invalid`` = prior RESOLVED rows with target ∈ fresh srcs;
         ``keep`` = the rest — emitted UNCHANGED.
      3. G0 = fresh pointers (1 hop each) ∪ invalid rows as JUMP
         pointers (their old target, their old exact hop count) — the
         old chain is compressed to one edge, never re-walked.
      4. ONE pre-absorption join against ``keep``: a pointer landing on
         a still-valid resolved row inherits its final target/hops
         (its target stayed terminal — keep rows are exactly those whose
         targets did NOT gain edges); landing on an unresolved keep row
         is dead (cycle downstream).
      5. Pointer doubling WITHIN G0 (|fresh|+|invalid| rows — after
         pre-absorption every live pointer targets a G0 node or a
         terminal), early exit on all-done, ceil(log2(max_hops)) round
         cap: a walk still live after r rounds has composed ≥ 2^r hops
         and is over budget, exactly the base operator's bound.
      6. Exact ``hops <= max_hops`` clamp, same as the base operator.

    Cost shape: the doubling self-join is over the DELTA-sized G0, the
    two classification joins scan ``prior`` once each (broadcast the
    tiny fresh-src side), and the anti-join scans the store once — per-
    generation work is O(|prior|) scans + O(|delta| log max_hops)
    shuffles, flat as generations accumulate (SCALING.json
    ``redirect_incremental``), vs the full re-resolve's
    O(|accumulated| log max_hops) shuffle cascade.

    Output: the complete NEW resolved map, identical (tested row-for-row,
    and driver-oracle-checked as ``graph_redirect_incremental``) to
    :func:`redirect_resolve` over the first-wins-merged edge set.
    ``cache_handle`` receives [flagged, last-round handle]: ``flagged``
    (``prior`` tagged with the fresh-src flag, of which ``keep`` is a
    filter view) is the persist()ed frame (caller unpersists it), the final
    round's checkpoint blocks release through the handle's tracked
    ``unpersistRDD`` — same contract as the base operator (earlier
    rounds release in-loop)."""
    import math

    from pyspark import StorageLevel

    fresh = (
        new_edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .groupBy("src")
        .agg(F.min("dst").alias("nxt"))
        .join(
            prior.select(F.col("url").alias("src")), "src", "left_anti"
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    fresh_srcs = fresh.select(F.col("src").alias("__fs"))
    # ONE classification pass over the store (r14, was a semi + an anti
    # — two full scans of `prior`): left-join the broadcast fresh-src
    # keys and split on the match flag. No row can duplicate (fresh srcs
    # are distinct, so at most one equals a given target) and NULL
    # targets never match, exactly the old semi/anti split. `flagged` is
    # the persisted frame — both filters and the final union read the
    # single materialization, so a generation scans the store once.
    flagged = prior.join(
        F.broadcast(fresh_srcs),
        prior["target"] == F.col("__fs"),
        "left",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # resolved rows whose terminal just gained an edge; unresolved rows
    # (target NULL) never match
    invalid = flagged.where(F.col("__fs").isNotNull()).drop("__fs")
    keep = flagged.where(F.col("__fs").isNull()).drop("__fs")
    g0 = fresh.select(
        "src", "nxt",
        F.lit(1).cast("bigint").alias("hops"),
    ).unionByName(
        invalid.select(
            F.col("url").alias("src"),
            F.col("target").alias("nxt"),
            F.col("hops").cast("bigint").alias("hops"),
        )
    )
    # pre-absorption: one join against the still-valid resolved map
    k = keep.select(
        F.col("url").alias("__ku"),
        F.col("target").alias("__kt"),
        F.col("hops").alias("__kh"),
        F.col("resolved").alias("__kr"),
    )
    hit = F.col("__ku").isNotNull()
    live = hit & (F.col("__kr") == 1)
    g = (
        g0.join(k, g0["nxt"] == F.col("__ku"), "left")
        .select(
            "src",
            F.when(live, F.col("__kt")).otherwise(F.col("nxt")).alias("nxt"),
            (
                F.col("hops")
                + F.when(live, F.col("__kh")).otherwise(F.lit(0))
            ).alias("hops"),
            F.when(hit, F.lit(1)).otherwise(F.lit(0)).alias("done"),
            F.when(hit & (F.col("__kr") == 0), F.lit(1))
            .otherwise(F.lit(0))
            .alias("dead"),
        )
    )
    g, ck = _local_checkpoint_tracked(g)
    n_g0 = g.count()
    rounds = max(1, math.ceil(math.log2(max(2, max_hops))))
    # per-round lineage truncation + tracked release — see the base
    # operator's round loop for the measured planning-cascade rationale
    prev_ck = ck
    for _ in range(rounds):
        a, b = g.alias("a"), g.alias("b")
        adv = F.col("b.src").isNotNull() & (F.col("a.done") == 0)
        g, ck = _local_checkpoint_tracked(
            a.join(b, F.col("a.nxt") == F.col("b.src"), "left")
            .select(
                F.col("a.src").alias("src"),
                F.when(adv, F.col("b.nxt"))
                .otherwise(F.col("a.nxt"))
                .alias("nxt"),
                (
                    F.col("a.hops")
                    + F.when(adv, F.col("b.hops")).otherwise(F.lit(0))
                ).alias("hops"),
                F.when(F.col("a.done") == 1, F.lit(1))
                .when(F.col("b.src").isNull(), F.lit(1))
                .otherwise(F.col("b.done"))
                .alias("done"),
                F.when(F.col("a.done") == 1, F.col("a.dead"))
                .when(F.col("b.src").isNull(), F.lit(0))
                .otherwise(F.col("b.dead"))
                .alias("dead"),
            )
        )
        n_done = g.agg(F.sum("done")).first()[0] or 0
        prev_ck.unpersist(False)
        prev_ck = ck
        if n_done == n_g0:
            break
    fresh.unpersist(False)
    if cache_handle is not None:
        # flagged (not keep) carries the persist — keep is a filter view
        cache_handle.extend([flagged, ck])
    ok = (
        (F.col("done") == 1)
        & (F.col("dead") == 0)
        & (F.col("hops") <= F.lit(max_hops))
    )
    out_g = g.select(
        F.col("src").alias("url"),
        F.when(ok, F.col("nxt")).alias("target"),
        F.when(ok, F.col("hops")).cast("bigint").alias("hops"),
        ok.cast("int").alias("resolved"),
    )
    if delta_handle is not None:
        # the delta-sized rows that DIFFER from prior (fresh + invalid) —
        # derived from the checkpointed final round, so a caller reading
        # it (e.g. the bucket-pruned snapshot write collecting touched
        # buckets) pays a cache read, not a recompute
        delta_handle.append(out_g)
    return keep.select("url", "target", "hops", "resolved").unionByName(
        out_g
    )


def canonicalize_urls(
    docs: DataFrame,
    redirects: DataFrame,
    url_col: str = "url",
    max_hops: int = 64,
    cache_handle: list | None = None,
) -> DataFrame:
    """Rewrite ``docs[url_col]`` to each URL's terminal redirect target —
    the indexing-side consumer of :func:`redirect_resolve`: the
    reference's RedirectionBolt shunts redirected docs so the indexer
    keys by the final URL (``_redirTo`` chains,
    ``bolt/FetcherBolt.java:732``); at batch scale the resolved map does
    the same for the whole corpus at once. URLs with no redirect entry,
    or whose chain is a cycle / over budget (resolve emits NULL), keep
    their own URL — canonicalization never drops or nulls a document
    key. Adds ``redirect_hops`` (0 for non-redirected docs).

    Plan: redirect_resolve's log-bounded doubling (pointer table =
    redirect subset, corpus-size independent) + ONE left join of docs
    against the resolved map — at 10^9 docs the map is the small side
    and AQE picks broadcast when it fits. The output preserves docs'
    column ORDER with the rewritten url in url_col's original position
    (r10 ADVICE: moving it surprised positional consumers) and appends
    ``redirect_hops``. ``cache_handle`` forwards to
    :func:`redirect_resolve` so a caller that materializes the output
    (e.g. the crawl loop's per-generation index upsert) can unpersist
    the resolve's final pointer table."""
    resolved = redirect_resolve(
        redirects, max_hops=max_hops, cache_handle=cache_handle
    )
    return apply_resolved_map(docs, resolved, url_col=url_col)


def apply_resolved_map(
    docs: DataFrame, resolved: DataFrame, url_col: str = "url"
) -> DataFrame:
    """The join half of :func:`canonicalize_urls`: rewrite doc URLs
    through an ALREADY-RESOLVED redirect map (url, target, hops,
    resolved) — what the crawl loop does in steady state, where the map
    is maintained incrementally (:func:`incremental_redirect_resolve`)
    and read back from its side store instead of being re-derived from
    raw edges every generation. One left join; the map is the small
    side at any corpus size (redirect-subset cardinality), so AQE
    broadcasts it."""
    r = resolved.select(
        F.col("url").alias("__src"),
        F.col("target").alias("__target"),
        F.col("hops").alias("__hops"),
    )
    out = docs.join(r, docs[url_col] == F.col("__src"), "left")
    return out.select(
        *[
            F.coalesce(F.col("__target"), docs[url_col]).alias(url_col)
            if c == url_col
            else c
            for c in docs.columns
        ],
        F.coalesce(F.col("__hops"), F.lit(0))
        .cast("bigint")
        .alias("redirect_hops"),
    )


def canonicalize_urls_sql(
    docs_cte: str,
    redirects_cte: str,
    doc_cols: list[str],
    url_col: str = "url",
    max_hops: int = 64,
) -> str:
    """DuckDB twin of :func:`canonicalize_urls` for the driver's
    cross-engine gate: the unrolled pointer-doubling CTE chain from
    :func:`unrolled_redirect_resolve_sql` wrapped in one docs left join,
    with the identical coalesce-to-own-url semantics, column order, and
    ``hops <= max_hops`` clamp."""
    resolve = unrolled_redirect_resolve_sql(redirects_cte, max_hops=max_hops)
    cols = ", ".join(
        f"coalesce(r.target, d.{c}) AS {c}" if c == url_col else f"d.{c}"
        for c in doc_cols
    )
    return f"""
WITH resolved AS ({resolve}),
docs_in AS (SELECT * FROM ({docs_cte}))
SELECT {cols},
       CAST(coalesce(r.hops, 0) AS BIGINT) AS redirect_hops
FROM docs_in d LEFT JOIN resolved r ON d.{url_col} = r.url
"""
