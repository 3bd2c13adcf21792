"""Iterative graph analytics: PageRank with engine-exact arithmetic.

Beyond-reference capability (the published PageRank recurrence —
Brin & Page 1998 — over a DataFrame edge list). In a curation
pipeline this is the domain-authority weighting step: rank hosts in
the link graph, weight or threshold documents by their host's rank.

Scale + determinism design:
- the graph stays distributed end to end: one edge table, per-node
  out-degrees, and each iteration is join(ranks, edges) -> groupBy(dst)
  — the canonical shuffle-per-iteration shape, no adjacency collected
  anywhere;
- a FIXED iteration count keeps the plan finite and makes the whole
  computation expressible as unrolled SQL — which is how the driver
  oracle checks it exactly, not just rows-only (cf. the min-label
  propagation in dedup.connected_components, whose oracle relies on a
  data-shape shortcut instead);
- per-node incoming sums accumulate in DECIMAL(38,12) (like
  functions.dot_decimal): double sums would depend on partition
  order and engine, decimal sums are exact and order-independent, so
  every engine produces bit-identical ranks at every iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pipeline import materialize

__all__ = ["pagerank"]

_DEC = "decimal(38,12)"

_SIZE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ("16777216", "10m", "1g")."""
    s = str(v).strip().lower()
    if s.endswith("b") and len(s) > 1 and s[-2] in _SIZE_SUFFIX:
        s = s[:-1]
    if s and s[-1] in _SIZE_SUFFIX:
        return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
    return int(s)


def _edge_table(e: DataFrame) -> DataFrame:
    """The deduped, degree-folded (src, dst, deg) edge table, built on a
    SINGLE exchange: hash-partitioning on ``src`` alone satisfies the
    clustered distribution both of the (src, dst) dedup and of the
    per-src degree count, so ``dropDuplicates`` and the window aggregate
    reuse the repartition's exchange instead of each adding their own
    (the earlier distinct-then-repartition + groupBy/join fold paid two
    full edge shuffles and a self-join; measured 8 Exchange -> 3 on the
    build subtree, eager-checkpoint build 1.39 -> 0.90 s at sf0.1, rows
    bit-identical). Exposed for the plan-shape test.

    Skew trade-off (r15 advice): keying the single exchange on ``src``
    alone concentrates a hub node's entire out-edge set in one
    partition, and the window fold buffers that group (WindowExec
    spills past the in-memory threshold — slow, not wrong). The
    (src, dst)-keyed alternative spreads hubs but pays a second full
    edge shuffle for the degree fold. For web-scale hub-skewed graphs
    prefer the two-exchange shape (or salt the fold); for the typical
    bipartite/host graphs this module targets, one exchange wins."""
    e = e.repartition("src").dropDuplicates(["src", "dst"])
    return e.withColumn("deg", F.count("*").over(Window.partitionBy("src")))


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    n_iters: int = 5,
    undirected: bool = True,
) -> DataFrame:
    """PageRank over an edge list; returns (node, rank).

    ``undirected=True`` doubles each edge (a->b, b->a), which
    guarantees every node has in- and out-degree >= 1 — no dangling
    nodes, no zero-in-degree nodes, and the recurrence needs no
    correction terms. Nodes are whatever appears in the edge list
    (either endpoint). Rank updates follow
    r' = (1-d)/N + d * (sum(r_in / outdeg_in) + dangling_mass/N)
    with the incoming sum in exact decimal.

    Directed mode handles the two shapes the plain recurrence gets
    wrong: a node nobody links to keeps its (1-d)/N floor every
    iteration (the node set is left-joined back, never rebuilt from the
    contributions), and the rank of sink nodes (out-degree 0) is
    redistributed uniformly — the standard dangling-mass term (Brin &
    Page 1998 §2.1.1) — so total rank mass stays exactly 1.

    Building this plan launches Spark jobs: the edge table is cut with
    an eager ``materialize`` (one (src, dst, deg) row per distinct
    edge, doubled when undirected) and the node count is collected.
    Directed mode also eagerly cuts the (node, is_sink) table and each
    superstep's (node, is_sink, rank) table: one node-sized table per
    iteration.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if undirected:
        # double each edge with ONE pass: explode a 2-element array of
        # (fwd, rev) structs. The r15 self-union referenced the input
        # subtree twice, and Catalyst does not share subplans — an
        # expensive edge-producing join upstream executed TWICE (only
        # its exchanges were reused). Same row multiset by construction.
        e = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("__e__")
        ).select("__e__.src", "__e__.dst")
    # every iteration re-joins the edge table; without a lineage cut
    # Catalyst re-derives it (scan + distinct) once per iteration and
    # the plan grows superlinearly in n_iters.
    # the static side is also PRE-PARTITIONED on the join key before
    # the cut (the Pregel trade: co-locate the graph once, shuffle only
    # the ranks each superstep), but the checkpointed LogicalRDD reports
    # UnknownPartitioning, so the plan cannot use that co-location: on
    # the non-broadcast path below, every superstep re-shuffles the
    # full edge table
    ed = materialize(_edge_table(e), eager=True)
    if undirected:
        # doubled edges ⇒ every node appears as src; no dangling nodes
        nodes = ed.select(F.col("src").alias("node")).distinct()
    else:
        # sinks (out-degree 0) are flagged ONCE at build time and the
        # flag rides along in the ranks frame, so each superstep's
        # dangling mass is a single aggregate over the already-
        # checkpointed ranks — no per-iteration semi-join against a
        # dangling table (the r7 shape paid one join + one action per
        # superstep for the same scalar). A node is a sink iff it never
        # appears as src of the checkpointed edge table.
        srcs = ed.select(F.col("src").alias("__s__")).distinct()
        nodes = (
            ed.select(F.col("src").alias("node"))
            .unionByName(ed.select(F.col("dst").alias("node")))
            .distinct()
            .join(srcs, F.col("node") == F.col("__s__"), "left")
            .select("node", F.col("__s__").isNull().alias("is_sink"))
        )
        nodes = materialize(nodes, eager=True)
    # the N scalar appears in EVERY iteration's rank update. It used to
    # ride along as an eagerly-checkpointed 1-row frame cross-joined
    # (broadcast) per superstep; since r15 the count is read once on
    # the driver (one tiny job over the checkpointed node set — a
    # scalar, not data, cf. guide §5) and inlined as a LITERAL: each
    # superstep loses a BroadcastNestedLoopJoin + BroadcastExchange,
    # and the update arithmetic is unchanged — same double division,
    # evaluated in the engine either way.
    n_rows = float(nodes.count())
    # r15 (guide §3.1): the checkpointed edge LogicalRDD reports
    # UnknownPartitioning, so the shuffle_hash superstep join was
    # re-exchanging the FULL edge table (plus the ranks) every
    # iteration — the co-location the pre-checkpoint repartition paid
    # for never reached the plan. The ranks side is the NODE table,
    # typically orders of magnitude smaller than the edge table; when
    # it verifiably fits the session's broadcast budget (gate derived
    # from the materialized node count, not a constant — at web scale
    # with billions of nodes the gate stays closed and the shuffle
    # shape below is kept), broadcast it instead: the edge table is
    # probed in place in its checkpoint blocks, contributions partial-
    # aggregate map-side, and the only exchange per superstep is the
    # tiny per-node partial-sum shuffle.
    bcast_cap = _parse_bytes(
        edges.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
    )
    # 64 B/node is deliberately pessimistic for (node, rank) rows so
    # string-keyed graphs stay honest
    broadcast_ranks = bcast_cap > 0 and n_rows * 64 <= bcast_cap
    if undirected:
        ranks = nodes.select(
            "node", (F.lit(1.0) / F.lit(n_rows)).alias("rank")
        )
    else:
        ranks = nodes.select(
            "node", "is_sink", (F.lit(1.0) / F.lit(n_rows)).alias("rank")
        )
    for it in range(n_iters):
        if it == 0:
            # superstep 1 shortcut (r16): rank_0 is the CONSTANT 1/N for
            # every node, and every edge src is a node by construction
            # (undirected: nodes = distinct src; directed: src ∪ dst),
            # so the first join against ranks_0 is algebraically a
            # projection over the checkpointed edge table. Identical
            # doubles — (lit(1.0)/lit(N))/deg is the exact expression
            # the joined shape evaluated — while skipping one broadcast
            # build (which re-executed the node-distinct shuffle) or
            # one ranks-side shuffle per query.
            contrib = ed.select(
                F.col("dst").alias("node"),
                ((F.lit(1.0) / F.lit(n_rows)) / F.col("deg").cast("double"))
                .cast(_DEC)
                .alias("c"),
            )
        elif broadcast_ranks:
            # probe the checkpointed edge blocks in place — zero
            # exchange on either join side; (node, rank) only, the
            # is_sink flag never crosses the wire
            r = F.broadcast(ranks.select("node", "rank"))
            contrib = (
                ed.join(r, ed.src == r.node)
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") / F.col("deg").cast("double"))
                    .cast(_DEC)
                    .alias("c"),
                )
            )
        else:
            # node table too big to broadcast: SHUFFLE_HASH instead of
            # sort-merge — re-sorting the full edge table every
            # iteration buys nothing, and the hash build side is the
            # ranks slice, strictly smaller than the edge side it
            # probes (guide §3.1's deliberate shuffled-hash pick).
            r = ranks.hint("shuffle_hash")
            contrib = (
                r.join(ed, r.node == ed.src)
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") / F.col("deg").cast("double"))
                    .cast(_DEC)
                    .alias("c"),
                )
            )
        in_sums = contrib.groupBy("node").agg(
            F.sum("c").cast("double").alias("in_sum")
        )
        if undirected:
            # undirected: in-degree >= 1 everywhere, so the aggregate
            # covers every node and there is no dangling mass — keep
            # the original (oracle-exact) two-term update
            ranks = in_sums.select(
                "node",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.lit(n_rows)
                    + F.lit(damping) * F.col("in_sum")
                ).alias("rank"),
            )
        else:
            # directed: the 1-row dangling-mass scalar (decimal-exact
            # like the contribution sums, so bit-identical to the r7
            # semi-join shape) is one filtered aggregate over the
            # checkpointed ranks via the is_sink flag; it broadcasts
            # back onto the node set, and nodes with no inbound links
            # keep their (1-d)/N floor via the left join + coalesce
            dmass = ranks.agg(
                F.coalesce(
                    F.sum(
                        F.when(F.col("is_sink"), F.col("rank").cast(_DEC))
                    ).cast("double"),
                    F.lit(0.0),
                ).alias("dm")
            )
            ranks = materialize(
                nodes.join(in_sums, on="node", how="left")
                .crossJoin(F.broadcast(dmass))
                .select(
                    "node",
                    "is_sink",
                    (
                        (F.lit(1.0) - F.lit(damping)) / F.lit(n_rows)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("in_sum"), F.lit(0.0))
                            + F.col("dm") / F.lit(n_rows)
                        )
                    ).alias("rank"),
                ),
                # ranks feed the next iteration TWICE (contrib + dmass);
                # without a per-superstep cut the unrolled plan doubles
                # per iteration
                eager=True,
            )
    return ranks.select("node", "rank")
