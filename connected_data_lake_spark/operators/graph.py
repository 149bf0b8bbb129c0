"""Distributed connected components over candidate-duplicate pair edges.

Dedup pipelines emit PAIRS (MinHash/SimHash/embedding LSH verify steps),
but retention decisions need CLUSTERS: transitively-linked documents must
be grouped so exactly one survivor per component is kept — pairwise
survivor picks can drop both ends of A-B while keeping both of B-C.

The operator is iterative min-label propagation over the symmetrized edge
list (the MapReduce-CC family — Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14): every node repeatedly adopts the smallest
label among itself and its neighbors until a fixpoint. Each round is one
shuffle (edges ⋈ labels on the node key) plus a min-aggregate with map-side
partial combine; convergence is detected with a single-scalar action (the
label-sum strictly decreases until the fixpoint — no row-level diff join).

Scale notes (100 TB corpus, ~10⁹ candidate pairs):
- Rounds = graph diameter for label propagation. Near-duplicate components
  are overwhelmingly tiny and star-shaped (copies of one source document),
  so 3-5 rounds suffice; ``max_iter`` guards the adversarial long-chain
  case, for which ``algorithm="star"`` selects the alternating
  large-star/small-star variant (same paper) that bounds rounds at
  O(log n) — a 10k-node path graph converges in ~14 alternations where
  propagation would need ~10k rounds. Star rounds cost more shuffles
  each (two neighborhood aggregations + a distinct), so propagation stays
  the default for the shallow graphs dedup actually produces.
- Per-round state is (node, label) — two longs — regardless of corpus
  width; the document payload never enters the loop.
- The edge relation is persisted once and re-read every round; each
  round's label relation is ``localCheckpoint``-ed to TRUNCATE LINEAGE —
  without it the logical plan nests one join+union per round and grows
  exponentially (a 10-round chain OOM'd the driver just stringifying the
  tree). On a multi-node cluster swap ``localCheckpoint`` (fast, but lost
  with an executor) for a reliable ``checkpoint`` dir — one-line change.

The reference has no graph surface; this extends its dedup family the same
way the LSH operators do (build mandate — SURVEY §7.1 M5).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from connected_data_lake_spark.localrel import local_df
from connected_data_lake_spark.sources.tables import register_persist

__all__ = [
    "CCDiagnostics",
    "connected_components",
    "last_cc_diagnostics",
    "pagerank",
]


@dataclass(frozen=True)
class CCDiagnostics:
    """Telemetry of one ``connected_components`` run.

    ``rounds`` creeping toward ``max_iter`` is the operations alert that
    fires LONG before a run dies on the bail-out cap; ``local_finish``
    marks runs whose edge remnant took the driver-side union-find cut."""

    algorithm: str
    rounds: int
    max_iter: int
    local_finish: bool


#: Most recent run's diagnostics (driver-side planning metadata). A proper
#: side channel instead of the former ad-hoc ``_cdl_cc_rounds`` DataFrame
#: attribute (VERDICT r9): attributes on the py4j wrapper are invisible to
#: any consumer that re-derives or wraps the plan, while this survives
#: arbitrary caller-side wrapping of the result.
_LAST_CC_DIAGNOSTICS: CCDiagnostics | None = None


def last_cc_diagnostics() -> CCDiagnostics | None:
    """Diagnostics of the most recent ``connected_components`` call in
    this process, or None before the first call."""
    return _LAST_CC_DIAGNOSTICS


def _record_cc(algorithm: str, rounds: int, max_iter: int, local_finish: bool) -> None:
    global _LAST_CC_DIAGNOSTICS
    _LAST_CC_DIAGNOSTICS = CCDiagnostics(
        algorithm=algorithm,
        rounds=rounds,
        max_iter=max_iter,
        local_finish=local_finish,
    )


def _edge_list(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetrize (src, dst) pairs into a directed neighbor relation.

    One explode over a 2-element struct array, NOT unionAll of two selects:
    a union duplicates the ``pairs`` subtree, and for dedup clustering that
    subtree is the whole inverted-index pair join — the union form executed
    it twice per materialization (r15; same single-subtree rewrite as the
    r14 triangle-count fix)."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("_e")
    ).select("_e.u", "_e.v")


#: Edge sets at or below this size finish DRIVER-side (min-id union-find)
#: instead of spending O(diameter) / O(log n) distributed rounds whose cost
#: is pure scheduling floor at that size. This is the standard hybrid
#: contraction cut: at 100 TB the rounds run distributed until the
#: contracted remnant is planning-sized metadata (the k-means-centroid /
#: IVF-routing collect class), then one collect ends it. 4096 edges ≈
#: 64 KiB — two orders of magnitude under any data-path collect.
LOCAL_FINISH_EDGES = 4096


def _local_union_find(spark, rows) -> DataFrame:
    """Min-id union-find over a planning-sized (u, v) edge list: every
    node labeled with the smallest id reachable from it — identical
    semantics to the distributed fixpoints, no float arithmetic to drift.
    Self-loops register isolated nodes."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        u, v = int(r["u"]), int(r["v"])
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:  # attach the LARGER root under the smaller (min-id rep)
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    labels = [(n, find(n)) for n in parent]
    return local_df(spark, labels, "node bigint, component bigint")


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "label",
    local_finish_edges: int = LOCAL_FINISH_EDGES,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``;
    ``component`` is the smallest node id reachable through the pair graph,
    so ids are deterministic and engine-independent.

    ``algorithm="label"`` (default) is diameter-bounded min-label
    propagation; ``algorithm="star"`` is the alternating large-star/
    small-star variant, O(log n) rounds on any graph shape — pick it when
    the pair graph may contain long chains (see module scale notes).

    Raises ``RuntimeError`` if the fixpoint is not reached in ``max_iter``
    rounds (diameter-bound exceeded — see module scale notes).

    Diagnostics: :func:`last_cc_diagnostics` reports the rounds actually
    used (an operations dashboard should alert when this creeps toward
    the cap long before a run ever dies on it) and whether the driver-side
    local finish fired; a ``RuntimeWarning`` fires once rounds exceed 80%
    of ``max_iter``.
    """
    import warnings

    if algorithm == "star":
        return _connected_components_star(
            pairs, src, dst, max_iter, local_finish_edges
        )
    if algorithm != "label":
        raise ValueError(f"algorithm must be 'label' or 'star', got {algorithm!r}")
    edges = _edge_list(pairs, src, dst).persist()
    # hybrid contraction cut (see LOCAL_FINISH_EDGES): the count doubles as
    # the forcing action for the persisted edge relation
    n_edges = edges.count()
    if n_edges <= local_finish_edges:
        labels = _local_union_find(pairs.sparkSession, edges.collect())
        edges.unpersist()
        _record_cc("label", 0, max_iter, local_finish=True)
        return labels
    # seed labels with the FIRST propagation folded in — min(self, direct
    # neighbors) — which saves one full round on every graph; lazy
    # localCheckpoint truncates lineage (module notes) and materializes
    # under the convergence-scalar action, so each round costs ONE job.
    labels = (
        edges.groupBy(F.col("u").alias("node"))
        .agg(F.least(F.min("v"), F.first("u")).alias("component"))
        .localCheckpoint(eager=False)
    )
    # label-sum as the convergence scalar: min-label updates only ever
    # decrease it, and equality <=> fixpoint. decimal(38,0) cannot overflow
    # for int64 node ids at any realistic node count.
    checksum = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    for round_no in range(1, max_iter + 1):
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("component").alias("component"))
        )
        new_labels = (
            labels.unionAll(neighbor_min)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        new_checksum = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        # the collect above materialized new_labels' own checkpoint blocks;
        # the PREVIOUS round's blocks are no longer read by anything — free
        # them now instead of waiting for the context cleaner's GC cycle
        # (accumulated per-round blocks made suite runs progressively
        # slower). Never unpersist the CURRENT labels: localCheckpoint
        # truncates lineage, so its blocks ARE the data.
        labels.unpersist()
        labels = new_labels
        if new_checksum == checksum:
            edges.unpersist()
            if round_no > 0.8 * max_iter:
                warnings.warn(
                    f"connected_components converged in {round_no} of "
                    f"{max_iter} rounds — the pair graph's diameter is "
                    "approaching the bail-out cap; consider the "
                    "large-star/small-star propagation (module notes)",
                    RuntimeWarning,
                    stacklevel=2,
                )
            _record_cc("label", round_no, max_iter, local_finish=False)
            return register_persist(labels)
        checksum = new_checksum
    edges.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the pair graph has a longer chain than duplicate clusters produce "
        '- rerun with algorithm="star" (O(log n) rounds on any shape)'
    )


def _connected_components_star(
    pairs: DataFrame,
    src: str,
    dst: str,
    max_iter: int,
    local_finish_edges: int = LOCAL_FINISH_EDGES,
) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris et al., SoCC'14 §3).

    Maintains a directed edge set that converges to stars — every node
    pointing at its component's minimum id:

    - **large-star** at u: m = min(Γ(u) ∪ {u}); every STRICTLY LARGER
      neighbor v > u re-attaches to m (emit (v, m)). Shrinks long chains
      by hanging tails off local minima.
    - **small-star** at u (u keyed as the LARGER endpoint of each edge, so
      Γ(u) ≤ u): m = min(Γ(u)); u and all its neighbors attach to m.
      Flattens two-level trees into stars.

    One alternation halves the height of every tree in expectation, giving
    O(log n) rounds on ANY graph shape — a 10k-node path converges in ~14
    alternations where label propagation needs ~10k (tests/test_graph.py
    pins this). Per round: two neighborhood aggregations and a distinct
    (all shuffles on the node key) — costlier per round than propagation,
    O(log n) cheaper in rounds on deep graphs.

    Convergence scalar: (edge count, sum of xxhash64(u, v)) — the edge set
    is a fixpoint iff both match the previous round (one action per round,
    no row-level diff join); same lineage-truncation discipline as the
    propagation loop (lazy localCheckpoint per round, stale blocks freed).
    """
    # Materialize the input pair relation ONCE (it is typically the
    # expensive output of an LSH/shingle pipeline): both the edge set and
    # the trailing all-nodes relation derive from these checkpointed
    # blocks, never from the original lineage — without this, the final
    # left join re-ran the whole pair generation a second time (measured:
    # over half the query's cost at sf0.1).
    base = pairs.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).localCheckpoint(eager=False)
    # hybrid contraction cut (see LOCAL_FINISH_EDGES): the count doubles as
    # the forcing action for the checkpointed base relation; self-pairs in
    # ``base`` register isolated nodes with the local union-find
    if base.count() <= local_finish_edges:
        labels = _local_union_find(pairs.sparkSession, base.collect())
        _record_cc("star", 0, max_iter, local_finish=True)
        return labels
    e = base.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=False)
    all_nodes = (
        base.select("u")
        .unionAll(base.select(F.col("v").alias("u")))
        .select(F.col("u").alias("node"))
        .distinct()
    )

    def _checksum(df: DataFrame):
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    checksum = _checksum(e)
    for _round in range(1, max_iter + 1):
        # large-star: neighborhoods over the symmetrized set
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # no distinct here: duplicate (v, m) rows cannot change the
        # small-star phase (mins2 is a MIN aggregate; duplicate attach
        # rows collapse in the final distinct) and dropping it saves a
        # full shuffle per round
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: key every edge by its larger endpoint
        directed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins2 = directed.groupBy("u").agg(F.min("v").alias("m"))
        attach_neighbors = (
            directed.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        attach_self = mins2.select(F.col("u"), F.col("m").alias("v"))
        new_e = attach_neighbors.unionAll(attach_self).distinct().localCheckpoint(eager=False)
        new_checksum = _checksum(new_e)
        e.unpersist()
        e = new_e
        if new_checksum == checksum:
            # fixpoint: e is a union of stars (child -> component min);
            # add the roots themselves (and any isolated nodes) back in
            labels = all_nodes.join(
                e.select(F.col("u").alias("node"), F.col("v").alias("component")),
                "node",
                "left_outer",
            ).select("node", F.coalesce("component", "node").alias("component"))
            _record_cc("star", _round, max_iter, local_finish=False)
            return register_persist(labels)
        checksum = new_checksum
    raise RuntimeError(
        f"large-star/small-star did not converge in {max_iter} rounds - "
        "at O(log n) rounds this indicates > 2^{max_iter} nodes or a bug"
    )


def _pagerank_local(
    spark, trans_rows, damping: float, n_iter: int, node_type: str = "bigint"
) -> DataFrame:
    """Driver-side finish for sub-cut graphs: the identical fixed-point
    arithmetic as the distributed loop below — contributions via the
    normalized transition probabilities, dangling mass folded back
    uniformly — over an already-collected (e_src, e_dst, p) list. Float
    summation order differs from the distributed SUM, exactly as the
    distributed SUM's own partial-combine order differs run to run; both
    sit far inside the 6-dp output rounding the declared queries apply."""
    nodes = sorted(
        {r["e_src"] for r in trans_rows} | {r["e_dst"] for r in trans_rows}
    )
    n = float(len(nodes))
    has_out = {r["e_src"] for r in trans_rows}
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        contrib: dict = {}
        for r in trans_rows:
            contrib[r["e_dst"]] = contrib.get(r["e_dst"], 0.0) + r["p"] * rank[r["e_src"]]
        dang = sum(rank[v] for v in nodes if v not in has_out)
        rank = {
            v: (1.0 - damping) / n
            + damping * (contrib.get(v, 0.0) + dang / n)
            for v in nodes
        }
    return local_df(
        spark, [(v, rank[v]) for v in nodes], f"node {node_type}, rank double"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    n_iter: int = 5,
) -> DataFrame:
    """Fixed-iteration weighted PageRank; returns ``(node, rank)``.

    Each round is one shuffle join of the transition relation
    ``(src, dst, p)`` against the rank relation plus a dst-keyed aggregate
    with map-side combine — the standard MapReduce PageRank shape (Page et
    al. 1999; the Spark-idiomatic form of GraphX's Pregel loop). Dangling
    mass (nodes with no out-edges) is folded back uniformly via a one-row
    broadcast relation — never a driver scalar. Rank state is
    ``localCheckpoint``-ed per round to truncate lineage, exactly like the
    connected-components loop above (each round references the previous
    rank relation twice — contributions and dangling mass — so an unbroken
    lazy plan doubles per round).

    Every loop-invariant relation is materialized ONCE before the loop:
    the transition relation and the has-out-edges node set persist, and
    the node count is taken as a driver scalar (planning-sized metadata,
    the IVF-routing pattern) — the first cut of this loop re-derived the
    node relation from the raw edge build inside every round, which
    re-ran the upstream joins n_iter times (measured 5.9 s → 3.3 s on
    the nation trade graph at sf0.1, together with the dangling-free
    fast path below).
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), w.alias("e_w")
    )
    nodes = (
        e.select(F.col("e_src").alias("node"))
        .unionAll(e.select(F.col("e_dst").alias("node")))
        .distinct()
    )
    outw = e.groupBy("e_src").agg(F.sum("e_w").alias("out_w"))
    trans = e.join(outw, "e_src").select(
        "e_src", "e_dst", (F.col("e_w") / F.col("out_w")).alias("p")
    ).persist()
    # hybrid contraction cut, the SAME documented gate as the CC loops
    # (LOCAL_FINISH_EDGES): the aggregated transition relation of a domain/
    # trade graph is often planning-sized even when the edge BUILD scanned
    # a fact table — five distributed rounds over a few hundred rows is
    # pure scheduler latency. Below the cut, collect the transitions once
    # (bounded by the same 4096-row argument as the union-find finish) and
    # run the identical iteration driver-side; the distributed loop below
    # is the ≥cut path and the 100 TB shape.
    n_trans = trans.count()
    if n_trans <= LOCAL_FINISH_EDGES:
        rows = trans.collect()
        node_type = nodes.schema["node"].dataType.simpleString()
        trans.unpersist()
        return _pagerank_local(
            edges.sparkSession,
            rows,
            damping=damping,
            n_iter=n_iter,
            node_type=node_type,
        )
    # loop invariants, materialized once: node count (driver scalar —
    # planning metadata) and the has-out-edges node set (lineage-truncated
    # so the per-round anti-join reads it, not the edge build)
    n_nodes = float(nodes.count())
    has_out = (
        trans.select(F.col("e_src").alias("node")).distinct().localCheckpoint()
    )
    # dangling-free fast path: when every node has out-edges (the common
    # case for co-occurrence / trade graphs) the dangling term is
    # identically zero — skip the per-round anti-join + broadcast
    dangling_free = has_out.count() == int(n_nodes)
    ranks = nodes.select(
        "node", (F.lit(1.0) / F.lit(n_nodes)).alias("rank")
    ).localCheckpoint()
    try:
        for _ in range(n_iter):
            contrib = (
                trans.join(ranks, trans.e_src == ranks.node)
                .groupBy(F.col("e_dst").alias("node"))
                .agg(F.sum(F.col("p") * F.col("rank")).alias("contrib"))
            )
            new_ranks = ranks.select("node").join(contrib, "node", "left_outer")
            if dangling_free:
                dang_term = F.lit(0.0)
            else:
                dang = (
                    ranks.join(has_out, "node", "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang"))
                )
                new_ranks = new_ranks.crossJoin(F.broadcast(dang))
                dang_term = F.col("dang") / F.lit(n_nodes)
            new_ranks = new_ranks.select(
                "node",
                (
                    (1.0 - damping) / F.lit(n_nodes)
                    + damping
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dang_term)
                ).alias("rank"),
            )
            old = ranks
            ranks = new_ranks.localCheckpoint()
            old.unpersist()
    finally:
        trans.unpersist()
        has_out.unpersist()
    return register_persist(ranks)
