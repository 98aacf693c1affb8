"""Iterative graph operators: connected components for dedup grouping
(SURVEY.md §2 Part B "LLM-data extensions" — near-dup pairs are only half
of dedup; collapsing pairs into groups and electing a canonical document
needs the transitive closure).

Algorithm: min-label propagation. Each node starts labeled with itself;
every iteration each node takes the min label in its neighborhood;
converged when no label changes. Iterations are whole DataFrame joins —
each one a shuffle by node — so the driver loop runs O(graph diameter)
Spark jobs. Near-dup graphs are collections of small dense cliques
(diameter 2-3), so this converges in a handful of rounds at any corpus
size; the ``max_iter`` guard and localCheckpoint() per round (severing
the growing lineage) keep the worst case bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Below this many edges a take()-probe doubles as the collect; above it the
# probe is a row-count so a "graph too big" answer never ships rows driver-side.
_TAKE_PROBE_CAP = 10_000

# pagerank severs the rank vector's lineage every K iterations so the
# physical plan stays O(1) nodes per round (the q156 plan unrolled to
# ~290 Exchanges before the cut)
_PR_CHECKPOINT_EVERY = 5


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """(node, component) — component = min node id reachable from node.

    ``edges`` is undirected input (each pair listed once is enough).
    Isolated nodes don't appear (join your node table afterwards with a
    coalesce-to-self if needed).

    Physical strategy: near-dup graphs are tiny relative to the corpus
    (only documents that HAVE a near-duplicate appear), so when the edge
    list fits on the driver (< ``local_threshold``) a union-find over
    collected edges beats N_iterations x 3 shuffle jobs by an order of
    magnitude. Larger graphs take the distributed min-label-propagation
    loop. Pass ``local_threshold=0`` to force the distributed path.

    The strategy probe is sized to the threshold. Small thresholds
    (<= ``_TAKE_PROBE_CAP``) use a single ``take(threshold + 1)``: if the
    edge list fits, those rows ARE the union-find input — no second job.
    Large thresholds persist the projected edge list, probe with a bounded
    ``limit(threshold + 1).count()`` (no rows move to the driver), and only
    then collect; partitions computed by the probe are served from cache,
    so the upstream pair-generation plan still executes at most once per
    partition in every branch. (A take()-probe at the default 1M threshold
    would ship ~1M Row objects driver-side just to *decide*, and discard
    them all when the graph turns out large.)
    """
    if local_threshold:
        sel = edges.select(src, dst)
        if local_threshold <= _TAKE_PROBE_CAP:
            head = sel.take(local_threshold + 1)
            if len(head) <= local_threshold:
                return _cc_local(edges.sparkSession, head, dict(edges.dtypes)[src])
        else:
            sel = sel.persist()
            try:
                n = sel.limit(local_threshold + 1).count()
                if n <= local_threshold:
                    return _cc_local(
                        edges.sparkSession, sel.collect(), dict(edges.dtypes)[src]
                    )
                # distributed path consumes the persisted projection; its
                # eager localCheckpoint materializes before we unpersist
                return _cc_distributed(sel, src, dst, max_iter)
            finally:
                sel.unpersist()
    return _cc_distributed(edges, src, dst, max_iter)


def _cc_local(spark, edge_rows, id_type: str) -> DataFrame:
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edge_rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the representative is the component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    return spark.createDataFrame(rows, f"node {id_type}, component {id_type}")


def _cc_distributed(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    both = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # materialize once: the edge list is re-joined EVERY iteration, and
        # without this the (possibly expensive) upstream pair-generation
        # plan re-executes per round (observed 4x wall-clock on q75)
        .localCheckpoint(eager=True)
    )
    labels = (
        both.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    # labels only ever decrease, so the label-sum is a strictly decreasing
    # convergence witness — one cheap agg per round instead of a
    # join-based change detector
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    for _ in range(max_iter):
        neighbor_min = (
            both.join(labels, both.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
            )
        )
        labels = new_labels.localCheckpoint(eager=True)
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def dedup_groups(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """(doc_id, canonical_id) for every document in a near-dup pair: the
    group representative is the minimum doc id of the component."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("canonical_id")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 4,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank over an edge list; returns (node, r).

    Each iteration is one join of the current rank vector against the
    out-weight-normalized edge list plus a dst-keyed aggregation — the
    textbook edge-partitioned shape: state is O(nodes), the per-iteration
    shuffle is O(edges), and nothing ever collects to the driver.

    Lineage is BOUNDED (r17): the node set and the normalized edge list
    are localCheckpoint-ed once up front — they are re-joined every
    iteration, and without the cut the (possibly expensive) upstream
    edge-derivation subtree rides the plan once per round, exactly the
    unbounded-plan growth ``_cc_distributed`` fixed for q75 — and the
    rank vector is checkpointed every ``_PR_CHECKPOINT_EVERY`` rounds,
    so the physical plan stays O(1) nodes per iteration at any
    iteration count (guide §5: materialize to truncate huge plans;
    checkpointing changes no value, only where the data is re-read
    from).

    Nodes without in-edges get the (1-d)/N teleport mass via the left
    join from the node set; mass from dangling nodes (no out-edges) is
    NOT redistributed — both this and the q156 oracle leak it
    identically, and the nation-trade graph has none.

    An edge with a NULL endpoint is dropped before anything else: it
    names no node, so it neither adds a node nor counts toward its
    other endpoint's out-weight (a node reachable only through such an
    edge is not in the result, and no NULL node ever is).
    """
    e = edges.select(
        F.col(src).alias("_src"),
        F.col(dst).alias("_dst"),
        (F.col(weight).cast("double") if weight else F.lit(1.0)).alias("_w"),
    ).where(F.col("_src").isNotNull() & F.col("_dst").isNotNull())
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_ow"))
    enorm = (
        e.join(outw, "_src")
        .select("_src", "_dst", (F.col("_w") / F.col("_ow")).alias("_p"))
        # ONE lazy local checkpoint cuts the (possibly expensive)
        # upstream edge-derivation subtree out of every iteration's
        # plan; lazy = blocks save inside the first consuming job, no
        # separate materialization job at small scale
        .localCheckpoint(eager=False)
    )
    # node set derived FROM the checkpointed edge list (enorm holds
    # exactly e's rows: the out-weight join matches every non-NULL
    # edge), so the
    # edge subtree appears in the whole computation exactly once
    nodes = (
        enorm.select(F.col("_src").alias("node"))
        .union(enorm.select(F.col("_dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("_n"))
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("r")
    )
    for i in range(max(iters, 0)):
        contrib = (
            enorm.join(ranks, enorm._src == ranks.node)
            .select("_dst", (F.col("r") * F.col("_p")).alias("_c"))
            .groupBy("_dst")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib._dst, "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("_n")
                    + damping * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("r"),
            )
        )
        if (i + 1) % _PR_CHECKPOINT_EVERY == 0 and (i + 1) < iters:
            # sever the growing rank lineage so the plan stays O(1)
            # per iteration however many rounds run
            ranks = ranks.localCheckpoint(eager=False)
    return ranks
