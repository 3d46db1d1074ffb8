"""Graph operators for dedup clustering (extension surface).

Near-dup detection emits PAIRS (dedup.py); a pipeline needs CLUSTERS —
"keep one document per connected component of the similarity graph".
The reference has no graph surface (SURVEY.md §2.3: no joins at all);
this is a pure extension sized for the 100 TB path.

``connected_components`` is iterative min-label propagation expressed as
DataFrame joins: each round every node adopts the minimum label among
itself and its neighbors. Rounds = graph diameter; similarity graphs from
dedup are overwhelmingly tiny cliques/chains (diameter 2-4), so 3-5
rounds close them. Each round is one shuffle join + one aggregation —
the same per-round cost profile GraphX/Pregel would have — and lineage is
truncated per round with ``localCheckpoint`` so the plan does not grow
(an un-checkpointed iterative join re-plans the full chain every action
and eventually overwhelms the optimizer). Convergence is detected by a
changed-label count, one lightweight action per round.

For adversarial high-diameter graphs ``algorithm="star"`` selects the
alternating large-star/small-star variant (Kiveris et al., "Connected
Components in MapReduce and Beyond", public): each round hooks larger
neighbors onto the neighborhood minimum (large-star) then collapses
smaller neighbors onto it (small-star), halving path lengths — O(log d)
rounds with the same join primitive, where min-label propagation needs
O(d). ``max_iter`` strictly bounds the TOTAL rounds for every algorithm
(the default "auto" escalation hands the star variant only the budget
minlabel has not spent); hitting the bound without a fixpoint emits an
explicit warning instead of silently returning partial labels.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# minlabel rounds before auto-escalating to the star variant: dedup
# similarity graphs are cliques/short chains (diameter 2-4, SURVEY §2 ext),
# so needing more than this many rounds is itself the high-diameter signal
_STAR_FALLBACK_ROUNDS = 8


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    algorithm: str = "auto",
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Undirected connected components of an edge list.

    Input: a pair DataFrame with two node-id columns (``src``, ``dst``).
    Output: ``(node, component)`` where component = min node id reachable
    — the canonical-representative convention of exact_dedup (min doc_id
    keeps the keep-first policy uniform across dedup tiers).

    ``algorithm``: "auto" (default) runs min-label propagation —
    O(diameter) rounds, the right cost for clique-shaped dedup graphs —
    and auto-escalates: if the fixpoint is not reached after
    ``_STAR_FALLBACK_ROUNDS`` rounds the graph is evidently
    high-diameter, so the REMAINING ``max_iter`` budget switches to the
    star variant (O(log d) rounds) — adversarial chains converge without
    user intervention, and total rounds never exceed ``max_iter``.
    "minlabel" pins pure min-label propagation (no escalation — the
    strictly-predictable-plan choice); "star" runs the
    large-star/small-star variant directly.

    Small-graph fast path ("auto" only): when the two-orientation
    edge set has fewer than ``small_graph_threshold`` rows (the same
    driver-side count the coalesce(1) gate already paid), the whole
    fixpoint runs as ONE single-task union-find job over the one
    partition — dedup pair graphs are tiny at every corpus scale
    (near-dup pairs), and the iterative loop costs 2 driver jobs x
    diameter rounds for a graph that fits one task. Identical results
    by construction (union by min id ⇒ representative = min reachable
    id). Set ``small_graph_threshold=0`` to force the distributed loop;
    graphs at or above the threshold always use it.
    """
    if algorithm not in ("auto", "minlabel", "star"):
        raise ValueError(
            f"unknown algorithm {algorithm!r}: expected 'auto', 'minlabel' or 'star'"
        )
    # materialize the pair list BEFORE the two-orientation union: the
    # union references `pairs` twice, and an un-materialized reference
    # would execute the (often expensive — e.g. MinHash-LSH) upstream
    # plan once per orientation
    p = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .localCheckpoint(eager=True)
    )
    if algorithm == "star":
        return _star_components(p, src="u", dst="v", max_iter=max_iter)
    edges = (
        p.union(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # dedup pair graphs are usually tiny relative to the cluster; collapse
    # them to one partition so each fixpoint round is one task, not
    # shuffle-partitions tasks of a few rows each (size-gated: a big graph
    # keeps its parallelism)
    n_edges = edges.count()
    if algorithm == "auto" and n_edges < small_graph_threshold:
        # the graph fits one task — run the whole fixpoint as ONE job
        # instead of 2 driver jobs x diameter rounds
        return _local_components(edges)
    if n_edges < 100_000:
        edges = edges.coalesce(1)
    # fused round 0: initially every neighbor's label IS its id, so the
    # first propagation needs no join — label = min(node, neighbors)
    # straight off the edge list (one aggregation, one round saved)
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("mnv"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("mnv")).alias("component"),
        )
    )
    for i in range(max_iter):
        # min over own label and every neighbor's label; labels only ever
        # decrease, so "changed" is detectable inside the same pass (a
        # flag column) instead of a separate old-vs-new shuffle join
        neighbor_labels = (
            edges.join(labels, edges["v"] == labels["node"])
            .select(F.col("u").alias("node"), "component")
        )
        mins = (
            labels.union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("component").alias("mn"))
        )
        new_labels = (
            labels.withColumnRenamed("component", "old")
            .join(mins, "node")
            .select(
                "node",
                F.col("mn").alias("component"),
                (F.col("mn") < F.col("old")).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("chg").count()  # narrow scan, no shuffle
        labels = new_labels.drop("chg")
        if changed == 0:
            break
        # still changing after the fallback threshold: the graph is
        # high-diameter (chains, not the clique-shaped dedup norm) —
        # hand the REMAINING budget to the star variant, whose O(log d)
        # rounds close it; total rounds stay <= max_iter. Only under
        # "auto" (an explicit algorithm="minlabel" opts out) and only
        # when budget remains, so an explicit tiny max_iter keeps its
        # bounded-work-plus-warning contract.
        if (
            algorithm == "auto"
            and i + 1 >= _STAR_FALLBACK_ROUNDS
            and i + 1 < max_iter
        ):
            return _star_components(
                p, src="u", dst="v", max_iter=max_iter - (i + 1)
            )
    else:
        warnings.warn(
            f"connected_components(minlabel) hit max_iter={max_iter} before the "
            "fixpoint; labels may span partial components. Raise max_iter or use "
            'algorithm="star" (O(log d) rounds) for high-diameter graphs.',
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def _local_components(edges: DataFrame) -> DataFrame:
    """Single-task union-find over a SMALL two-orientation edge set —
    the size-gated fast path of ``connected_components``. The
    caller has already proven |edges| < threshold with the driver-side
    count it needed anyway, so the whole graph fits one partition and
    the fixpoint collapses to ONE job: a deterministic min-id
    union-find inside a mapInPandas task (guide §4.2 — an iterative
    fixpoint is exactly where columnar SQL can't go, and the data is
    bounded by the gate). Union always attaches the larger root under
    the smaller, so every representative is the component's minimum
    node id — identical to min-label propagation's fixpoint. One row
    per distinct node (every node appears as ``u`` in the
    two-orientation set), like the distributed loop."""
    node_t = edges.schema["u"].dataType.simpleString()

    def uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for b in batches:
            for u, v in zip(b["u"], b["v"]):
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        nodes = list(parent)
        yield pd.DataFrame(
            {"node": nodes, "component": [find(n) for n in nodes]}
        )

    return edges.coalesce(1).mapInPandas(
        uf, f"node {node_t}, component {node_t}"
    )


def _star_components(
    pairs: DataFrame, *, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Alternating large-star / small-star rounds (Kiveris et al.).

    large-star: every node hooks its STRICTLY LARGER neighbors onto
    m(u) = min(Γ(u) ∪ {u}).  small-star: with edges oriented high→low,
    every node re-points its smaller neighbors (and itself) at the
    minimum. Both are one groupBy + one join over the current edge set;
    path lengths roughly halve per round, so a chain of length d closes
    in O(log d) rounds. Convergence = edge set unchanged, detected by a
    (count, xor-of-hashes) checksum — one tiny aggregate per round
    against the checkpointed frame.
    """
    raw = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # node inventory from the UNFILTERED pairs: a node whose only edges
    # are self-loops still gets a (node, node) row, matching minlabel
    nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = (
        raw.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # same size gate as minlabel: a tiny pair graph runs each round as one
    # task; re-applied to every per-round rebuild below so later rounds do
    # not revert to shuffle-partitions near-empty tasks
    small = edges.count() < 100_000
    if small:
        edges = edges.coalesce(1)

    def _checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(edges)
    converged = False
    for _ in range(max_iter):
        # large-star over both orientations
        und = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            und.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over high→low orientation (large-star output already is)
        p = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m2 = p.groupBy("u").agg(F.min("v").alias("m"))
        joined = p.join(m2, "u")
        edges = (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(joined.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )
        if small:
            edges = edges.coalesce(1)
        edges = edges.localCheckpoint(eager=True)
        cur = _checksum(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        warnings.warn(
            f"connected_components(star) hit max_iter={max_iter} before the edge "
            "set stabilized; labels may span partial components.",
            RuntimeWarning,
            stacklevel=3,
        )
    # fixpoint edges are stars (node, root): label non-roots by their root,
    # roots (and any node whose edges fully collapsed) by themselves
    assignment = edges.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("component")
    )
    return nodes.join(assignment, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def cluster_summary(components: DataFrame, *, head: int = 64) -> DataFrame:
    """(component, n_docs, doc_ids, roster_truncated) — the dedup-
    cluster report: every doc except the component id itself is a
    candidate for removal. ``doc_ids`` is the numerically-sorted id
    list joined with ',' — a scalar column, so differential harnesses
    (and lake formats without nested-type support) consume it directly.

    CONTRACT: the listing is CAPPED at the first
    ``head`` ids (n_docs stays exact), and ``roster_truncated``
    (= n_docs > head) says so PER ROW, so a consumer can detect a
    capped roster without parsing the string (a silent cap is an
    output-contract change external readers could only discover by
    counting commas). The old form collect_list'd the FULL
    membership per component — a boilerplate mega-cluster (the common
    worst case real dedup runs hit) makes one aggregation buffer
    corpus-sized. The head comes from a per-component
    row_number <= head, which rides Spark's rank-limit pushdown
    (WindowGroupLimit keeps ``head`` rows per task before the sort), so
    no unbounded array exists; membership counts come from a separate
    exact aggregate joined back on the component key. A report reader
    who needs a mega-cluster's full roster queries the components frame
    for that one component — the summary's job is the overview."""
    if not (isinstance(head, int) and head >= 1):
        raise ValueError(
            f"cluster_summary: head must be a positive int, got {head!r}"
        )
    # lazy localCheckpoint: the exact count and the head ranking both
    # consume the components frame, whose upstream is the full iterative
    # CC computation — without it each branch re-runs that lineage
    components = components.localCheckpoint(eager=False)
    counts = components.groupBy("component").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("component").orderBy("node")
    heads = (
        components.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= head)
        .groupBy("component")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_rn", "node"))),
                    lambda s: s["node"].cast("string"),
                ),
                ",",
            ).alias("doc_ids")
        )
    )
    return counts.join(heads, "component").select(
        "component",
        "n_docs",
        "doc_ids",
        (F.col("n_docs") > head).alias("roster_truncated"),
    )


def pagerank_uniform_exact(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int,
    outdeg: int,
    damping_num: int = 17,
    damping_den: int = 20,
) -> DataFrame:
    """Integer-exact PageRank for graphs where EVERY node has exactly
    ``outdeg`` out-edges (multigraph; no dangling nodes by contract).

    With d = p/q and uniform out-degree g, ranks stay rational with the
    common denominator D_k = N * (q*g)^k, and the numerators obey the
    all-integer recurrence

        n_0(v)     = 1
        n_{k+1}(v) = (q - p) * g * (q*g)^k  +  p * SUM_{u->v} n_k(u)

    so every iteration — and therefore the differential gate — is exact
    64-bit arithmetic, immune to float summation order. Bounds: numerators
    reach ~N*(q*g)^k; for q*g = 60, N = 10^4, k = 6 that is ~5*10^14,
    comfortably inside BIGINT (overflow would raise under ANSI mode, not
    truncate). Returns (node, rank_num, rank_ppb) where
    rank_ppb = (rank_num * 10^9) div (N*(q*g)^k) — integer parts-per-
    billion via exact integer division, so no float (and no decimal
    rounding TIE: round(x, 8) on an exact .5 boundary breaks differently
    across engines — Spark rounds the shortest decimal repr, C libraries
    round the binary value; sf0.1 hit exactly such a tie) exists anywhere
    in the output. Requires rank_num * 10^9 < 2^63: holds through
    N*(q*g)^k < 9.2e9, i.e. N <= ~42k at k=3.
    """
    p, q, g = damping_num, damping_den, outdeg
    n_row = nodes.agg(F.count("*").alias("n_nodes"))
    state = nodes.select("node", F.lit(1).cast("long").alias("num")).localCheckpoint(
        eager=True
    )
    for k in range(n_iter):
        teleport = (q - p) * g * (q * g) ** k
        linked = (
            edges.join(state.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("num").alias("linked"))
        )
        state = (
            nodes.join(linked, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport).cast("long")
                    + F.lit(p) * F.coalesce(F.col("linked"), F.lit(0))
                ).cast("long").alias("num"),
            )
            .localCheckpoint(eager=True)
        )
    denom_factor = (q * g) ** n_iter
    return (
        state.join(F.broadcast(n_row))
        .select(
            "node",
            F.col("num").alias("rank_num"),
            F.expr(
                f"(num * 1000000000L) div (n_nodes * {denom_factor}L)"
            ).alias("rank_ppb"),
        )
    )


def triangle_counts(edges: DataFrame, *, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts on an undirected graph —
    the degree-ordered MapReduce plan (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11): orient every
    edge from its lower-(degree, id) endpoint to the higher, enumerate
    wedges only at each edge's LOW-degree apex, and close them against
    the oriented edge set. Orientation bounds per-apex out-degree by
    O(sqrt(m)), so a celebrity node never materializes deg² wedges at
    one reducer — the exact failure mode the naive apex-at-every-node
    plan hits at 100 TB.

    Plan: degree build = one node-keyed aggregate (vertex-table-sized →
    broadcast back onto edges); wedge enumeration = one self-join keyed
    on apex; closing = one equi-join of wedges against edges on BOTH
    endpoints. Each triangle {a ≺ b ≺ c} is found exactly once (apex a,
    wedge (b, c), closing edge b→c), so no /3 correction and per-node
    counts come from one explode + aggregate.

    Input: one row per undirected edge; self-loops and duplicate/
    reversed rows are normalized away. Output: (node, n_triangles) for
    nodes in >= 1 triangle.
    """
    # NOTE: lazily checkpointing `e` and
    # `oriented` for their three-way fan-outs was tried and MEASURED
    # SLOWER (3.6 -> 4.2 s at sf0.1): the distinct's Exchange is
    # byte-identical across the branches, so Spark's ReusedExchange
    # already deduplicates the recomputation, and the checkpoints only
    # added materialization barriers. Kept checkpoint-free deliberately.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    # the degree table is vertex-sized (orders below the edge set) —
    # broadcast it onto both endpoints; drop the hint if |V| outgrows
    # the broadcast budget and let it shuffle on the node key
    e2 = e.join(
        F.broadcast(deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))), "u"
    ).join(
        F.broadcast(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))), "v"
    )
    # identical field names on both keys — CASE branches must agree on type
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    oriented = e2.select(
        F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(ku < kv, kv).otherwise(ku).alias("tk"),
    )
    w1 = oriented.select(F.col("s"), F.col("t").alias("t1"), F.col("tk").alias("k1"))
    w2 = oriented.select(F.col("s"), F.col("t").alias("t2"), F.col("tk").alias("k2"))
    wedges = w1.join(w2, "s").where(F.col("k1") < F.col("k2"))
    tri = wedges.join(
        oriented.select(F.col("s").alias("t1"), F.col("t").alias("t2")),
        ["t1", "t2"],
    )
    return (
        tri.select(F.explode(F.array("s", "t1", "t2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def kcore_peel(
    edges: DataFrame,
    *,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Iterative k-core peeling (the onion decomposition): round r
    removes every node whose degree among STILL-ALIVE nodes is < k;
    output is ``(node, peel_round)`` with ``peel_round`` NULL for nodes
    that survive into the k-core. Input edges are undirected pairs
    (self-loops ignored; duplicates deduped here).

    Plan per round: one degree aggregate + one semi/anti filter over a
    strictly-shrinking edge set, checkpointed so the lineage stays flat
    — the standard distributed peel (Montresor et al., "Distributed
    k-core decomposition", PODC 2011 compute coreness the same
    alive-degree way). Round count = peel depth ≤ graph degeneracy
    rounds, which is small for real sparse graphs; at 100 TB each round
    is two exchanges on the shrinking remainder. Raises if ``max_iter``
    rounds do not reach the fixpoint (a silent partial peel would be a
    wrong answer, not an approximation)."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # alive-count bookkeeping stays in the DRIVER: |alive| after a
    # round is |alive| − n_drop, so a per-round nodes.count() job would
    # be pure re-derivation. The degree aggregate is CHECKPOINTED once
    # per round and every other per-round frame (survivors, drop set,
    # next alive set) is a cheap filter/anti-join over that
    # materialization — deriving them from the edges instead re-ran
    # the degree shuffle for the drop count AND the survivor
    # checkpoint (two full passes over the edge set per round where
    # one suffices). The initial node set is the round-1 degree
    # table's key column, so the separate union-distinct node
    # build is gone too. Per round: ONE pass over the edge set for
    # degrees (job 1, materialized lazily by the drop count) + ONE
    # pass for the edge filter checkpoint (job 2).
    peeled = None  # (node, peel_round)
    nodes = None
    alive = 0
    for r in range(1, max_iter + 1):
        deg = (
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
            .localCheckpoint(eager=False)
        )
        if r == 1:
            nodes = deg.select("node")
            alive = deg.count()
        # survivors = nodes with alive-degree >= k; dropped = alive
        # nodes NOT in it — this also catches nodes whose last edge
        # vanished (absent from deg entirely).
        surv = deg.where(F.col("deg") >= k).select("node")
        drop = nodes.join(surv, "node", "left_anti").localCheckpoint(eager=False)
        n_drop = drop.count()
        if n_drop == 0:
            break
        tagged = drop.select("node", F.lit(r).alias("peel_round"))
        peeled = tagged if peeled is None else peeled.union(tagged)
        if r % 8 == 0:
            # the union chain grows linearly in rounds; re-flatten its
            # plan every 8 rounds (lazy — materializes with the final
            # action) so a deep peel cannot accrete an O(rounds) plan
            peeled = peeled.localCheckpoint(eager=False)
        alive -= n_drop
        if alive == 0:
            # graph emptied at exactly this round: fully determined —
            # skip the now-pointless edge filter and survivor pass
            nodes = nodes.join(drop, "node", "left_anti")
            break
        nodes = surv
        e = (
            e.join(drop.select(F.col("node").alias("a")), "a", "left_anti")
            .join(drop.select(F.col("node").alias("b")), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(f"k-core peel did not converge in {max_iter} rounds")
    survivors = nodes.select(
        "node", F.lit(None).cast("int").alias("peel_round")
    )
    out = survivors if peeled is None else peeled.select(
        "node", F.col("peel_round").cast("int")
    ).union(survivors)
    return out


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: hop distance from the NEAREST source to every
    node reachable within ``max_hops`` (link-distance features, blast-
    radius audits, "within N references of a contaminated doc" sweeps —
    the bounded-reachability question ``connected_components`` cannot
    answer because it forgets distance). ``sources`` carries one
    ``node`` column; unreachable nodes are absent from the output.

    Plan: classic frontier iteration — each hop is ONE join of the
    current frontier against the edge list + an anti-join against the
    settled set, both checkpointed (flat lineage). Work per hop is
    |frontier| x avg-degree, the optimal BFS cost; ``max_hops`` bounds
    rounds explicitly (6 covers most social/link graphs' effective
    diameter). Distances are exact minima because BFS settles each node
    the first time it is seen."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    e = e.where(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=True)
    settled = (
        sources.select(F.col("node")).distinct()
        .select("node", F.lit(0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = settled.select("node")
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(settled.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        settled = settled.union(
            nxt.select("node", F.lit(hop).alias("dist"))
        ).localCheckpoint(eager=True)
        frontier = nxt
    return settled
