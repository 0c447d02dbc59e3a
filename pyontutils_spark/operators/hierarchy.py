"""Graph / hierarchy operators over an edges DataFrame — the reference's
"relational algebra" on edges (SURVEY.md §2.9).

Edges are ``(child, parent)`` rows (e.g. rdfs:subClassOf triples).
Reference semantics:
- neighborhood query with depth (``getNeighbors``/``queryTree``,
  ``pyontutils/hierarchies.py:360-389``) -> iterative k-hop joins
- roots = objects - subjects, leaves = subjects - objects
  (``process_nodes``, ``hierarchies.py:463-465``) -> anti-joins
- tree build with cycle detection (``build_tree``/``cycle_check``,
  ``hierarchies.py:392-411, 99-117``) -> closure rows that return to
  their start node
- import-chain BFS bounded at depth 30 (``ontload.py:555``,
  ``OntRes._import_chain`` ``core.py:180-193``) -> the same loop with
  visited-dedup (anti-join)
- owl:Nothing edge filter (``hierarchies.py:501``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from ..session import scoped_conf

OWL_NOTHING = "http://www.w3.org/2002/07/owl#Nothing"


def drop_nothing(edges: DataFrame, child="child", parent="parent") -> DataFrame:
    """creatTree's owl:Nothing filter (hierarchies.py:501)."""
    return edges.filter((F.col(child) != OWL_NOTHING)
                        & (F.col(parent) != OWL_NOTHING))


def roots_and_leaves(edges: DataFrame, child="child",
                     parent="parent") -> tuple[DataFrame, DataFrame]:
    """roots: parents never appearing as child; leaves: children never
    appearing as parent (set-difference semantics, hierarchies.py:463-465)."""
    children = edges.select(F.col(child).alias("node")).distinct()
    parents = edges.select(F.col(parent).alias("node")).distinct()
    roots = parents.join(children, "node", "left_anti")
    leaves = children.join(parents, "node", "left_anti")
    return roots, leaves


def transitive_closure(edges: DataFrame, max_depth: int = 30,
                       child="child", parent="parent") -> DataFrame:
    """(start, ancestor, depth) for all ancestor paths up to max_depth.
    Visited-dedup per start node (anti-join) makes each round's frontier
    shrink and handles cycles without infinite loops — the bounded BFS
    of the reference's import chase (ontload.py:528-529, :555).

    Per-round costs removed versus the naive loop (round 7, guide
    §2.4): the whole iteration runs with AQE disabled so every
    ``localCheckpoint`` captures its real hash partitioning + sort
    order into the LogicalRDD (under AQE the capture is
    UnknownPartitioning, which silently re-inserts exchanges).  The
    edge table is hash-partitioned on the join key ONCE, so each
    round's join ships only the frontier; the closure is kept as
    per-round checkpointed frontier pieces, and the visited-dedup
    anti-join runs as a CHAIN of sort-merge anti-joins against each
    piece — the candidate side is shuffled/sorted once and every piece
    is read co-partitioned in place, so the cumulative closure is
    never re-shuffled, re-sorted (first piece; later pieces keep a
    narrow in-partition sort — a Spark attr-capture quirk) or
    re-materialized.  Measured on the 1M-edge 4-ary tree (9.5M closure
    rows): 27.3 s -> 20.9 s across the round-7 steps, identical
    output; plan evidence in plans/r07/transitive_closure_*."""
    from functools import reduce

    with scoped_conf(edges.sparkSession,
                     {"spark.sql.adaptive.enabled": "false"}):
        ej = (edges.select(F.col(child).alias("node"),
                           F.col(parent).alias("nxt"))
              .repartition("node").localCheckpoint(eager=True))
        first = (ej.select(F.col("node").alias("start"),
                           F.col("nxt").alias("node"))
                 .distinct()
                 .sortWithinPartitions("start", "node")
                 .withColumn("depth", F.lit(1))
                 .localCheckpoint(eager=True))
        pieces = [first]
        frontier = first
        for d in range(2, max_depth + 1):
            step = (frontier.join(ej, "node")
                    .select("start", F.col("nxt").alias("node"))
                    .distinct())
            cand = step
            for p in pieces:
                cand = cand.join(p.select("start", "node"),
                                 ["start", "node"], "left_anti")
            new = (cand.withColumn("depth", F.lit(d))
                   .localCheckpoint(eager=True))
            if new.isEmpty():
                break
            pieces.append(new)
            frontier = new
    closure = reduce(lambda x, y: x.unionByName(y), pieces)
    return closure.select(F.col("start").alias("node"),
                          F.col("node").alias("ancestor"), "depth")


def reachability_closure(edges: DataFrame, max_rounds: int = 20,
                         child="child", parent="parent") -> DataFrame:
    """(node, ancestor) reachability WITHOUT per-path depth — path
    doubling: each round composes the closure with itself, so covered
    path length SQUARES per round (log2(diameter) shuffle rounds vs
    ``transitive_closure``'s diameter rounds).  Measured tradeoff
    (local[32]; BASELINE.md round 5): on a SHALLOW hierarchy
    (4-ary tree, diameter ~10, 1M edges) the two are par (28 vs 31 s
    — doubling's composition re-derives each pair once per split
    point, offsetting its round advantage); at diameter 30 (600k
    edges) doubling wins 1.36x (104 vs 142 s); at diameter 100 (200k
    edges, 10.1M pairs) 3.0x (211 s vs 639 s) — the BFS variant both
    runs diameter rounds AND anti-joins the whole growing closure
    every round.  Rule of thumb: prefer this for diameter >~ 20; use ``transitive_closure`` when the
    depth column matters (khop, subtree sizes) or the hierarchy is
    shallow.  Cycle-safe: the anti-join frontier empties once
    no new pair appears (reflexive pairs are excluded).

    Constraint propagation is disabled around the iteration: Spark
    4.1's Union constraint rewrite loses track of self-join attribute
    ids (`key not found: a#N` at localCheckpoint — the same engine bug
    the CC operator dodges with explode-built edges); the conf is
    restored before returning, and the returned plan is a checkpointed
    LogicalRDD so no caller ever re-derives the broken constraints."""
    from functools import reduce

    with scoped_conf(edges.sparkSession,
                     {"spark.sql.constraintPropagation.enabled": "false"}):
        first = (edges.select(F.col(child).alias("a"),
                              F.col(parent).alias("b"))
                 .filter(F.col(child) != F.col(parent))
                 .distinct().localCheckpoint(eager=True))
        # Output-sensitive doubling (round 7): compose only the LAST
        # round's new pairs against the cumulative closure instead of
        # closure x closure.  Complete by the midpoint argument: a pair
        # at shortest distance D in (2^(r-1), 2^r] splits at its path
        # midpoint into a prefix of shortest distance ceil(D/2) in
        # (2^(r-2), 2^(r-1)] — exactly the pairs round r-1 discovered —
        # and a suffix already in the closure.  Same fixpoint, same
        # output set, far less join input (the frontier shrinks while
        # c x c squares).  The closure itself is kept as per-round
        # checkpointed pieces behind a lazy union so the cumulative
        # set is never re-materialized round after round.
        pieces = [first]
        frontier = first
        converged = False
        for _ in range(max_rounds):
            c = reduce(lambda x, y: x.unionByName(y), pieces)
            step = (frontier.alias("x")
                    .join(c.alias("y"), F.col("x.b") == F.col("y.a"))
                    .select(F.col("x.a").alias("a"),
                            F.col("y.b").alias("b"))
                    .filter(F.col("a") != F.col("b"))
                    .distinct())
            new = (step.join(c, ["a", "b"], "left_anti")
                   .localCheckpoint(eager=True))
            if new.isEmpty():
                converged = True
                break
            pieces.append(new)
            frontier = new
        if not converged:
            # Mirror topo_layers' non-convergence policy: a silent
            # partial closure is worse than a loud failure.  Doubling
            # covers diameter 2^max_rounds, so hitting this means the
            # caller passed a tiny max_rounds, not a deep graph.
            raise ValueError(
                f"reachability_closure did not converge within "
                f"{max_rounds} doubling rounds (covers diameter "
                f"~2^{max_rounds}); raise max_rounds")
        # one final checkpoint keeps the documented contract: callers
        # get a LogicalRDD, never a plan that could re-derive the
        # broken constraints once propagation is re-enabled
        c = (reduce(lambda x, y: x.unionByName(y), pieces)
             .localCheckpoint(eager=True))
    return c.select(F.col("a").alias("node"), F.col("b").alias("ancestor"))


def detect_cycles(edges: DataFrame, max_depth: int = 30,
                  child="child", parent="parent") -> DataFrame:
    """Nodes on a cycle: they reach themselves in the closure
    (cycle_check semantics, hierarchies.py:99-117)."""
    tc = transitive_closure(edges, max_depth, child, parent)
    return tc.filter(F.col("node") == F.col("ancestor")) \
             .select("node").distinct()


def khop_neighborhood(edges: DataFrame, seeds: DataFrame, depth: int,
                      direction: str = "up", child="child",
                      parent="parent") -> DataFrame:
    """Nodes within ``depth`` hops of ``seeds(node)``; direction 'up'
    follows child->parent, 'down' parent->child, 'both' either
    (getNeighbors depth/direction params, scigraph_client.py:1130)."""
    if direction == "up":
        step_edges = edges.select(F.col(child).alias("a"),
                                  F.col(parent).alias("b"))
    elif direction == "down":
        step_edges = edges.select(F.col(parent).alias("a"),
                                  F.col(child).alias("b"))
    else:
        step_edges = (edges.select(F.col(child).alias("a"),
                                   F.col(parent).alias("b"))
                      .unionByName(
                          edges.select(F.col(parent).alias("a"),
                                       F.col(child).alias("b"))))
    visited = seeds.select("node").distinct() \
        .withColumn("depth", F.lit(0)).localCheckpoint(eager=True)
    frontier = visited
    for d in range(1, depth + 1):
        step = (frontier.join(step_edges,
                              frontier.node == step_edges.a)
                .select(F.col("b").alias("node")).distinct())
        new = (step.join(visited.select("node"), "node", "left_anti")
               .withColumn("depth", F.lit(d)).localCheckpoint(eager=True))
        if new.isEmpty():
            break
        visited = visited.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    return visited


def prune_out_of_tree(nodes: DataFrame, edges: DataFrame,
                      roots: DataFrame, max_depth: int = 30,
                      child="child", parent="parent") -> DataFrame:
    """Keep only nodes that reach a root (pruneOutOfTree fixpoint,
    hierarchies.py:419-435): one closure pass + semi-joins instead of
    the reference's iterate-until-stable loop."""
    tc = transitive_closure(edges, max_depth, child, parent)
    reaches_root = (tc.join(roots.withColumnRenamed("node", "ancestor"),
                            "ancestor", "left_semi")
                    .select("node").distinct()
                    .unionByName(roots.select("node")).distinct())
    return nodes.join(reaches_root, "node", "left_semi")


def dematerialize(closure: DataFrame) -> DataFrame:
    """Remove duplicated deeper copies of multi-parent subtrees
    (dematerialize, hierarchies.py:119-164): keep each (node, ancestor)
    at its minimal depth only — a window dedup."""
    return (closure.groupBy("node", "ancestor")
            .agg(F.min("depth").alias("depth")))


def normalize_symmetric(triples: DataFrame,
                        predicates: tuple[str, ...] = (
                            "http://www.w3.org/2002/07/owl#disjointWith",)
                        ) -> DataFrame:
    """For symmetric predicates keep only the lexically-lesser direction
    (serializers.py:235-263): swap when subj > obj, then distinct."""
    sym = F.col("pred").isin(*predicates) & ~F.col("obj_is_literal")
    swap = sym & (F.col("subj") > F.col("obj"))
    return (triples.select(
        F.when(swap, F.col("obj")).otherwise(F.col("subj")).alias("subj"),
        "pred",
        F.when(swap, F.col("subj")).otherwise(F.col("obj")).alias("obj"),
        "obj_is_literal", "obj_datatype", "obj_lang")
        .distinct())


def topo_layers(edges: DataFrame, max_iter: int = 32,
                child="child", parent="parent") -> DataFrame:
    """(node, layer) with layer = longest subClassOf chain above the
    node — superclasses always get a smaller layer than any subclass,
    the layered ordering of ``SubClassOfTurtleSerializer._TCRank``
    (``ttlser/serializers.py:900-985``: supers sort before subs, ties
    broken by qname natsort downstream).

    Bellman-Ford-style relaxation as DataFrame joins: start all nodes
    at 0, each round layer(child) := max(layer(parent)) + 1; layers only
    grow, so a stable (count, sum) signature — observed in each round's
    eager checkpoint, no second job — means convergence.  Rounds
    are bounded by the DAG's depth (<= max_iter), each round is one
    shuffle on the parent key — scales like the CC operator."""
    nodes = (edges.select(F.col(child).alias("node"))
             .unionByName(edges.select(F.col(parent).alias("node")))
             .distinct())
    layers = nodes.withColumn("layer", F.lit(0)) \
        .localCheckpoint(eager=True)
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        obs = Observation()
        upd = (edges.select(F.col(child).alias("node"),
                            F.col(parent).alias("p"))
               .join(layers.select(F.col("node").alias("p"),
                                   F.col("layer").alias("p_layer")), "p")
               .groupBy("node")
               .agg((F.max("p_layer") + 1).alias("up")))
        layers = (layers.join(upd, "node", "left")
                  .select("node",
                          F.greatest("layer", F.coalesce("up", F.lit(0)))
                          .alias("layer"))
                  .observe(obs, F.count("*").alias("n"),
                           F.sum("layer").alias("s"))
                  .localCheckpoint(eager=True))
        sig = obs.get
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # the last round still changed a layer: either the DAG is
        # deeper than max_iter or there is a subClassOf cycle (layers
        # grow forever on a cycle). Silently-wrong layers would corrupt
        # downstream canonical ordering, so fail loudly.
        raise RuntimeError(
            f"topo_layers did not converge in {max_iter} iterations — "
            "hierarchy deeper than max_iter or a subClassOf cycle; "
            "raise max_iter or break the cycle "
            "(detect_cycles in this module finds the SCC members)")
    return layers


def topo_order(edges: DataFrame, max_iter: int = 32) -> DataFrame:
    """Layered deterministic ordering: (node, layer) sorted by
    (layer, natsort-key(node)) — the scottl subject emission order."""
    from ..operators.ordering import subj_rank_udf
    return (topo_layers(edges, max_iter)
            .withColumn("nk", subj_rank_udf("node"))
            .orderBy("layer", "nk", "node")
            .drop("nk"))


#: known inverse predicate pairs (reference ``core.py:991-992``:
#: ``known_inverses += ('hasPart:', 'partOf:'),
#: ('NIFRID:has_proper_part', 'NIFRID:proper_part_of')``), expanded to
#: IRIs, both directions.
_NIFRID = "http://uri.neuinfo.org/nif/nifstd/readable/"
_PAIRS = (
    ("http://purl.obolibrary.org/obo/BFO_0000051",   # hasPart
     "http://purl.obolibrary.org/obo/BFO_0000050"),  # partOf
    (_NIFRID + "has_proper_part", _NIFRID + "proper_part_of"),
)
KNOWN_INVERSES = {a: b for a, b in _PAIRS} | {b: a for a, b in _PAIRS}


def materialize_inverses(triples: DataFrame,
                         inverses: dict[str, str] | None = None
                         ) -> DataFrame:
    """Known-inverse pairing at emit: for every non-literal triple whose
    predicate has a known inverse, also emit (obj, inverse, subj) — the
    lookup the reference registers on its query services
    (``pyontutils/core.py:991-992``) so queries see both directions.
    Pure column expressions (a map literal + union), no shuffle."""
    inv = inverses or KNOWN_INVERSES
    mapping = F.create_map(
        *[F.lit(x) for kv in inv.items() for x in kv])
    paired = (triples
              .filter(~F.col("obj_is_literal")
                      & F.col("pred").isin(*inv.keys()))
              .select(F.col("obj").alias("subj"),
                      mapping[F.col("pred")].alias("pred"),
                      F.col("subj").alias("obj"),
                      "obj_is_literal", "obj_datatype", "obj_lang"))
    return triples.unionByName(paired).distinct()


def subtree_sizes(edges: DataFrame, max_depth: int = 30) -> DataFrame:
    """Transitive-closure size per ancestor (tcsort/count semantics,
    hierarchies.py:47-49, :603) — used for subtree ordering."""
    tc = transitive_closure(edges, max_depth)
    return tc.groupBy("ancestor").agg(
        F.countDistinct("node").alias("tc_size"))
