"""Hierarchy / graph operators (SURVEY.md §2.3 J4-J9, §2.4 G1-G8).

The expensive pieces — transitive closure and connected components —
are driver-side fixpoint loops over DataFrame joins with
``localCheckpoint()`` per iteration to cut lineage (SURVEY §4.3): the
distributed replacement for the reference's recursive Python DFS
(src/utils/spreadsheet_loader.py:980-1024).

Every loop runs in one :func:`_constraint_propagation_off` scope and
sets no shuffle width: AQE sizes each round from its data, as it sizes
the rest of the build. Only :func:`khop_descendants` turns AQE off.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


@contextmanager
def _constraint_propagation_off(spark, aqe_off: bool = False):
    """Loop-scoped planner confs for driver-side fixpoint iterations.

    - constraintPropagation off: Catalyst's Union constraint rewrite
      hits a NoSuchElementException (key not found: attr) when unioning
      localCheckpoint'ed plans with reused attribute ids (observed on
      Spark 4.1), and constraint propagation buys nothing inside a
      fixpoint loop.
    - AQE stays on unless ``aqe_off=True``: it sizes every round's
      shuffles from the round's data, as it does the rest of the build.
      :func:`khop_descendants` is the one caller that turns it off (its
      docstring says why).

    Each key is restored on exit, by unset when the caller never set it.
    """
    keys = {"spark.sql.constraintPropagation.enabled": "false"}
    if aqe_off:
        keys["spark.sql.adaptive.enabled"] = "false"
    # None = the caller never set it: restore by unset, not by a default
    prev = {k: spark.conf.getAll.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ------------------------------------------------------------------ edges
def bom_edges_from_linked(linked: DataFrame) -> DataFrame:
    """Assemble (parent, child) number edges from linked mention rows:
    a turn contributes an edge when BOTH its 'parent' and 'ref' slots
    resolved (reference resolve_edges_by_name :1072-1076 — an edge
    drops unless both ends resolve to exactly one number). Self-loops
    removed (validation.py:267-280); distinct (edge dedup :1221)."""
    per_turn = linked.groupBy("conv_id", "turn_idx").agg(
        F.max(F.when((F.col("slot") == "ref") & (F.col("status") == "resolved"), F.col("resolved_number"))).alias("child"),
        F.max(F.when((F.col("slot") == "parent") & (F.col("status") == "resolved"), F.col("resolved_number"))).alias("parent"),
    )
    return (
        per_turn.filter(F.col("parent").isNotNull() & F.col("child").isNotNull())
        .filter(F.col("parent") != F.col("child"))
        .select("parent", "child")
        .dropDuplicates(["parent", "child"])
    )


def bom_edges_direct(
    transcripts: DataFrame,
    entities: DataFrame,
    index: DataFrame | None = None,
    numbers: DataFrame | None = None,
) -> DataFrame:
    """Edge assembly without the per-mention pivot shuffle: extract both
    slots as *columns* of one row per turn, resolve each against the
    broadcast dictionary (two map-side joins per slot), keep turns where
    both ends resolve.

    Identical output to ``bom_edges_from_linked(link_mentions(...))``
    (pytest-asserted) but a fundamentally better physical plan at
    corpus scale: the mention-row path must shuffle one row per mention
    keyed by (conv_id, turn_idx) — keys unique per row, so map-side
    combine removes nothing and the shuffle is corpus-proportional
    (8.4M rows at the sf0.1 bench). Here the only shuffle is the final
    dropDuplicates on (parent, child), whose low key cardinality lets
    the partial hash aggregate collapse each partition to the distinct
    edge set before anything crosses the wire.
    """
    from kgforge.extract import PARENT_PATTERN, REF_PATTERN
    from kgforge.linking import build_name_index
    from kgforge.normalize import normalize_number_col

    if index is None:
        index = build_name_index(entities)
    if numbers is None:
        numbers = entities.select(F.col("number").alias("known_number")).distinct()

    t = transcripts.select(
        F.regexp_extract("text", REF_PATTERN, 1).alias("ref_m"),
        F.regexp_extract("text", PARENT_PATTERN, 1).alias("par_m"),
    ).filter((F.col("ref_m") != "") & (F.col("par_m") != ""))

    def resolve(df: DataFrame, col: str, out: str) -> DataFrame:
        idx = index.select(
            F.col("name").alias(f"{out}_name"), F.col("candidates").alias(f"{out}_cands")
        )
        kn = numbers.select(F.col("known_number").alias(f"{out}_kn"))
        df = df.join(F.broadcast(idx), df[col] == idx[f"{out}_name"], "left")
        df = df.join(
            F.broadcast(kn),
            normalize_number_col(df[col]) == kn[f"{out}_kn"],
            "left",
        )
        resolved = F.when(
            F.col(f"{out}_cands").isNotNull() & (F.size(f"{out}_cands") == 1),
            F.col(f"{out}_cands")[0],
        ).when(F.col(f"{out}_cands").isNull(), F.col(f"{out}_kn"))
        return df.withColumn(out, resolved).drop(f"{out}_name", f"{out}_cands", f"{out}_kn")

    t = resolve(t, "ref_m", "child")
    t = resolve(t, "par_m", "parent")
    return (
        t.filter(F.col("parent").isNotNull() & F.col("child").isNotNull())
        .filter(F.col("parent") != F.col("child"))
        .select("parent", "child")
        .dropDuplicates(["parent", "child"])
    )


def reverse_edges(edges: DataFrame) -> DataFrame:
    """G3 usedIn: pure projection (build_used_in_triples :963-977)."""
    return edges.select(F.col("child").alias("parent"), F.col("parent").alias("child"))


class ClosureNotConverged(RuntimeError):
    """Raised when a fixpoint loop exhausts max_iterations — silent
    truncation would drop the longest-path pairs (caught live: a
    64-iteration cap lost 37 deep pairs at sf0.1)."""


# Broadcast the doubling frontier only while it is provably small; a
# frontier row is (p, c, dist) = 3 longs, so 1M rows is ~40 MB framed —
# comfortably under the 8 GB broadcast cap with headroom for executors.
CLOSURE_BROADCAST_MAX_ROWS = 1_000_000


# ------------------------------------------------------------------ closure
def transitive_closure(
    edges: DataFrame, max_iterations: int = 24, stats: dict | None = None
) -> DataFrame:
    """G4: all reachable (ancestor, descendant) pairs — **exact-prefix**
    delta path-doubling: covered path lengths double each round
    (convergence in ceil(log2(diameter)) iterations), and each round
    joins only the pairs at shortest distance *exactly* 2^k against the
    closure.

    Correctness: let C_k = pairs at shortest distance <= 2^k and
    X_k = pairs at distance exactly 2^k. A shortest path of length
    L in (2^k, 2^(k+1)] splits at position 2^k into a prefix that is
    itself a shortest path of length exactly 2^k (subpaths of shortest
    paths are shortest, so the prefix pair is in X_k) and a suffix of
    length L - 2^k <= 2^k (in C_k). Hence C_(k+1) = C_k ∪ (X_k ∘ C_k),
    and the min over witnesses of (2^k + suffix_dist) for a new pair is
    exactly its shortest distance, so X_(k+1) is read off the new
    pairs' dist column. Restricting the left side from the previous
    round's whole delta D_k (distances (2^(k-1), 2^k]) to X_k is the
    r6 blowup fix: the D_k ∘ C_k witness intermediate measured 89M
    pre-dedup rows for a 1.12M-pair closure (80x redundancy, 60M in one
    round); X_k ∘ C_k with per-pair min-dist dedup cut the loop 2.4x
    (guide §3.3 — an exploding join is a plan problem, shrink the side
    that multiplies).

    Loop hygiene (measured, same round-6 pass):

    - node ids: endpoints are dictionary-encoded to dense longs before
      the loop and decoded after (guide §2.3 "narrower types" — string
      join keys were the per-row constant everywhere in the loop);
    - the frontier X_k is tiny relative to the closure (the exact-2^k
      distance class), so while its measured count stays under
      :data:`CLOSURE_BROADCAST_MAX_ROWS` it is broadcast and the
      closure is NOT shuffled for the grow join (guide §3.1 — pick the
      strategy from known runtime sizes, not estimates);
    - termination is X_k = ∅, one round earlier than the old
      delta-empty check: if any pair had distance > 2^k its exact-2^k
      prefix would exist, so an empty exact class proves completeness;
    - AQE sizes every round, the encode and probe included: with the
      frontier broadcast the per-round shuffles are the min-dist
      aggregate and the anti-join, where runtime coalescing and
      skew-splitting measured faster than a fixed 8-partition, AQE-off
      loop.

    Semantics match the reference DFS (:980-1024): every (desc, anc)
    with a path of >=1 edge; cycles converge (shortest distances are
    finite and the anti-join keeps the loop monotone); reference
    self-pairs inside cycles are reproduced naturally (A->B->A yields
    (A,A)). Pairs are oriented (parent, child) = (ancestor,
    descendant); the partOfAssembly triple emitter flips them. Edges
    with a NULL endpoint are preserved as pairs but never join through
    NULL — exactly the old string-keyed equi-join behavior.

    2^24 path length is unreachable in practice; hitting the cap raises
    instead of silently truncating (a 64-round semi-naive cap once lost
    the 37 deepest pairs at sf0.1).

    ``stats`` (optional dict) records the measured loop shape — rounds
    and per-round delta sizes, one entry per round including the last,
    so ``len(delta_sizes) == rounds`` — for scale-curve evidence
    (scripts/closure_scale_curve.py). Costs one count per round; leave
    None in production.
    """
    spark = edges.sparkSession
    with _constraint_propagation_off(spark):
        # lazy: the castability probe just below is the materializing
        # action — checkpoint + probe are one job
        base = edges.select("parent", "child").dropDuplicates().localCheckpoint(eager=False)
        # Encode node labels as longs for the loop (guide §2.3 narrower
        # types). Fast path: when every non-null label round-trips
        # exactly through a bigint cast (string(bigint(x)) == x —
        # checked in ONE aggregate over the materialized base), the
        # encoding is a pure cast projection and the decode a cast
        # back: no node dictionary, no joins. Otherwise fall back to a
        # dictionary encode via monotonically_increasing_id (frozen by
        # the checkpoint), with join strategy picked from the
        # dictionary's KNOWN size (guide §3.1).
        def _bad(col: str):
            c = F.col(col)
            rt = c.try_cast("bigint").cast("string")  # try_cast: ANSI-safe probe
            return F.max(
                F.when(c.isNotNull() & (rt.isNull() | (rt != c)), F.lit(1)).otherwise(0)
            )

        # the probe agg also carries count(*): |e| == |base| (e is a
        # projection), so the castable path's loop-entry count is free
        chk = base.agg(
            _bad("parent").alias("bp"), _bad("child").alias("bc"), F.count("*").alias("n")
        ).first()
        castable = (chk["bp"] or 0) == 0 and (chk["bc"] or 0) == 0
        n_base = int(chk["n"] or 0)
        if castable:
            null_id = None
            p_dict = c_dict = None
            e = (
                base.select(
                    F.col("parent").cast("bigint").alias("p"),
                    F.col("child").cast("bigint").alias("c"),
                )
                .withColumn("dist", F.lit(1).cast("long"))
            )
        else:
            nodes = (
                base.select(F.col("parent").alias("node"))
                .unionByName(base.select(F.col("child").alias("node")))
                .dropDuplicates()
            )
            # lazy: the null-id collect below materializes it. The ids
            # must still come from ONE materialization (the checkpoint
            # freezes monotonically_increasing_id) — lazy only moves
            # which job does it.
            ids = nodes.withColumn("id", F.monotonically_increasing_id()).localCheckpoint(
                eager=False
            )
            # one fused job: materializes the checkpoint, sizes the
            # dictionary AND finds the (at most one) NULL node's id
            id_row = ids.agg(
                F.count("*").alias("n"),
                F.max(F.when(F.col("node").isNull(), F.col("id"))).alias("null_id"),
            ).first()
            null_id = id_row["null_id"]
            n_ids = int(id_row["n"] or 0)
            small_ids = n_ids < CLOSURE_BROADCAST_MAX_ROWS
            p_ids = ids.select(F.col("node").alias("parent"), F.col("id").alias("p"))
            c_ids = ids.select(F.col("node").alias("child"), F.col("id").alias("c"))
            p_dict = F.broadcast(p_ids) if small_ids else p_ids
            c_dict = F.broadcast(c_ids) if small_ids else c_ids
            e = (
                base.join(p_dict, base["parent"].eqNullSafe(p_ids["parent"]), "left")
                .join(c_dict, base["child"].eqNullSafe(c_ids["child"]), "left")
                .select("p", "c")
                .withColumn("dist", F.lit(1).cast("long"))
                # lazy: the loop-entry count materializes it
                .localCheckpoint(eager=False)
            )
        closure = e
        exact = e
        # castable: |e| came with the probe agg; dictionary path: this
        # count is e's checkpoint-materializing action (fused)
        n_exact = n_base if castable else e.count()
        for i in range(max_iterations):
            lhs = (
                F.broadcast(exact)
                if 0 < n_exact < CLOSURE_BROADCAST_MAX_ROWS
                else exact
            )
            joinable = (
                F.col("l.c") == F.col("r.p")
                if null_id is None
                else (F.col("l.c") == F.col("r.p")) & (F.col("r.p") != F.lit(null_id))
            )
            grown = (
                lhs.alias("l")
                .join(closure.alias("r"), joinable)
                .select(
                    F.col("l.p").alias("p"),
                    F.col("r.c").alias("c"),
                    (F.col("l.dist") + F.col("r.dist")).alias("dist"),
                )
                .groupBy("p", "c")
                .agg(F.min("dist").alias("dist"))
            )
            # lazy: the frontier count below (or the stats count) is the
            # materializing action — one driver job per round, not two
            new = grown.join(closure, ["p", "c"], "left_anti").localCheckpoint(eager=False)
            n_new = new.count() if stats is not None else None
            closure = closure.unionByName(new)
            # the next frontier is a cheap filter over the delta's
            # checkpoint — no extra materialization needed. Its count
            # doubles as the ONLY termination check: an empty delta
            # implies an empty exact class, and an empty exact class
            # proves completeness (any pair at distance > 2^(k+1) would
            # have an exact-2^(k+1) prefix) — so the separate
            # per-round isEmpty() job the r5 loop ran is redundant.
            exact = new.filter(F.col("dist") == (1 << (i + 1)))
            n_exact = exact.count()
            if stats is not None:
                stats.setdefault("delta_sizes", []).append(n_new)
            if n_exact == 0:
                if stats is not None:
                    stats["rounds"] = i + 1
                break
        else:
            raise ClosureNotConverged(
                f"no fixpoint after {max_iterations} doubling rounds"
            )
        if castable:
            # decode = cast back to each column's ORIGINAL dtype
            p_t = edges.schema["parent"].dataType.simpleString()
            c_t = edges.schema["child"].dataType.simpleString()
            return closure.select(
                F.col("p").cast(p_t).alias("parent"),
                F.col("c").cast(c_t).alias("child"),
            )
        return (
            closure.join(p_dict, "p", "left")
            .join(c_dict, "c", "left")
            .select("parent", "child")
        )


def transitive_closure_seminaive(
    edges: DataFrame, max_iterations: int = 512, stats: dict | None = None
) -> DataFrame:
    """G4 via classic semi-naive iteration (Δ ⋈ E per round): one round
    per path length. Wins when deltas are tiny and the doubling join's
    path-count intermediate would blow up on dense graphs; loses badly
    on long chains. Raises rather than silently truncating at the cap
    — with the default 64-round cap this variant dropped the 37
    deepest pairs of the sf0.1 fixture graph (diameter > 64).
    AQE sizes every round's join, ``dropDuplicates`` and anti-join
    from the round's data. ``stats`` follows :func:`transitive_closure`'s
    contract; the final round's delta is the empty one."""
    spark = edges.sparkSession
    with _constraint_propagation_off(spark):
        # lazy: round 1's count materializes it
        base = edges.select("parent", "child").dropDuplicates().localCheckpoint(eager=False)
        closure = base
        frontier = base
        for i in range(max_iterations):
            grown = (
                frontier.alias("f")
                .join(base.alias("e"), F.col("f.child") == F.col("e.parent"))
                .select(F.col("f.parent").alias("parent"), F.col("e.child").alias("child"))
                .dropDuplicates()
            )
            # lazy: one count per round materializes the checkpoint and
            # is both the termination test and the stats delta size
            new = grown.join(closure, ["parent", "child"], "left_anti").localCheckpoint(
                eager=False
            )
            n_new = new.count()
            if stats is not None:
                stats.setdefault("delta_sizes", []).append(n_new)
            if n_new == 0:
                if stats is not None:
                    stats["rounds"] = i + 1
                return closure
            # union of checkpointed deltas; flatten periodically to keep
            # the logical plan shallow
            closure = closure.unionByName(new)
            if (i + 1) % 16 == 0:
                closure = closure.localCheckpoint(eager=True)
            frontier = new
        raise ClosureNotConverged(f"no fixpoint after {max_iterations} semi-naive rounds")


def khop_descendants(edges: DataFrame, roots: DataFrame, max_depth: int) -> DataFrame:
    """G6/G8: bounded BFS from roots with depth column
    (scripts/visualize_graph.py:99-157). roots: (number).

    The one fixpoint loop that runs with AQE off: each round's count is
    then exactly one Spark job, with no separate job per shuffle stage
    (pinned by ``test_khop_descendants_matches_bfs_with_one_job_per_round``).
    A BFS frontier from a handful of roots is a few rows, so there is
    nothing for AQE to re-plan between its stages."""
    frontier = roots.select(
        F.col("number").alias("root"), F.col("number").alias("node"), F.lit(0).alias("depth")
    )
    out = frontier
    with _constraint_propagation_off(edges.sparkSession, aqe_off=True):
        for d in range(1, max_depth + 1):
            frontier = (
                frontier.alias("f")
                .join(edges.alias("e"), F.col("f.node") == F.col("e.parent"))
                .select(F.col("f.root").alias("root"), F.col("e.child").alias("node"), F.lit(d).alias("depth"))
                .dropDuplicates()
                .join(out.select("root", "node"), ["root", "node"], "left_anti")
                # lazy: the count below materializes the checkpoint and
                # is the termination test — one job per round
                .localCheckpoint(eager=False)
            )
            if frontier.count() == 0:
                break
            out = out.unionByName(frontier)
    return out


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release a superseded localCheckpoint's backing storage NOW
    instead of waiting for the ContextCleaner's GC pass — a fixpoint
    loop otherwise stacks one materialized round per iteration (at
    cluster scale that is rounds x |labels| of executor memory held for
    nothing). The frame is unreadable afterwards (a local checkpoint
    has no lineage to recompute from), so only call this on frames no
    later plan reads."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover — best-effort (non-LogicalRDD plan)
        pass


def connected_components(
    edges: DataFrame, max_iterations: int = 64, stats: dict | None = None
) -> DataFrame:
    """Connected components by iterative min-label propagation over the
    undirected graph — the clustering step of near-duplicate dedup
    (stable cluster representative = min member id). Returns
    (node, component).

    Each iteration: component[n] = min(component[n], min over neighbors)
    — a shuffle groupBy on node. Converges in O(diameter)+1 iterations,
    so rounds grow with the graph's diameter; a graph that has not
    converged after ``max_iterations`` rounds raises
    :class:`ClosureNotConverged` rather than returning partial labels.

    Per-round cost is kept minimal because at dedup-cluster shapes
    (tiny diameter, so 3-5 rounds) the fixed cost per round IS the
    stage cost: AQE sizes each round's shuffles from the label frame
    (coalesced at fixture scale, full session width on a cluster-scale
    input), convergence is read off the checkpointed round itself (a
    ``prev`` column + count — no extra join), and each superseded
    round's checkpoint is freed eagerly.
    ``stats`` (mutated in place) records ``rounds`` and ``delta_sizes``
    = labels changed per round, the same contract as the closure's —
    scripts/cc_scale_curve.py turns it into the measured scale curve.
    """
    spark = edges.sparkSession
    with _constraint_propagation_off(spark):
        undirected = (
            edges.select(F.col("parent").alias("a"), F.col("child").alias("b"))
            .unionByName(edges.select(F.col("child").alias("a"), F.col("parent").alias("b")))
            .dropDuplicates()
            # lazy: round 1's count materializes it (a local checkpoint
            # persists its blocks during whatever job first computes it)
            .localCheckpoint(eager=False)
        )
        labels_cp = (
            undirected.select(F.col("a").alias("node"))
            .dropDuplicates()
            .withColumn("component", F.col("node"))
            # lazy: round 1's fused job materializes it
            .localCheckpoint(eager=False)
        )
        labels = labels_cp
        delta_sizes: list[int] = []
        for i in range(max_iterations):
            neighbor_min = (
                undirected.join(labels, undirected.b == labels.node)
                .groupBy("a")
                .agg(F.min("component").alias("nmin"))
            )
            updated_cp = (
                labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
                .select(
                    labels.node.alias("node"),
                    labels.component.alias("prev"),
                    F.least(F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))).alias("component"),
                )
                # lazy: the convergence count IS the materializing
                # action (fused — one driver action per round, not two;
                # at dedup-cluster shapes the per-round launch is the
                # stage cost)
                .localCheckpoint(eager=False)
            )
            # convergence is a scan of the round being materialized —
            # the old plan's separate updated-vs-labels join was a full
            # extra shuffle per round
            n_changed = updated_cp.filter(F.col("component") != F.col("prev")).count()
            delta_sizes.append(n_changed)
            _free_local_checkpoint(labels_cp)
            labels_cp = updated_cp
            labels = updated_cp.select("node", "component")
            if n_changed == 0:
                if stats is not None:
                    stats["rounds"] = i + 1
                    stats["delta_sizes"] = delta_sizes
                _free_local_checkpoint(undirected)
                return labels
    raise ClosureNotConverged(f"components not stable after {max_iterations} rounds")


# ------------------------------------------------------------------ placeholders
def missing_parts(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """J4: edge endpoints with no entity row -> MissingPart placeholders
    (Neo4j MERGE ... ON CREATE SET partType='MissingPart', :672-679)."""
    endpoints = (
        edges.select(F.col("parent").alias("number"))
        .unionByName(edges.select(F.col("child").alias("number")))
        .dropDuplicates()
    )
    return endpoints.join(entities.select("number"), "number", "left_anti").withColumn(
        "part_type", F.lit("MissingPart")
    )


# ------------------------------------------------------------------ self-joins
def supersedes(entities: DataFrame) -> DataFrame:
    """J5 (snowmobile_neo4j_importer.py:250-264): same name, different
    number; lexicographically larger number supersedes the smaller."""
    a = entities.select(F.col("name").alias("name"), F.col("number").alias("older"))
    b = entities.select(F.col("name").alias("name"), F.col("number").alias("newer"))
    return (
        a.join(b, "name")
        .filter(F.col("older") < F.col("newer"))
        .select("newer", "older")
    )


def part_of_prefix(entities: DataFrame, edges: DataFrame, prefix_len: int = 3) -> DataFrame:
    """J6 (snowmobile_neo4j_importer.py:266-282): (p1)-[PART_OF]->(p2)
    when ``p1.number STARTS WITH left(p2.number, 3)``, p1 != p2, and the
    pair is not BOM-linked **in either direction** (the Cypher's
    ``NOT (p1)-[:HAS_COMPONENT]-(p2)`` is undirected).

    The startswith condition is *asymmetric*: the key is the assembly's
    (p2's) prefix — which is p2's whole number when it is shorter than
    ``prefix_len``. Scale-safe equi-join form: explode each member
    number into its prefixes of length 1..prefix_len and join them
    against ``left(assembly_number, prefix_len)`` (<=3 rows per member
    vs the reference's unindexed quadratic Cypher scan, SURVEY §4.2).
    """
    member = entities.select(F.col("number").alias("member"))
    # one row per (member, prefix of length L), L = 1..min(len, prefix_len)
    member_pfx = member.select(
        "member",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.least(F.length("member"), F.lit(prefix_len))),
                lambda l: F.col("member").substr(F.lit(1), l),
            )
        ).alias("pfx"),
    )
    assembly = entities.select(
        F.col("number").alias("assembly"),
        F.substring("number", 1, prefix_len).alias("pfx"),
    )
    pairs = (
        member_pfx.join(assembly, "pfx")
        .filter(F.col("member") != F.col("assembly"))
        .select("member", "assembly")
        .dropDuplicates()
    )
    linked = edges.select(F.col("child").alias("member"), F.col("parent").alias("assembly"))
    linked_undirected = linked.unionByName(
        edges.select(F.col("parent").alias("member"), F.col("child").alias("assembly"))
    )
    return pairs.join(linked_undirected, ["member", "assembly"], "left_anti")


def _ordered_change_pairs(changes: DataFrame, key: str) -> DataFrame:
    """All (later, earlier) pairs of changes sharing ``key`` with
    ts_earlier < ts_later: the reference's exact all-pairs self-join.
    The shuffle key is ``key`` alone, so the pre-dedup intermediate is
    quadratic in the size of a key group."""
    a = changes.select(
        key, F.col("change_id").alias("earlier"), F.col("ts").alias("ts_a")
    )
    b = changes.select(
        key, F.col("change_id").alias("later"), F.col("ts").alias("ts_b")
    )
    return (
        a.join(b, key)
        .filter(F.col("ts_a") < F.col("ts_b"))
        .select("later", "earlier")
        .dropDuplicates()
    )


def depends_on(changes: DataFrame) -> DataFrame:
    """J7 (:289-305): for changes touching the same part, the later
    depends on the earlier (exact all-pairs, see
    :func:`_ordered_change_pairs`)."""
    return _ordered_change_pairs(changes, "affected_number")


def related_to(changes: DataFrame, depends: DataFrame) -> DataFrame:
    """J8 (:307-326): same change type, date-ordered, minus DEPENDS_ON.
    Exact all-pairs semantics, as the gate oracle checks; change_type
    has a handful of values, so one type's changes meet on one
    reducer."""
    pairs = _ordered_change_pairs(changes, "change_type")
    return pairs.join(depends, ["later", "earlier"], "left_anti")


def evolves_to(versions: DataFrame) -> DataFrame:
    """J9 (windchill_odata_temporal_import.py:228-246): each version links
    to the minimum greater version of the same number — ``lead`` beats
    the reference's join+collect (SURVEY §2.7)."""
    w = Window.partitionBy("number").orderBy("version")
    return (
        versions.withColumn("next_version", F.lead("version").over(w))
        .filter(F.col("next_version").isNotNull())
        .select("number", "version", "next_version")
    )


# ------------------------------------------------------------------ level-stack
def level_stack_decode(
    rows: DataFrame, max_level: int, attrs: tuple[str, ...] = ()
) -> DataFrame:
    """G1 (spreadsheet_loader.py:1160-1182): order-dependent decode of a
    (group_id, row_idx, level, number) hierarchy. The reference keeps a
    stack of the last-seen part per level; a row at level L emits edge
    (stack[L-1] -> number) and clears deeper levels. Any ``attrs``
    columns ride the child row onto the emitted edge unchanged
    (reference parse_part_usage :1262-1318 carries
    quantity/uom/find_number).

    Exact as window expressions, no Python: stack key L-1 is set by a
    level-(L-1) row and cleared by any later row below L-1, so a row at
    level L >= 1 has a parent only when the last preceding row of its
    group with level <= L-1 sits at exactly L-1, and that row's number
    is the parent. One window column per k < ``max_level`` holds the
    last (level, number) at level <= k. A row above ``max_level``
    raises instead of being dropped; rows at level <= 0 emit nothing.
    Output: ``parent`` and ``child`` typed like ``number``, then
    ``attrs``.
    """
    w = (
        Window.partitionBy("group_id")
        .orderBy("row_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lvl = F.col("level")
    # bound once by name: reading the struct fields off an inline window
    # expression plans one window column per field
    lasts = rows.select(
        "level",
        "number",
        *attrs,
        *(
            F.last(F.when(lvl <= k, F.struct("level", "number")), ignorenulls=True)
            .over(w)
            .alias(f"__le{k}")
            for k in range(max_level)
        ),
    )
    parent = F.when(
        lvl > max_level,
        F.raise_error(
            F.concat(
                F.lit(f"level_stack_decode: level above max_level={max_level}: "),
                lvl.cast("string"),
            )
        ),
    )
    for k in range(max_level):
        last = F.col(f"__le{k}")
        parent = parent.when(
            (lvl == k + 1) & (last["level"] == k), last["number"]
        )
    return (
        lasts.select(parent.alias("parent"), F.col("number").alias("child"), *attrs)
        .filter(F.col("parent").isNotNull())
    )


# the frozen gate's name for the same decoder
level_stack_decode_routed = level_stack_decode


def chains(edges: DataFrame, n_hops: int) -> DataFrame:
    """G8 bounded path enumeration: every path of exactly ``n_hops``
    edges, returned as an arrow-joined string (reference supersession /
    dependency chain queries, verify_snowmobile_graph.py:147-198)."""
    cur = edges.select(
        F.col("src").alias("head"),
        F.col("dst").alias("tail"),
        F.concat_ws("->", F.col("src").cast("string"), F.col("dst").cast("string")).alias("path"),
    )
    step = edges.select(F.col("src").alias("tail"), F.col("dst").alias("nxt"))
    for _ in range(n_hops - 1):
        cur = (
            cur.join(step, "tail")
            .select(
                "head",
                F.col("nxt").alias("tail"),
                F.concat_ws("->", F.col("path"), F.col("nxt").cast("string")).alias("path"),
            )
        )
    return cur.select("path")


def level_stack_round_robin(rows: DataFrame) -> DataFrame:
    """G2 legacy variant (:194-252): children at level L are distributed
    round-robin over the level-(L-1) parts, by position. Documented as
    semantically different from G1 (SURVEY §2.4); ``main`` uses G1."""
    w_pos = Window.partitionBy("group_id", "level").orderBy("row_idx")
    pos = rows.withColumn("pos", F.row_number().over(w_pos) - 1)
    parents = pos.select(
        "group_id",
        (F.col("level") + 1).alias("level"),
        F.col("pos").alias("ppos"),
        F.col("number").alias("parent"),
    )
    counts = pos.groupBy("group_id", "level").agg(F.count("*").alias("n_at_level"))
    pcounts = counts.select(
        "group_id", (F.col("level") + 1).alias("level"), F.col("n_at_level").alias("n_parents")
    )
    return (
        pos.join(pcounts, ["group_id", "level"])
        .withColumn("ppos", F.pmod(F.col("pos"), F.col("n_parents")))
        .join(parents, ["group_id", "level", "ppos"])
        .select("parent", F.col("number").alias("child"))
    )
