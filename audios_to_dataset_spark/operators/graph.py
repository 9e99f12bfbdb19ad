"""Connected components by iterative min-label propagation.

The dedup endgame: near-dup PAIRS must become near-dup CLUSTERS (keep
one doc per component). Spark has no built-in CC; this is the classic
label-propagation loop — each node repeatedly adopts the minimum label
among itself and its neighbors until a fixpoint.

Scale notes: each iteration is one equi-join (labels ⋈ edges) + one
groupBy min — both shuffle on uniformly-distributed ids. Iteration count
is bounded by the graph diameter (near-dup clusters are tiny and dense,
so convergence is fast); `MAX_CC_ROUNDS` caps pathological chains, and
convergence is detected from the label sum, which each round's eager
localCheckpoint job observes on the side instead of comparing full
frames. The checkpoint also cuts the growing lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Measurement hook (guide §1): number of label-propagation rounds the
# most recent connected_components call ran before the Σlabel fixpoint.
# Written unconditionally (one int assignment); read by tools/ and tests
# to verify round-count claims without instrumenting call sites.
LAST_CC_ROUNDS = 0

# Safety bound on label-propagation rounds: pointer jumping converges in
# O(log diameter) rounds, so the cap only stops pathological chains.
MAX_CC_ROUNDS = 20


def undirected(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(a, b): every ``src``–``dst`` edge in both directions, each once.

    Both orientations come from one scan of ``edges`` (an exploded
    two-element array), so the input plan appears once in the result's
    plan, not twice as under a union."""
    both = F.array(
        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
        F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
    )
    return edges.select(F.inline(both)).distinct()


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(id, cluster_id) where cluster_id = min node id reachable from id.

    ``nodes`` must have column ``id``; ``edges`` columns ``src``/``dst``
    (undirected — both directions are added here).
    """
    # checkpoint the undirected edge frame ONCE: it joins into every
    # iteration, and without the cut the edge lineage (often an
    # expensive pair-finding pipeline — n-gram Jaccard, LSH buckets)
    # re-executes per round. Measured on q_split_assign at sf0.1:
    # 57 s -> ~8 s. localCheckpoint over cache for the same
    # ContextCleaner reason as operators/dedup.py:473. EAGER on
    # purpose: a lazy checkpoint here is raced by broadcast-build
    # threads inside the first iteration's join (see the pagerank
    # note), duplicating the expensive pair-finding upstream.
    und = undirected(edges, src, dst).localCheckpoint(eager=True)

    labels = nodes.select("id", F.col("id").alias("label"))
    # r12 optimization (guide §2.4 remove shuffles / §1.2 algorithm
    # first): convergence was detected by joining new labels back onto
    # old labels and counting differences — a full N⋈N join plus a
    # second action EVERY iteration. Min-label propagation is monotone
    # (labels only ever decrease), so Σlabel strictly decreases on any
    # change and is equal iff the fixpoint is reached; a decimal-sum
    # over the labels replaces the N⋈N join-and-count. Termination is
    # equivalent (both stop after the first unchanged round), so the
    # labels — and every declared CC query — are bit-identical.
    # The Σlabel convergence check is only sound for numeric ids: a
    # non-numeric label would cast to NULL per row, the sum would be
    # NULL every round, and the loop would silently exit after one
    # iteration with under-merged clusters (ADVICE r12). All in-repo
    # callers pass bigint ids; fail loudly on anything else.
    from pyspark.sql import Observation
    from pyspark.sql.types import NumericType

    if not isinstance(labels.schema["label"].dataType, NumericType):
        raise TypeError(
            "connected_components requires numeric node ids; got "
            f"{labels.schema['label'].dataType.simpleString()} (the "
            "decimal-sum convergence check would be NULL every round)"
        )
    global LAST_CC_ROUNDS
    LAST_CC_ROUNDS = 0
    # Σlabel is never a separate driver action: it is observed
    # (Dataset.observe) inside each round's eager checkpoint job, which
    # runs anyway. The input labels are the ids, and each node keeps
    # exactly one row through a round (ids are unique), so round 1's
    # Σid is the input Σlabel. An observation on round 1's input branch
    # would not do: Spark prunes that branch from the plan when it is
    # empty, and the observation then has no row. A NULL sum (empty
    # node set) equals NULL, so that case stops after round 1.
    sums = [
        F.sum(F.col(c).cast("decimal(38,0)")).alias(c)
        for c in ("label", "id")
    ]
    for rnd in range(MAX_CC_ROUNDS):
        LAST_CC_ROUNDS += 1
        neighbor_min = (
            und.join(labels, und.b == labels.id)
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
            .select(F.col("a").alias("id"), "nlabel")
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    "label", F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
            )
        )
        # r13 optimization (guide §1.2 algorithm first; the
        # large-star/small-star family, Kiveris et al. 2014, public
        # literature): POINTER JUMPING — label ← label(label) — after
        # each neighbor-min step. Every label value is itself a node id
        # in the same component with label(x) ≤ x (initial identity;
        # neighbor-min adopts another member's label; jumping adopts
        # that member's label), so the lookup join always matches, the
        # step is monotone non-increasing, and the Σlabel convergence
        # check stays sound. The fixpoint condition is unchanged
        # (neighbor-min stable ⟹ labels constant per component = the
        # component min), so final labels are bit-identical; only the
        # ROUND count drops — O(log d) instead of O(d). Measured
        # (interleaved min-of-3 A/B, r13): rounds 17→10
        # (n-gram dup graph) / 12→7 (dbscan core graph); q_split_assign
        # ×10 9.15→7.03 s, q_dedup_clusters ×10 7.05→5.90 s.
        ptr = new_labels.select(
            F.col("id").alias("_pid"), F.col("label").alias("_plab")
        )
        new_labels = (
            new_labels.join(ptr, new_labels.label == ptr._pid, "left")
            .select(
                "id", F.coalesce("_plab", F.col("label")).alias("label")
            )
        )
        # EAGER: the observed sums exist only once the checkpoint job
        # has run (a lazy checkpoint reports an empty observation), and
        # under AQE a lazy one would run every shuffle stage at RDD
        # creation anyway. A fresh Observation per round: each reports
        # only its first action.
        obs = Observation()
        labels = new_labels.observe(obs, *sums).localCheckpoint(eager=True)
        got = obs.get
        if rnd == 0:
            prev_sum = got["id"]
        new_sum = got["label"]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("id", F.col("label").alias("cluster_id"))


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 2,
    checkpoint: bool = True,
) -> DataFrame:
    """(id, community) after ``iters`` SYNCHRONOUS label-propagation
    rounds (the community-detection method of Raghavan et al. 2007,
    public literature): every node simultaneously adopts the most
    frequent label among its neighbors, ties broken by the smallest
    label; nodes with no neighbors keep their own. Unlike connected
    components' min-label fixpoint, the mode update finds dense
    communities inside a single component.

    Synchronous update + a total tie order makes the result fully
    deterministic (the textbook asynchronous variant is run-order
    dependent and untestable), so a SQL oracle replays the identical
    rounds.

    Scale notes: per round, one equi-join of labels onto the undirected
    edge list (shuffle on the neighbor id), one (node, label) count —
    map-side combinable, so hub fan-in collapses before the shuffle —
    and one row_number window PARTITIONED BY node. Labels are
    localCheckpoint'ed per round to cut lineage, the same discipline as
    :func:`connected_components` (``checkpoint=False`` keeps the full
    lineage so plan tests can audit every round).
    """
    from pyspark.sql import Window

    und = undirected(edges)
    if checkpoint:
        und = und.localCheckpoint(eager=True)
    labels = nodes.select("id", F.col("id").alias("label"))
    w = Window.partitionBy("a").orderBy(F.col("c").desc(), F.col("label"))
    for _ in range(iters):
        counts = (
            und.join(labels, und.b == labels.id)
            .groupBy("a", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        picked = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("a").alias("id"), F.col("label").alias("nlabel"))
        )
        labels = labels.join(picked, "id", "left").select(
            "id", F.coalesce("nlabel", F.col("label")).alias("label")
        )
        if checkpoint:
            labels = labels.localCheckpoint(eager=True)
    return labels.select("id", F.col("label").alias("community"))


# PageRank decimal sum precision: double → DECIMAL casts agree between
# Spark (shortest-repr BigDecimal) and DuckDB (exact binary expansion)
# only while value × 10^scale stays well inside ~15 significant digits;
# ranks/contributions are ≤ 1, so scale 12 is safely inside the
# agreement zone (scale 18 was measured to diverge in the 17th digit).
PR_DEC = "decimal(38,12)"

PR_DAMPING = 0.85  # PageRank's probability of following an edge
HITS_ITERS = 2  # synchronous HITS rounds


def pagerank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(id, rank) after ``iters`` synchronous PageRank iterations with
    damping ``PR_DAMPING`` over the (src, dst) ``edges``.

    The canonical distributed iteration the reference has no analog for
    (its only loop is the per-shard rayon fan-out,
    /root/reference/src/main.rs:718): per round, one equi-join of ranks
    onto edges (shuffle on src), one groupBy(dst) decimal-sum (shuffle on
    dst), plus a tiny dangling-mass aggregate that is broadcast back —
    no driver-side collect of node state. Lineage is cut with
    localCheckpoint every 5 rounds: short runs fuse several iterations
    into one multi-shuffle job (measured 1.8× at sf0.1 for iters=3),
    long runs still bound plan depth. Dangling
    nodes (no out-edges) donate their mass uniformly, the standard
    correction.

    Determinism contract: inflow and dangling sums go through
    ``PR_DEC`` fixed-point (order-independent); every other step is
    scalar double arithmetic replayed identically by the DuckDB oracle
    (plans/sketches.py).
    """
    # The edge list and everything derived from it are loop-invariant;
    # checkpoint once so the (possibly expensive) upstream plan that
    # produced the edges — joins, distinct — is not re-executed every
    # iteration (measured 4× on the order-graph bench at sf0.1).
    # Iteration state is small relative to the session's shuffle width;
    # sizing the loop's frames to the cluster's parallelism cuts per-job
    # task overhead (every iteration is several tiny jobs; measured ~20%
    # at sf0.1 on local[32] over a fixed 8). Values are unaffected: the
    # decimal sums are order-independent.
    e = edges.select("src", "dst").repartition(
        edges.sparkSession.sparkContext.defaultParallelism, "src"
    )
    # NOTE (r12, measured): these loop-invariant frames must stay
    # EAGER. A lazy checkpoint here is materialized concurrently by the
    # broadcast-build threads and the main stages (each computes the
    # un-persisted partitions itself before any are cached), which
    # re-executes the upstream plan several times — q_pagerank measured
    # 6.3 s -> 18 s warm with eager=False. Lazy saves no job under AQE
    # either: creating the checkpoint RDD already runs every shuffle
    # stage of its plan (~0.28 s per connected_components round when
    # those rounds were lazy), so every checkpoint in this module is
    # eager.
    e = e.localCheckpoint(eager=True)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    # r12 optimization (guide §2.4 remove shuffles / §1.2 algorithm
    # first): the dangling flag is loop-INVARIANT per node, so it is
    # computed once and carried inside the node/rank frame instead of
    # materializing a separate dangling-id set and semi-joining the
    # ranks against it EVERY iteration. The per-iteration dangling mass
    # becomes a filter + decimal-sum aggregate over the rank frame —
    # identical rows, identical decimal sum (order-independent), so the
    # ranks and the DuckDB replay oracle are bit-unchanged — and one
    # build-time checkpoint job (dang_ids) disappears entirely.
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(
            outdeg.select(
                F.col("src").alias("id"), F.lit(True).alias("_out")
            ),
            "id",
            "left",
        )
        .select("id", F.col("_out").isNull().alias("dang"))
        .localCheckpoint(eager=True)
    )
    # n as a broadcast 1-row frame, not a driver scalar: the plan stays
    # fully lazy/distributed and the oracle mirrors it as a subquery.
    n_df = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "id",
        "dang",
        (F.lit(1.0) / F.col("n").cast("double")).alias("rank"),
    )
    # Loop-invariant state is materialized ONCE: the (src, dst, deg)
    # edge table would otherwise be recomputed inside every iteration's
    # job (measured ~15% of the 3-iteration wall time at sf0.1).
    ew = e.join(outdeg, "src").localCheckpoint(eager=True)

    for it in range(1, iters + 1):
        contrib = ew.join(ranks, ew.src == ranks.id).select(
            F.col("dst"),
            (F.col("rank") / F.col("deg").cast("double")).alias("c"),
        )
        inflow = contrib.groupBy("dst").agg(
            F.sum(F.col("c").cast(PR_DEC)).cast("double").alias("inflow")
        )
        dangling = ranks.filter(F.col("dang")).agg(
            F.coalesce(
                F.sum(F.col("rank").cast(PR_DEC)).cast("double"),
                F.lit(0.0),
            ).alias("dmass")
        )
        ranks = (
            nodes.join(inflow, nodes.id == inflow.dst, "left")
            .crossJoin(F.broadcast(n_df))
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                "dang",
                (
                    F.lit((1.0 - PR_DAMPING))
                    / F.col("n").cast("double")
                    + F.lit(PR_DAMPING)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("dmass") / F.col("n").cast("double")
                    )
                ).alias("rank"),
            )
        )
        if it % 5 == 0 and it < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("id", "rank")


def hits(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(hubs, auths) of the (src, dst) ``edges`` after ``HITS_ITERS``
    synchronous HITS rounds (Kleinberg
    1999, public literature) with max-normalization: auth(v) = Σ hub of
    in-neighbors, hub(u) = Σ auth of out-neighbors, each score vector
    divided by its max after every update. Max-normalization (a standard
    HITS variant) keeps every step engine-reproducible: the sums go
    through ``PR_DEC`` fixed-point (order-independent), MAX is exact,
    and the division is a single correctly-rounded IEEE op — no L2 norm
    ordering concerns.

    Scale notes: per half-round one equi-join of scores onto the edge
    list + one decimal-sum groupBy (both shuffle on node ids), plus a
    1-row MAX aggregate broadcast back — the same distributed shape as
    :func:`pagerank`, no driver-side state.
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    hubs = e.select(F.col("src").alias("id")).distinct().select(
        "id", F.lit(1.0).alias("hub")
    )
    auths = None
    for _ in range(HITS_ITERS):
        araw = (
            e.join(hubs, e.src == hubs.id)
            .groupBy("dst")
            .agg(F.sum(F.col("hub").cast(PR_DEC)).cast("double").alias("raw"))
        )
        amax = araw.agg(F.max("raw").alias("m"))
        auths = araw.crossJoin(F.broadcast(amax)).select(
            F.col("dst").alias("id"), (F.col("raw") / F.col("m")).alias("auth")
        )
        hraw = (
            e.join(auths, e.dst == auths.id)
            .groupBy("src")
            .agg(
                F.sum(F.col("auth").cast(PR_DEC)).cast("double").alias("raw")
            )
        )
        hmax = hraw.agg(F.max("raw").alias("m"))
        hubs = hraw.crossJoin(F.broadcast(hmax)).select(
            F.col("src").alias("id"), (F.col("raw") / F.col("m")).alias("hub")
        )
    return hubs, auths


def k_core_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """(id, core_deg) of the nodes of the (src, dst) ``edges`` that
    survive ``rounds`` synchronous k-core peeling rounds (Seidman 1983,
    public literature): each round drops
    every node whose current degree is below ``k``, together with its
    incident edges, simultaneously. The fixpoint is the classic k-core;
    the bounded-round variant keeps the iteration count (and the SQL
    oracle's CTE chain) deterministic, exactly like
    :func:`connected_components`'s ``MAX_CC_ROUNDS`` cap. ``core_deg`` is the
    degree a survivor had entering its final round.

    Scale notes: per round one degree groupBy (map-side combinable) and
    one double semi-join of the edge list against the survivor set —
    both shuffle on uniformly distributed node ids; no windows, no
    collects. Edges are localCheckpoint'ed per round so lineage depth
    stays O(1) per round, not O(rounds²).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    # eager on purpose: each round's und feeds BOTH the degree groupBy
    # and the survivor join — concurrent stages would race to
    # materialize a lazy checkpoint and duplicate the round's work (see
    # the pagerank note above).
    und = undirected(edges).localCheckpoint(eager=True)
    keep = None
    for it in range(rounds):
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k)
        if it == rounds - 1:
            break  # the restricted edge set is never read after the loop
        und = (
            und.join(keep.select("a"), "a")
            .join(
                keep.select(F.col("a").alias("b")),
                "b",
            )
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    return keep.select(
        F.col("a").alias("id"), F.col("d").alias("core_deg")
    )


def oriented_triangles(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(deg, tri) of an undirected graph via degree orientation: ``deg``
    holds (node, d) for every endpoint, ``tri`` one (s, wu, wv) row per
    triangle, its three corners.

    ``edges`` must hold each undirected edge once as (u, v), ``u < v``. The
    classic distributed algorithm (Cohen's MapReduce triangle counting /
    node-iterator++): orient every edge from the endpoint of lower
    (degree, id) to the higher, enumerate wedges only from each node's
    *out*-edges, and close them against the edge set.

    Scale notes: after orientation every out-degree is O(sqrt(m)), so the
    wedge self-join produces at most O(m^1.5) rows regardless of skew — a
    hub node of degree 1M generates zero wedges as a source because all
    its edges point *into* it. Both joins are hash equi-joins on node ids
    (no CartesianProduct); the degree table is a single groupBy. This is
    the plan that survives a 100 TB edge list; the naive u<v orientation
    dies on the first celebrity node.

    The edge list and the degree table are checkpointed (eagerly, like
    every loop-invariant frame in this module): the triangle plan reads
    ``e0`` three times and ``deg`` twice, and a caller's plan over
    ``(deg, tri)`` reads them again. Without the checkpoints one plan
    carries a dozen copies of the edge-building subtree, and AQE
    re-optimizes all of them after every stage, so planning, not data,
    dominated the run time at small scale (q_clustering_coeff, sf0.001).
    """
    e0 = edges.select("u", "v").localCheckpoint(eager=True)
    deg = (
        e0.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        e0.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    e1 = oriented.select("s", F.col("t").alias("wu"))
    e2 = oriented.select("s", F.col("t").alias("wv"))
    # wu < wv matches e0's u < v storage order, so the closing join is a
    # direct equi-join — each triangle appears exactly once.
    wedges = e1.join(e2, "s").filter(F.col("wu") < F.col("wv"))
    tri = wedges.join(
        e0, (e0.u == wedges.wu) & (e0.v == wedges.wv)
    ).select("s", "wu", "wv")
    return deg, tri


def triangle_count(edges: DataFrame) -> DataFrame:
    """(n_edges, n_nodes, n_triangles) of an undirected graph stored as
    in :func:`oriented_triangles`."""
    deg, tri = oriented_triangles(edges)
    edge_ct = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    node_ct = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        edge_ct.crossJoin(node_ct)
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )
