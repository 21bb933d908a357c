"""Graph analytics over an edges frame: PageRank, triangle counts, k-core
and core numbers, and label propagation.

The scale path for the metadata plane's DAG analytics (SURVEY.md §2.1 maps
graph ops onto nodes/edges DataFrames) and for corpus-level link graphs
(page/domain authority as a quality prior — the classic web-curation
signal). Every iterative operator is a round of equi-joins and map-side
combinable aggregates keyed on node ids. The fixpoint operators (kcore,
core_numbers, label_propagation and dedup.py's connected-components tiers)
all run through :func:`_fixpoint`, the one convergence loop: it pins each
round, so lineage (and thus replay cost / stack depth) stays O(1) instead of
O(iters), and decides when a round pays a signature job and when the loop
stops early. PageRank has no convergence check and keeps its own loop.

PageRank model: damped PageRank with dangling handling selectable per call —
``dangling="teleport"`` (dangling nodes keep the teleport term only; the
simplification every join-based implementation uses) or
``dangling="redistribute"`` (the standard correction: each round the mass
sitting on out-degree-0 nodes is redistributed uniformly, so total rank
mass is conserved at exactly 1 — what link-spam scoring needs, since a
spam ring's rank should not leak out of the system through its sinks).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    dangling: str = "teleport",
) -> DataFrame:
    """Rank nodes of a directed graph; returns ``id, pagerank``.

    Scale design: node set and out-degrees are computed once; every
    iteration shuffles only (dst, contribution) pairs — partial-aggregated
    map-side — and the node-count scalar rides a 1-row broadcast crossJoin
    (no driver collect). Hot destination nodes are ordinary aggregate skew,
    which AQE splits; rank state is checkpointed per round so failure
    recovery never replays the whole chain.

    ``dangling="redistribute"`` adds the standard dangling-mass correction:
    per round the total rank on out-degree-0 nodes (ONE extra 1-row
    aggregate over the keys-only rank frame, broadcast back like the node
    count) is spread uniformly before damping, conserving total mass at
    exactly 1.0 regardless of sink structure. ``"teleport"`` (default)
    keeps the cheaper leak-to-teleport model for parity with the unrolled
    SQL oracle.
    """
    if dangling not in ("teleport", "redistribute"):
        raise ValueError(f"unknown pagerank dangling mode: {dangling!r}")
    # e/nodes/n1 are all reused EVERY round: without pinning them, each
    # iteration re-runs the upstream edge-derivation job three times over
    # (once via weighted, once via nodes, once via n1) — measured as the
    # bulk of ext_pagerank's wall time. localCheckpoint materializes once.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg"))
    n1 = nodes.agg(F.count(F.lit(1)).cast("double").alias("n")).localCheckpoint(
        eager=False
    )

    ranks = nodes.crossJoin(F.broadcast(n1)).select(
        "id", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    # edges pre-joined with out-degree once; reused every round
    weighted = e.join(outdeg, "src").localCheckpoint(eager=False)

    # dangling node set (no out-edges) computed once; per-round mass is a
    # 1-row aggregate broadcast back — same scalar-plumbing shape as n1
    dangling_ids = nodes.join(
        outdeg.select(F.col("src").alias("id")), "id", "left_anti"
    ).localCheckpoint(eager=False)

    for i in range(iters):
        contribs = (
            weighted.join(ranks.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
        )
        if dangling == "redistribute":
            dmass = ranks.join(dangling_ids, "id").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            )
            new_rank = (
                F.lit(1.0 - damping) / F.col("n")
                + F.lit(damping)
                * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dm") / F.col("n"))
            )
            # redistribute reads each round's ranks TWICE (dmass aggregate
            # + contribution join): the pin is what stops the previous
            # round's subtree re-executing once per consumer — keep it.
            ranks = (
                nodes.join(contribs, "id", "left")
                .crossJoin(F.broadcast(n1))
                .crossJoin(F.broadcast(dmass))
                .select("id", new_rank.alias("rank"))
                .localCheckpoint(eager=False)
            )
        else:
            ranks = (
                nodes.join(contribs, "id", "left")
                .crossJoin(F.broadcast(n1))
                .select(
                    "id",
                    (
                        F.lit(1.0 - damping) / F.col("n")
                        + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
            # teleport mode is a LINEAR chain — each round's ranks has
            # exactly ONE consumer (the next round's join), so a per-round
            # pin adds a materialization job without removing any re-
            # execution (e/nodes/n1/weighted carry the pins that matter).
            # Pin periodically only to bound lineage/planning depth on
            # deep iteration budgets.
            if (i + 1) % 8 == 0:
                ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("id", F.col("rank").alias("pagerank"))


def _orient_by_degree(e: DataFrame) -> DataFrame:
    """Orient canonical undirected edges ``(lo, hi)`` from the
    lower-(degree, id) endpoint to the higher — the classic triangle-count
    skew guard: a hub of degree D contributes D IN-edges but at most
    O(sqrt(m)) OUT-edges under this total order, so the wedge self-join
    (keyed on the OUT side) never fans on hubs. Returns
    ``u, v, rv`` where ``rv`` is v's (deg, id) rank struct for wedge
    ordering."""
    deg = (
        e.select(F.col("lo").alias("node"))
        .union(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    el = (
        e.join(deg.select(F.col("node").alias("lo"), F.col("deg").alias("dlo")), "lo")
        .join(deg.select(F.col("node").alias("hi"), F.col("deg").alias("dhi")), "hi")
    )
    # lo < hi by construction, so degree ties orient lo -> hi
    lo_first = (F.col("dlo") < F.col("dhi")) | (F.col("dlo") == F.col("dhi"))
    return el.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
        F.when(
            lo_first, F.struct(F.col("dhi").alias("d"), F.col("hi").alias("i"))
        )
        .otherwise(F.struct(F.col("dlo").alias("d"), F.col("lo").alias("i")))
        .alias("rv"),
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    orient: str = "id",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the clustering /
    community-density primitive next to PageRank and connected components
    (spam rings and botnets triangle-heavily; organic interaction graphs
    are sparse in triangles).

    Standard distributed shape: edges canonicalize to oriented (lo, hi)
    pairs with duplicates dropped, then two equi-joins enumerate each
    triangle exactly once as lo < mid < hi, and a final explode-aggregate
    credits each corner. All joins are hash-equi on node ids. Self-loops
    and NULL endpoints are dropped. Returns ``node, n_triangles``.

    ``orient`` selects the edge orientation: ``"id"`` (default — exactly
    reproducible in the SQL oracle) or ``"degree"`` (the 100 TB skew
    guard: edges orient from the lower-(degree, id) endpoint, so a hub of
    degree D holds at most O(sqrt(m)) OUT-edges and the wedge self-join —
    keyed on the out side — never fans quadratically on hubs; see
    ``_orient_by_degree``). Both orientations count every triangle
    exactly once and agree on the result.
    """
    if orient not in ("id", "degree"):
        raise ValueError(f"unknown triangle_counts orient: {orient!r}")
    e = _canonical_edges(edges, src_col, dst_col)
    if orient == "degree":
        o = _orient_by_degree(e).localCheckpoint(eager=False)
        w1 = o.select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("rv").alias("rb"))
        w2 = o.select(F.col("u").alias("a"), F.col("v").alias("c"), F.col("rv").alias("rc"))
        # wedge (a; b, c) with rank(b) < rank(c); the closing edge is the
        # oriented (b -> c) exactly (orientation follows the same order)
        wedges = w1.join(w2, "a").filter(F.col("rb") < F.col("rc"))
        closing = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
        tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    else:
        ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
        ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
        tris = ab.join(bc, "b").join(ac, ["a", "c"])
    corners = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return corners


def _canonical_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Undirected canonical form shared by every operator here: (lo < hi),
    NULL endpoints and self-loops dropped, duplicates and reversals
    collapsed by the distinct."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .filter(
            F.col("lo").isNotNull()
            & F.col("hi").isNotNull()
            & (F.col("lo") < F.col("hi"))
        )
        .distinct()
    )


def _und_edges(frame: DataFrame) -> DataFrame:
    """Both directions of a canonical (lo, hi) edge frame as (u, v)."""
    return frame.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
        frame.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )


def _signature(frame: DataFrame) -> tuple:
    """Constant-size, order-insensitive ``(count, hash sum)`` digest of a
    frame: one 1-row aggregate job. The hash is xxhash64 over the columns
    in name order (join rewrites reorder columns between rounds), summed
    as decimal because a BIGINT sum of full-range xxhash64 values
    overflows, which ANSI mode turns into ARITHMETIC_OVERFLOW. Equal
    digests are read as equal frames — the same 64-bit hash posture as
    the gram keys (SCALE.md)."""
    row = frame.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*sorted(frame.columns)).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


class _Fixpoint(NamedTuple):
    frame: DataFrame
    rounds: int
    converged: bool
    sig: tuple | None


def _fixpoint(
    frame: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    budget: int,
    track: bool = False,
    sig: tuple | None = None,
) -> _Fixpoint:
    """The one convergence loop of the fixpoint operators (kcore,
    core_numbers, label_propagation, and dedup.py's star and propagate
    connected-components tiers): run ``step`` for up to ``budget`` rounds.

    Every operator's step is a deterministic function of its input frame,
    so once a round's :func:`_signature` repeats the previous one (or the
    frame is empty — every step maps empty to empty), every remaining
    round is a no-op. Stopping there returns exactly the fixed-``budget``
    result, which is what the unrolled-CTE oracles replay.

    Pins: each round's frame is pinned with a lazy ``localCheckpoint``, so
    lineage stays O(1) in the round count. The pin stays even where the
    frame has a single consumer: an interleaved LPA A/B (min-of-4, one
    session, sf0.1) read 4.42 s pinned vs 5.21 s unpinned — the unpinned
    multi-round plan costs more in planning/AQE replanning than the
    per-round materialization it saves. A lazy pin folds into the next
    signature job, one job per round fewer than an eager pin.

    Gate (each signature is a 1-row job): with ``budget < 3`` and
    ``track`` unset no signature is taken — the only checkable point would
    be after round 1, and real graphs are never settled that early.
    Otherwise the frame is checked after every round but the last, and
    after the last too when ``track`` is set: the caller reports
    ``stats["converged"]`` or must converge, and convergence needs
    consecutive-round signatures, not just the final one. ``sig`` seeds
    the signature of ``frame`` when the caller already holds it.

    Returns the final frame, the rounds run, whether the loop reached the
    fixpoint (False when no check decided it), and the last signature.
    """
    check = track or budget >= 3
    if check and sig is None:
        sig = _signature(frame)
    rounds, converged = 0, False
    while rounds < budget and not converged:
        frame = step(frame).localCheckpoint(eager=False)
        rounds += 1
        if check and (track or rounds < budget):
            new = _signature(frame)
            converged = new == sig or new[0] == 0
            sig = new
    return _Fixpoint(frame, rounds, converged, sig)


def _peel(k: int) -> Callable[[DataFrame], DataFrame]:
    """One k-core peel round over a canonical (lo, hi) edge set: one
    map-side-combinable degree aggregate keyed on node id, then one
    left-semi join per endpoint drops every edge touching a node of
    degree < ``k``. No shuffle carries more than (node, deg) / (lo, hi)
    rows."""

    def step(e: DataFrame) -> DataFrame:
        keep = (
            _und_edges(e)
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("u").alias("id"))
        )
        return e.join(keep.withColumnRenamed("id", "lo"), "lo", "left_semi").join(
            keep.withColumnRenamed("id", "hi"), "hi", "left_semi"
        )

    return step


def kcore(
    edges: DataFrame,
    k: int = 2,
    iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    stats: dict | None = None,
) -> DataFrame:
    """k-core decomposition by iterative min-degree peeling — the
    degeneracy filter of the abuse-graph family (PageRank ranks, CC
    groups, LPA clusters, triangles count; k-core PRUNES: pendant chains
    and low-engagement periphery peel away, leaving the dense interaction
    core where coordinated behavior lives).

    Edges are canonicalized (lo < hi, self-loops and NULLs dropped), then
    :func:`_peel` rounds run through :func:`_fixpoint`, which pins each
    round and stops early at the fixpoint. Fixed ``iters`` rounds make the
    result exactly reproducible by the unrolled-CTE SQL oracle; the
    early stop only skips no-op rounds. ``stats["rounds"]`` records the
    executed count and ``stats["converged"]`` whether the peel reached the
    fixpoint inside the budget: when False the result is a SUPERSET of the
    k-core (nodes with deg < k can remain — e.g. a pendant chain deeper
    than ``iters``), so callers that need a true k-core must check it.
    Passing ``stats`` turns on the loop's ``track`` gate.

    Returns ``id, deg``: the endpoints of the surviving edge set with
    their degree inside it (at the fixpoint this IS the k-core, and every
    ``deg >= k``; isolated input nodes never appear — a 0-degree node is
    in no k-core for k >= 1).
    """
    e = _canonical_edges(edges, src_col, dst_col).localCheckpoint(eager=False)
    loop = _fixpoint(e, _peel(k), int(iters), track=stats is not None)
    if stats is not None:
        stats["rounds"] = loop.rounds
        stats["converged"] = loop.converged
    return (
        _und_edges(loop.frame)
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .select(F.col("u").alias("id"), "deg")
    )


def core_numbers(
    edges: DataFrame,
    k_max: int = 4,
    iters_per_k: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    stats: dict | None = None,
) -> DataFrame:
    """Per-node CORE NUMBERS (graph degeneracy decomposition) — the
    standard output the single-k :func:`kcore` membership can't give: a
    node's core number is the largest k whose k-core contains it, the
    canonical engagement/robustness ordinal (spam-ring density tiers,
    coordinated-cluster triage).

    Iterated peel over nested cores: the k-core is a subset of the
    (k-1)-core, so level k peels the PREVIOUS level's surviving edge set
    — each level starts from an already-reduced graph, and total work
    across levels is bounded by the (small) degeneracy, not k_max x
    corpus. Every level runs :func:`kcore`'s :func:`_peel` round through
    :func:`_fixpoint` for at most ``iters_per_k`` rounds with ``track``
    set; the signature carries from one level to the next and doubles as
    the empty-graph check, so exhausted levels cost no extra jobs.

    Fixed ``(k_max, iters_per_k)`` make the result exactly reproducible
    by an unrolled-CTE oracle (the early stop only skips provably no-op
    rounds, so truncated-budget semantics are deterministic and
    engine-identical). Every endpoint of the canonical edge set gets
    ``core >= 1``; isolated input nodes never appear. ``stats``:
    ``levels`` (deepest k that kept nodes), ``rounds`` (total peel rounds
    executed), ``converged`` (False when ANY level exhausted
    ``iters_per_k`` before its fixpoint — the assigned core numbers are
    then an UPPER BOUND, the kcore truncation contract).

    Returns ``id, core`` (core = max k in 1..k_max whose peel kept the
    node).
    """
    if int(k_max) < 1:
        raise ValueError(f"k_max must be >= 1, got {k_max}")
    if int(iters_per_k) < 1:
        # 0 would silently skip every peel and assign core=k_max to all
        # endpoints (the epoch_budget_plan max_epochs guard discipline)
        raise ValueError(f"iters_per_k must be >= 1, got {iters_per_k}")
    e = _canonical_edges(edges, src_col, dst_col).localCheckpoint(eager=False)

    def level(frame: DataFrame, k: int) -> DataFrame:
        nodes = _und_edges(frame).select(F.col("u").alias("id")).distinct()
        return nodes.withColumn("core", F.lit(k))

    levels = [level(e, 1)]
    total_rounds = 0
    deepest = 1
    all_converged = True
    sig = _signature(e)
    for k in range(2, int(k_max) + 1):
        if sig[0] == 0:
            break  # emptied: a fixpoint for this and every higher k
        loop = _fixpoint(e, _peel(k), int(iters_per_k), track=True, sig=sig)
        e, sig = loop.frame, loop.sig
        total_rounds += loop.rounds
        if sig[0] == 0:
            break
        # a level that exhausted its budget mid-peel kept sub-k nodes: the
        # assigned core numbers are an UPPER BOUND, and the caller can tell
        all_converged = all_converged and loop.converged
        deepest = k
        levels.append(level(e, k))
    if stats is not None:
        stats["levels"] = deepest
        stats["rounds"] = total_rounds
        stats["converged"] = all_converged
    out = levels[0]
    for frame in levels[1:]:
        out = out.unionByName(frame)
    return out.groupBy("id").agg(F.max("core").cast("int").alias("core"))


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    stats: dict | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA) over an
    undirected graph — the density-based grouping connected components
    can't give (a long chain is ONE component but many communities;
    spam rings and coordinated-abuse clusters are dense subgraphs, which
    is exactly what LPA isolates).

    Deterministic variant: every node starts labeled with itself; each
    round every node adopts the most frequent label among its neighbors
    PLUS its own current label (the self-vote damps the classic
    synchronous-LPA oscillation on bipartite structures — a bare 2-node
    pair would otherwise swap labels forever), ties broken by smallest
    label. Synchronous updates + total tie order make a FIXED iteration
    count exactly reproducible — which is how the DuckDB oracle replays
    it (the same rounds unrolled as CTEs), same discipline as pagerank.

    Scale shape: each round is one equi-join of the edge list against the
    label frame plus one (node, label) count aggregate and one per-node
    argmax — all map-side combinable, all keyed on node ids; labels are
    scalar longs/strings, so no round shuffles anything wider than
    (node, label, count). The self-vote rides as a self-loop voter edge
    (identical votes multiset: every und edge contributes its endpoint's
    label once and the (id, id) self-loop joins the node's own label once)
    so each round's label frame is read ONCE instead of twice. Self-loops
    and NULL endpoints are dropped; each undirected edge votes in both
    directions.

    Rounds run through :func:`_fixpoint`, which pins each label frame and
    stops early once it repeats — the exact fixed-``iters`` result, so the
    unrolled-CTE oracle is unchanged. ``stats["rounds"]`` records the
    executed count when a dict is passed, and ``stats["converged"]``
    whether the final label frame is a fixpoint (the kcore truncation
    contract: when False the labels are a mid-propagation snapshot —
    exact for the fixed ``iters``, but not the settled communities).

    Returns ``id, community`` (community = the adopted label).
    """
    # pin the canonical edge set BEFORE the direction union: materializing
    # the union first re-ran the whole upstream edge derivation (join +
    # distinct) once per branch — the connected_components finding. The
    # union itself is two cache scans per round, so no second pin.
    und = _und_edges(
        _canonical_edges(edges, src_col, dst_col).localCheckpoint(eager=False)
    )
    nodes = (
        und.select(F.col("u").alias("id")).distinct().localCheckpoint(eager=False)
    )
    voters = und.unionByName(
        nodes.select(F.col("id").alias("u"), F.col("id").alias("v"))
    )

    def step(labels: DataFrame) -> DataFrame:
        votes = (
            voters.join(labels, voters["v"] == labels["id"])
            .groupBy(F.col("u"), F.col("community"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # argmax by (count desc, community asc) as a struct-MIN aggregate:
        # min((-n, community)) picks the same winner as the row_number
        # window form but hash-aggregates instead of sorting each u
        # partition — one map-side-combinable shuffle, no sort
        best = (
            votes.groupBy("u")
            .agg(
                F.min(
                    F.struct((-F.col("n")).alias("negn"), F.col("community"))
                ).alias("__best")
            )
            .select(F.col("u").alias("id"), F.col("__best.community").alias("community"))
        )
        return nodes.join(best, "id", "left").select(
            "id", F.coalesce("community", F.col("id")).alias("community")
        )

    labels = nodes.select("id", F.col("id").alias("community"))
    loop = _fixpoint(labels, step, int(iters), track=stats is not None)
    if stats is not None:
        stats["rounds"] = loop.rounds
        stats["converged"] = loop.converged
    return loop.frame
