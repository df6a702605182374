"""Graph / hierarchy operators (SURVEY.md §2 G1-G4, S10).

Reference semantics (``/root/reference/text2term/term_graph_generator.py``,
``term_graph.py``): per ontology term, the graph holds the term, ALL
transitive ancestors (recursion only continues through ancestors present in
the term dictionary — missing/filtered parents terminate a path but their
edge is still emitted), direct children (IS_A) and direct instances
(INSTANCE_OF). Node labels come from the parents/children map values, with
IRI-fragment fallback.

Spark design: one global edge DataFrame; the ancestor closure is a
semi-naive frontier self-join to fixpoint, run by ``iterate.fixpoint``
(one lazily checkpointed closure relation per round, superseded rounds
released as they go; SURVEY.md §4) — no GraphFrames dependency. Depth is
bounded by the ontology DAG height (tens), not data size; each round is
one broadcast-able join on the (small) edge dimension. The closure and
``connected_components`` leave no cache behind but the relation they
return.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ontology_mapper_spark.functions.curie import label_from_iri_col
from ontology_mapper_spark.operators.iterate import _release, fixpoint

IS_A = "IS_A"
INSTANCE_OF = "INSTANCE_OF"


def hierarchy_edges(onto_terms: DataFrame) -> DataFrame:
    """G2 — global edges(src, dst, label, dst_label):
    child --IS_A--> parent, instance --INSTANCE_OF--> class.
    ``dst_label`` keeps the reference's label provenance (map values)."""
    parents = onto_terms.select(
        F.col("iri").alias("src"),
        F.explode("parents").alias("dst", "dst_label"),
        F.lit(IS_A).alias("label"),
    )
    instances = (
        onto_terms.select(
            F.col("iri").alias("dst"),
            F.col("labels")[0].alias("dst_label"),
            F.explode("instances").alias("src", "src_label"),
        )
        .select("src", "dst", F.lit(INSTANCE_OF).alias("label"), "dst_label")
    )
    return parents.select("src", "dst", "label", "dst_label").unionByName(instances)


def ancestor_closure(
    onto_terms: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """G1 — (term, ancestor) transitive closure over IS_A edges.

    Reference recursion (``term_graph_generator.py:29-38``) only walks
    through ancestors present in the collection; edges here originate from
    retained terms only, so paths stop at filtered-out nodes exactly like
    the reference. Cycle-safe: a reached pair the closure already holds
    is not new, so revisits are dropped and the loop reaches a fixpoint
    even on cyclic inputs (the reference would recurse forever).

    Physical shape: a semi-naive frontier self-join run by
    ``iterate.fixpoint``. The state is ONE checkpointed relation
    ``(term, anc, _new)`` holding the whole closure so far, with ``_new``
    marking the frontier. Each round joins the frontier to the direct
    edges and folds the pairs it reaches into the closure with one
    aggregate keyed on (term, anc): a pair is new iff no closure row
    carries it. That single shuffle both dedups the reached pairs and
    drops revisits, and it keeps the state at a fixed partition count.
    Trade-off: a round writes |closure| rows instead of |frontier| rows,
    in exchange for a plan that reads one leaf however deep the
    hierarchy (a union over per-round frontier pieces grows one leaf per
    round). The write costs no extra job: the checkpoint materializes
    inside the probe's job. Rounds = the longest shortest path, in edges.
    """
    edges = (
        onto_terms.select(F.col("iri").alias("term"), F.explode("parents"))
        .select("term", F.col("key").alias("anc"), F.lit(True).alias("_new"))
        .localCheckpoint(eager=False)
    )
    hop = edges.select(F.col("term").alias("mid"), F.col("anc").alias("next_anc"))

    def step(closure: DataFrame) -> DataFrame:
        reached = (
            closure.filter(F.col("_new"))
            .select("term", F.col("anc").alias("mid"))
            .join(hop, "mid")
            .select("term", F.col("next_anc").alias("anc"), F.lit(True).alias("_new"))
        )
        # min(_new) is false iff the closure already holds the pair
        return (
            closure.withColumn("_new", F.lit(False))
            .unionByName(reached)
            .groupBy("term", "anc")
            .agg(F.min("_new").alias("_new"))
        )

    return fixpoint(step, edges, max_iterations, "ancestor_closure", (edges,))


def pagerank_int(
    edges: DataFrame,
    iterations: int = 6,
    src: str = "src",
    dst: str = "dst",
    _max_rank: int | None = None,
) -> DataFrame:
    """Integer-arithmetic PageRank over a KG edge relation — entity
    importance for the graph's CONSUMPTION side (rank ontology terms by
    accumulated mention/hierarchy mass). Returns ``(node, rank_micro)``.

    The recurrence is the unnormalized propagation form in integer
    micro-units: ``r_0 = 1_000_000``;
    ``r_{t+1}(v) = 150_000 + Σ_{u→v} (r_t(u) * 85) div (100 * outdeg(u))``
    (damping 0.85 as the exact fraction 85/100, floor division).
    Every operation is exact integer arithmetic, so the per-node sum is
    ORDER-INDEPENDENT — the result is bit-identical across engines,
    partitionings, and retries, and the DuckDB oracle replays the same
    recurrence as generated chained CTEs (floating-point PageRank can
    never be hash-compared across engines; this formulation can).
    Dangling nodes contribute nothing (their mass is dropped — the
    standard simplification; document-level ranking only needs relative
    order). Fixed iteration count rather than convergence detection:
    deterministic cost, deterministic result.

    Scale shape: the out-degree is annotated onto the edge relation
    ONCE, outside the loop, by a count window over ``src`` — one
    shuffle+sort of the edge relation, no dimension relation moving.
    The loop state is the per-node contribution SUM (``r = 150_000 +
    coalesce(s, 0)`` folds into the next round's join projection), so
    each iteration pays exactly one left join (sums into the
    degree-annotated edges on ``src``) and one aggregate (contributions
    on ``dst``) — no per-round rank reassembly join — and round 1 is
    join-free (``r_0`` is a constant). One final left join rebuilds
    ranks for all nodes, sinks included. The annotated edge relation is
    pinned with persist() (cached plans keep their hash partitioning
    AND sort order, which a localCheckpoint's ExistingRDD scan loses),
    so after the annotation pass the edge side never shuffles or sorts
    again — each iteration moves only
    node-sized relations (on a cluster this is the bucketed-join
    shape). Every third round's sums are localCheckpointed to bound
    lineage depth."""
    # Loop-invariant: each edge annotated with its source's out-degree —
    # (r*85) div (100*_od) only needs _od next to the edge, never a
    # second join in the loop. A count window over _s does it in ONE
    # shuffle+sort with no dimension relation moving at all (the
    # agg-then-join-back spelling shuffles the edge relation just the
    # same and pays a second join on top — measured ~20% slower
    # end-to-end); the window's hash partitioning AND sort on _s are
    # exactly what every loop iteration's ranks join requires. Skew
    # exposure is identical to the groupBy spelling: one hub source's
    # edges land in one task either way.
    #
    # r6: the invariants are pinned with persist(), NOT localCheckpoint —
    # a checkpointed relation comes back as an ExistingRDD scan with
    # UnknownPartitioning, so every iteration's join RE-SHUFFLED AND
    # RE-SORTED the full edge relation (measured in the r5 plans). A
    # cached plan keeps its outputPartitioning and outputOrdering
    # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning stays
    # at its default false), so the edge relation never moves or sorts
    # again after the annotation pass: each iteration shuffles only the
    # node-sized ranks/contribution relations.
    if iterations <= 0:
        # constant ranks need only the node set — never build (or pin)
        # the degree-annotated edge cache for zero loop iterations
        return (
            edges.select(F.col(src).alias("node"))
            .unionByName(edges.select(F.col(dst).alias("node")))
            .distinct()
            .select("node", F.lit(1_000_000).cast("long").alias("rank_micro"))
        )
    e_od = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .withColumn("_od", F.count(F.lit(1)).over(Window.partitionBy("_s")))
        .persist()
    )
    # node set derived from the annotated edges; NOT persisted — in the
    # sum-state shape it has exactly one consumer (the final rank
    # assembly), so a cache write would cost a materialization pass with
    # zero reuse (it was read every iteration when ranks were the state)
    nodes = (
        e_od.select(F.col("_s").alias("node"))
        .unionByName(e_od.select(F.col("_d").alias("node")))
        .distinct()
    )
    # int64-safe ceiling: past it, r * 85 would overflow — Spark (non-ANSI)
    # wraps SILENTLY where DuckDB raises and the Python replica is exact,
    # three different outcomes for a bit-identical-by-contract operator.
    # Guard loudly per-row (free in the projection; reachable only under
    # extreme hub mass concentration, ~1.1e17 micro-units on one node).
    # The guard sits where the multiplication happens — on the SOURCE rank
    # flowing into each edge's contribution (a sink node's rank is never
    # multiplied, so it cannot overflow and needs no check; DuckDB's
    # replay raises in exactly the same place).
    max_rank = _max_rank if _max_rank is not None else (2**63 - 1) // 85

    def _guarded(r):
        return F.when(
            r > F.lit(max_rank),
            F.raise_error(
                F.lit(
                    "pagerank_int: rank exceeds the int64-safe ceiling "
                    "(r * 85 would overflow); fewer iterations or a "
                    "rescaling pass is required"
                )
            ).cast("long"),
        ).otherwise(r)

    # r6.2: the loop state is the per-node contribution SUM s_t, not the
    # rank — r_t(v) = 150_000 + coalesce(s_t(v), 0) for t >= 1, so the
    # rank formula folds into the next round's join projection and the
    # old per-round left-outer rank reassembly (a second node-sized
    # shuffle+join every iteration) disappears; one final left join
    # rebuilds ranks for ALL nodes (sinks included) after the loop.
    # Round 1 is JOIN-FREE: r_0 is the constant 1_000_000, so the first
    # contribution aggregate reads the cached edge relation directly.
    #
    # SHUFFLE_HASH hint: the one loop join builds its hash map from the
    # node-sized side (the previous round's contribution sums), so the
    # per-task build is |nodes| / shuffle partitions and uniform (unique
    # keys). A sort-merge join here would re-SORT the full edge relation
    # every iteration (the exchange itself is stage-reused across
    # iterations by AQE, the sort is not) — measured at 600k edges x 6
    # iterations the hash join drops that entire per-iteration sort cost.
    c_expr = F.expr("(r * 85) div (100 * _od)").cast("long").alias("c")
    s = (
        e_od.withColumn("r", _guarded(F.lit(1_000_000).cast("long")))
        .select(F.col("_d").alias("node"), c_expr)
        .groupBy("node")
        .agg(F.sum("c").alias("s"))
    )
    cuts = []
    for i in range(1, iterations):
        contrib = (
            e_od.join(
                s.select(F.col("node").alias("_s"), "s").hint("shuffle_hash"),
                "_s",
                "left",
            )
            .withColumn(
                "r",
                _guarded(
                    (F.lit(150_000) + F.coalesce(F.col("s"), F.lit(0))).cast(
                        "long"
                    )
                ),
            )
            .select(F.col("_d").alias("node"), c_expr)
        )
        s = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        if i % 3 == 2 and i < iterations - 1:
            # lineage cut every third round (r5 cadence); the checkpoint
            # costs the NEXT round one node-sized re-shuffle+sort
            # (ExistingRDD forgets partitioning), never an edge-relation
            # move — the cached e_od/nodes leaves bound every re-scan.
            # (The LAST round's cut lands on the assembled output below
            # instead, so the returned result is cache-independent.)
            s = s.localCheckpoint()
            cuts.append(s)
    out = (
        nodes.join(
            s.hint("shuffle_hash"),
            "node",
            "left",
        )
        .select(
            "node",
            (F.lit(150_000) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("rank_micro"),
        )
    )
    if iterations % 3 == 0:
        # iteration counts ending on the checkpoint cadence materialize
        # the final assembly eagerly and drop the cached invariants and
        # lineage cuts, so a long-lived session doesn't accrue per-call
        # cache entries (and repeated benchmark invocations cannot
        # silently reuse a prior call's cache). For other iteration
        # counts the returned plan still references the caches; they stay
        # pinned for the session (callers may spark.catalog.clearCache()).
        out = out.localCheckpoint()
        e_od.unpersist(False)
        for cut in cuts:
            _release(cut)
    return out


def entity_cooccurrence(
    triples: DataFrame,
    max_entities_per_page: int = 64,
    mapped_pred: str = "mappedTo",
) -> DataFrame:
    """Entity co-mention graph over the KG's mapping triples — the standard
    KG-construction step the reference stops short of (text2term emits
    per-term mappings; a graph consumer wants which entities appear on the
    SAME page). Returns ``(entity_a, entity_b, co_count, lift_milli)`` with
    ``entity_a < entity_b``.

    ``lift_milli`` is milli-scaled lift ``P(a,b) / (P(a) P(b))`` computed
    entirely in exact integer arithmetic —
    ``(1000 * co_count * n_pages) div (cnt_a * cnt_b)`` with DECIMAL(38,0)
    intermediates (at 10^12 pages the numerator reaches ~10^27, past
    int64; the quotient itself is <= 1000 * n_pages and fits a BIGINT) —
    so the result is bit-identical across engines and partitionings, the
    same hash-comparable discipline as ``pagerank_int``.

    Scale shape: the page->entity projection is deduped with one shuffle
    on (url, entity); the capped per-page entity sets are then assembled
    as SORTED ARRAYS (bounded at ``max_entities_per_page`` elements by
    the row_number cap BEFORE the array aggregate, so no aggregation
    buffer ever exceeds the cap) and pairs are generated MAP-SIDE from
    each array by two chained Generates — the dedup module's
    bucket-array shape — so the pair relation never passes through a
    url-keyed self-join (r5's equi-join spelling paid a third shuffle
    plus two sort legs; measured at sf0.1 the array form is ~2x faster).
    A mega-hub page still cannot explode a partition: fan-out is capped
    at cap^2/2 pairs per page. Entity page-counts and the page total are
    tiny aggregates broadcast back onto the pair relation.
    """
    from pyspark.sql import Window

    from ontology_mapper_spark.pipeline import triple_url
    from ontology_mapper_spark.spread import spread_small_scan

    # a small snapshot scans as one task (single-row-group parquet) and
    # would serialize the triple_url regexp + dedup partials on one core
    ents = (
        spread_small_scan(triples)
        .filter(F.col("pred") == mapped_pred)
        .select(triple_url("subj").alias("url"), F.col("obj").alias("entity"))
        .distinct()
    )
    w = Window.partitionBy("url").orderBy("entity")
    # the groupBy("url") reuses the window's hash(url) partitioning (no
    # extra exchange); eager pin: three consumers (pairs, per-entity
    # counts, page total) would otherwise each replay distinct + window.
    # One row per page with a <=cap-element array — cheaper to
    # materialize than the r5 row-form relation it replaces.
    capped = (
        ents.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_entities_per_page)
        .groupBy("url")
        .agg(F.sort_array(F.collect_list("entity")).alias("es"))
        .localCheckpoint()
    )
    # two chained Generates stay pipelined: ordered pairs (a < b by the
    # array sort) stream out one at a time, no C(n,2) array materialized
    pairs = (
        capped.select("es", F.posexplode("es").alias("_i", "entity_a"))
        .select(
            "entity_a",
            F.explode(
                F.slice("es", F.col("_i") + 2, F.size("es"))
            ).alias("entity_b"),
        )
        .groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).alias("co_count"))
    )
    cnts = (
        capped.select(F.explode("es").alias("entity"))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).alias("n_ent"))
    )
    total = capped.select(F.count(F.lit(1)).alias("n_pages"))
    return (
        pairs.join(
            F.broadcast(
                cnts.select(
                    F.col("entity").alias("entity_a"), F.col("n_ent").alias("_na")
                )
            ),
            "entity_a",
        )
        .join(
            F.broadcast(
                cnts.select(
                    F.col("entity").alias("entity_b"), F.col("n_ent").alias("_nb")
                )
            ),
            "entity_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "entity_a",
            "entity_b",
            F.col("co_count").cast("long").alias("co_count"),
            F.expr(
                "CAST((CAST(1000 AS DECIMAL(38,0)) * co_count * n_pages)"
                " div (CAST(_na AS DECIMAL(38,0)) * _nb) AS BIGINT)"
            ).alias("lift_milli"),
        )
    )


def kg_summary(triples: DataFrame) -> DataFrame:
    """Per-predicate KG shape metrics -> ``(pred, n_triples, n_subjects,
    n_objects)`` — the graph-materialize monitoring row a pipeline
    operator reads after every build/incremental advance (is the mapping
    partition growing, did a hierarchy snapshot change size). One
    partial+final hash aggregate; with the graph table partitioned by
    ``pred`` (construct_full_kg's layout) each group reads exactly its
    own partition."""
    return triples.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct("obj").alias("n_objects"),
    )


def kg_diff(prev_triples: DataFrame, new_triples: DataFrame) -> DataFrame:
    """Triple-level churn between two KG snapshots (release QA — the
    relation a deployment inspects before promoting a rebuild or an
    incremental advance): ``(subj, pred, obj, prev_score_milli,
    new_score_milli, status)`` with status ``added`` (new only),
    ``removed`` (prev only), ``rescored`` (both, score moved), or
    ``stable``. Scores compare as integer millis (the 3dp rounding the
    triples already carry — F10), so the relation is hash-comparable
    across engines and insensitive to float noise; null scores
    (hierarchy edges from ``construct_full_kg``) compare null-safely.

    Physical shape: ONE full-outer SHUFFLED-HASH join on the triple key
    — both sides shuffle once on (subj, pred, obj), and neither side is
    ever sorted (r6: the sort-merge form paid a full sort of BOTH
    snapshot legs; the triple key is unique-by-construction on each
    side, so there is no hot key — measured ~20% faster at 600k rows).
    Memory bound: the hash build cannot spill, and AQE's skew handling
    never splits either side of a FULL OUTER join, so |triples| /
    ``spark.sql.shuffle.partitions`` rows of one snapshot must fit in
    one task's execution memory (no sort-merge fallback past that).
    Under an Iceberg/bucketed layout keyed on subj the exchange is
    partial. No driver materialization at any scale."""
    milli = lambda c: F.round(F.col(c) * 1000).cast("int")  # noqa: E731
    p = prev_triples.select(
        "subj", "pred", "obj",
        milli("score").alias("prev_score_milli"),
        F.lit(1).alias("_p"),
    )
    n = new_triples.select(
        "subj", "pred", "obj",
        milli("score").alias("new_score_milli"),
        F.lit(1).alias("_n"),
    )
    j = p.join(n.hint("shuffle_hash"), ["subj", "pred", "obj"], "full_outer")
    return j.select(
        "subj", "pred", "obj", "prev_score_milli", "new_score_milli",
        F.when(F.col("_n").isNull(), F.lit("removed"))
        .when(F.col("_p").isNull(), F.lit("added"))
        .when(
            ~F.col("prev_score_milli").eqNullSafe(F.col("new_score_milli")),
            F.lit("rescored"),
        )
        .otherwise(F.lit("stable"))
        .alias("status"),
    )


def kg_diff_summary(
    prev_triples: DataFrame, new_triples: DataFrame
) -> DataFrame:
    """Per-(pred, status) churn counts over :func:`kg_diff` ->
    ``(pred, status, n_triples)`` — the release-gate scalar row (an
    unexpected ``removed`` spike on the mappedTo partition is the
    signal to hold a promotion). One partial+final aggregate on top of
    the diff's single join."""
    return kg_diff(prev_triples, new_triples).groupBy("pred", "status").agg(
        F.count(F.lit(1)).alias("n_triples")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over an arbitrary edge relation ->
    ``(node, component)`` with component = min node id reachable. Thin
    public facade over the pointer-doubling min-label propagation that
    backs ``dedup.neardup_clusters`` (O(log diameter) rounds of
    ``iterate.fixpoint``, which releases every checkpoint it supersedes —
    see its docstring for the physical shape); exposed here because KG
    consumers want components over co-occurrence / hierarchy edges, not
    just near-dup pairs."""
    from ontology_mapper_spark.operators.dedup import neardup_clusters

    pairs = edges.select(F.col(src).alias("doc_a"), F.col(dst).alias("doc_b"))
    return neardup_clusters(pairs, max_iterations=max_iterations).select(
        F.col("doc").alias("node"), F.col("cluster_id").alias("component")
    )


def term_graph_nodes_edges(onto_terms: DataFrame) -> tuple[DataFrame, DataFrame]:
    """G4 prep — per-term graph member nodes and edges, as flat DataFrames
    keyed by ``graph_iri``. Node labels resolve as: relation-map value, else
    own labels[0], else IRI fragment (``term_graph_generator.py:51-64``)."""
    terms = onto_terms.select(
        "iri", F.col("labels")[0].alias("display_label"), "parents", "children",
        "instances",
    )
    closure = ancestor_closure(onto_terms)
    # member set per graph: the term itself + all ancestors
    members = (
        terms.select(F.col("iri").alias("graph_iri"), F.col("iri").alias("member"))
        .unionByName(
            closure.select(
                F.col("term").alias("graph_iri"), F.col("anc").alias("member")
            )
        )
        .distinct()
    )
    # edges: every parent edge of a member that is a retained term
    parent_edges = terms.select(
        F.col("iri").alias("src"), F.explode("parents").alias("dst", "dst_label")
    )
    all_edges = (
        members.join(parent_edges, members.member == parent_edges.src)
        .select("graph_iri", "src", "dst", F.lit(IS_A).alias("label"))
    )
    # nodes: self + every relation-map entry of members (+children/instances)
    nodes = terms.select(
        F.col("iri").alias("graph_iri"),
        F.col("iri").alias("node_id"),
        F.col("display_label").alias("node_label"),
    ).unionByName(
        members.join(terms, members.member == terms.iri)
        .select("graph_iri", F.explode("parents").alias("node_id", "node_label"))
    )
    # children/instances only expand from the graph root, not from ancestors
    for rel, label in (("children", IS_A), ("instances", INSTANCE_OF)):
        root = terms.select(
            F.col("iri").alias("graph_iri"),
            F.explode(rel).alias("node_id", "node_label"),
        )
        all_edges = all_edges.unionByName(
            root.select(
                "graph_iri",
                F.col("node_id").alias("src"),
                F.col("graph_iri").alias("dst"),
                F.lit(label).alias("label"),
            )
        )
        nodes = nodes.unionByName(root)
    nodes = nodes.withColumn(
        "node_label",
        F.when(
            F.col("node_label").isNull() | (F.col("node_label") == ""),
            label_from_iri_col(F.col("node_id")),
        ).otherwise(F.col("node_label")),
    ).dropDuplicates(["graph_iri", "node_id"])
    return nodes, all_edges.distinct()


def term_graphs_json(onto_terms: DataFrame) -> DataFrame:
    """S10 — one JSON document per term graph, vis.js-shaped
    (``term_graph.py:26-53``): {iri, nodes:[{id,label}], edges:[{from,to,label}]}.
    Sink with ``df.write.json`` or ``.text`` for byte-stable output."""
    nodes, edges = term_graph_nodes_edges(onto_terms)
    n_agg = nodes.groupBy("graph_iri").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("node_id").alias("id"), F.col("node_label").alias("label"))
            )
        ).alias("nodes")
    )
    e_agg = edges.groupBy("graph_iri").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("src").alias("from"),
                    F.col("dst").alias("to"),
                    F.col("label").alias("label"),
                )
            )
        ).alias("edges")
    )
    return (
        n_agg.join(e_agg, "graph_iri", "left")
        .select(
            F.col("graph_iri").alias("iri"),
            "nodes",
            F.coalesce("edges", F.array()).alias("edges"),
        )
    )
