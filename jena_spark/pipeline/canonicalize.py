"""owl:sameAs canonicalization via distributed connected components.

Reference precedent: Jena's rule reasoner declares ``owl:sameAs``
symmetric/transitive and propagates it
(``jena-core/src/main/resources/etc/owl-fb.rules:157,424-431``). At
Spark scale that closure is connected components over the equivalence
edge set; we implement the **alternating large-star / small-star**
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) — O(log n) rounds regardless of component diameter
(naive label propagation is O(diameter) rounds and dies on chains).

Representative choice: lexicographically smallest member (strings order
identically in Python and the JVM for our ASCII IRIs — the oracle uses
the same rule). The rounds iterate on xxhash64 node ids (cf. TDB
NodeId, ``jena-tdb/.../store/NodeId.java:115-152``); the min-string
representative is elected once, at decode.

Cost per round: at the sizes served here a round costs Spark job and
stage overhead, not data volume, so each round is built to run few
jobs. Each star step takes its neighbourhood min with one window
exchange (``min(dst) OVER (PARTITION BY src)``) instead of an
aggregate plus a join back; small-star adds one dedup exchange; the
round's eager ``localCheckpoint`` also reads the convergence signature
through ``DataFrame.observe``, so there is no separate signature job.
That is 4 jobs a round, against 10 for the aggregate+join form with
its separate signature job (measured on a 60-node chain). The
returned mapping is materialized once, so the two broadcast joins of
:func:`canonicalize_triples` do not each replay the decode.

Skew trade-off (north rule: hot entities produce high-degree stars): a
window exchange sends all the edges of a star centre to one task, as
one sorted run that can spill to disk. The map-side partial
aggregation of a ``groupBy`` min, and AQE's skew-join splitting of the
join back, no longer apply to the star steps. The benchmark's
``skewed`` workload (a hot component of a 240-node star plus a chain)
checks that this costs nothing at the sizes served; at a hub degree
where one sorted run per hub spills, the aggregate+join form is the
one to return to. The final rewrite join broadcasts the mapping when
small and otherwise relies on AQE skew-join splitting (enabled in
session.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from jena_spark import terms as TM
from jena_spark.pipeline.encode import term_id_col


def _large_star(e: DataFrame) -> DataFrame:
    """Connect all strictly-larger neighbors to the neighborhood min.

    The neighborhood min is a window over the undirected edge frame, so
    the step is one exchange (by ``src``) instead of an aggregate plus a
    join back. No dedup: the output is at most twice the input, and the
    following small-star step removes duplicates."""
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return (
        und.select("src", "dst", m.alias("m"))
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect all smaller-or-equal neighbors (and self) to the min:
    one window exchange for the min, one for the final dedup."""
    d = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = F.min("dst").over(Window.partitionBy("src"))
    out = d.select(F.explode(F.array("dst", "src")).alias("src"), m.alias("dst"))
    return out.where(F.col("src") != F.col("dst")).distinct()


def _signature(src: Column, dst: Column) -> list[Column]:
    """Convergence signature of an edge set as ``observe`` metrics:
    (edge count, xor of the edge hashes)."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(src, dst)), F.lit(0)).alias("h"),
    ]


def _node_id(c: str) -> Column:
    null_s = F.lit(None).cast("string")
    return term_id_col(F.lit("n"), F.col(c), null_s, null_s)


def _unionfind(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find, representative = lexicographic min member
    (identical semantics to the distributed path and the oracle)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def connected_components(
    edges: DataFrame, max_iter: int = 25, driver_threshold: int = 1_000_000
) -> DataFrame:
    """edges(src,dst) -> mapping(node, component) with component = min member.

    Hybrid execution: after dedup, an edge set that fits comfortably on
    the driver (``<= driver_threshold`` edges — the entity-equivalence
    graph is orders of magnitude smaller than the triple set) is solved
    with a single collect + union-find, avoiding O(log n) whole-cluster
    rounds for a tiny graph. Above the threshold, the alternating
    large-star/small-star iteration runs fully distributed. Both paths
    produce the identical mapping (min-member representative).

    Every node that appears in an edge is returned, representatives
    self-mapped (rep -> rep); isolated nodes map to themselves
    implicitly. The rewrite in :func:`canonicalize_triples` relies on
    "mapping hit" meaning "this IRI belongs to some equivalence
    component".

    Distributed path, in Spark jobs:

    * the deduplicated input is ``localCheckpoint``'ed once, and that
      job also observes the edge count (the driver/distributed switch)
      and the encoded edge set's signature;
    * each round is large-star then small-star on xxhash64 node ids,
      each star step one window exchange, plus the small-star dedup —
      4 jobs a round, one of them the round's eager
      ``localCheckpoint`` (cuts lineage; on a cluster this would be
      ``df.checkpoint()`` to a reliable store, the per-round resume
      point). Convergence is read from the (count, ``bit_xor`` of edge
      hashes) signature observed in that same checkpoint job, under a
      fixed observation name ``cc-round-{i}``; an unchanged signature
      ends the loop;
    * the decode — node dictionary, left join to the roots, window min
      of the member strings by root — runs once and the mapping is
      returned ``localCheckpoint``'ed, so callers that join it more
      than once (``canonicalize_triples`` broadcasts it as both the
      subject and the object map) do not replay it.

    Raises ``RuntimeError`` if the signature still changes after
    ``max_iter`` rounds: a partial iteration is not a partition into
    components, and decoding it would silently split components.
    """
    spark = edges.sparkSession
    obs = Observation("cc-edges")
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .observe(obs, *_signature(_node_id("src"), _node_id("dst")))
        .localCheckpoint(eager=True)
    )
    sig = obs.get
    if sig["n"] == 0:
        return spark.createDataFrame([], "node string, component string")
    if sig["n"] <= driver_threshold:
        mapping = _unionfind([(r["src"], r["dst"]) for r in e.collect()])
        return spark.createDataFrame(
            sorted(mapping.items()), "node string, component string"
        )
    # Dictionary-encoded iteration (TDB NodeId posture): the rounds
    # shuffle 16-byte (src, dst) long pairs instead of IRI strings —
    # component MEMBERSHIP is invariant under any total order of node
    # ids, so iterating on xxhash64 ids is sound; the min-STRING
    # representative (the semantics the driver path and the oracle use)
    # is re-elected per component at decode time.
    enc = e.select(_node_id("src").alias("src"), _node_id("dst").alias("dst"))
    for i in range(max_iter):
        obs = Observation(f"cc-round-{i}")
        enc = (
            _small_star(_large_star(enc))
            .observe(obs, *_signature(F.col("src"), F.col("dst")))
            .localCheckpoint(eager=True)
        )
        new_sig = obs.get
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; raise max_iter")
    # fixpoint: a star forest, one edge (node_id -> root_id) per non-root
    vals = e.select(F.col("src").alias("val")).union(e.select(F.col("dst").alias("val")))
    nodes = vals.distinct().select(_node_id("val").alias("node_id"), "val")
    roots = enc.select(F.col("src").alias("node_id"), F.col("dst").alias("root_id"))
    named = nodes.join(roots, "node_id", "left").select(
        F.coalesce("root_id", "node_id").alias("root_id"), F.col("val").alias("node"))
    return named.select(
        "node", F.min("node").over(Window.partitionBy("root_id")).alias("component")
    ).localCheckpoint(eager=True)


def sameas_edges(triples: DataFrame) -> DataFrame:
    return (
        triples.where(
            (F.col("p_val") == TM.OWL_SAMEAS)
            & (F.col("s_kind") == "iri")
            & (F.col("o_kind") == "iri")
        )
        .select(F.col("s_val").alias("src"), F.col("o_val").alias("dst"))
        .distinct()
    )


def present_rep_dim(mentions: DataFrame, gazetteer: dict | None = None) -> DataFrame:
    """(surface, representative-IRI) dimension for the surfaces PRESENT
    in the mention table — the exact mapping the data-derived sameAs
    closure produces, without scanning the triple table.

    Subtlety this encodes (caught by a fresh-seed verify run): the
    component representative is the lexicographic min of the members
    that OCCUR IN THE DATA, not of the full gazetteer component — a
    full-gazetteer mapping can elect a representative IRI that never
    occurs (e.g. component {new_york, new_york_city, nyc} with only
    'NYC' and 'New York City' in the corpus: data rep = new_york_city,
    full-gazetteer rep = new_york). The emitted sameAs edges are
    exactly {(iri(s), iri(canonical(s))) : s present}, so union-find
    over those — seeded from the distinct present surfaces — is
    identical to the generic ``connected_components(sameas_edges(raw))``.

    Cost model: the distinct-surface set is bounded by the gazetteer
    (mentions only ever contain gazetteer surfaces), so the collect is
    O(|gazetteer|) regardless of corpus size; ``mentions`` is persisted
    by the callers, so the job this triggers is the same extraction
    materialization the main pass needs anyway.
    """
    spark = mentions.sparkSession
    present = sorted(
        r["surface"] for r in mentions.select("surface").distinct().collect()
    )
    rows = present_rep_rows(present, gazetteer)
    return spark.createDataFrame(rows, "surface string, rep string")


def present_rep_rows(present: list[str],
                     gazetteer: dict | None = None) -> list[tuple[str, str]]:
    """Pure-Python core of :func:`present_rep_dim`: (surface, rep)
    pairs for a given present-surface list — the election both
    construction functions (:func:`construct_incremental` and its
    encoded twin) fold with."""
    from jena_spark.gazetteer import DEFAULT_GAZETTEER, validate_gazetteer

    s2c = validate_gazetteer(gazetteer or DEFAULT_GAZETTEER)
    present = sorted(present)
    edges = [
        (TM.entity_iri(s), TM.entity_iri(s2c[s]))
        for s in present
        if TM.entity_iri(s) != TM.entity_iri(s2c[s])
    ]
    comp = _unionfind(edges)
    return [(s, comp.get(TM.entity_iri(s), TM.entity_iri(s))) for s in present]


def canonicalize_triples(triples: DataFrame, mapping: DataFrame | None = None) -> DataFrame:
    """Rewrite IRI subjects/objects to component representatives.

    The mapping is broadcast: it covers only entity IRIs participating
    in equivalences — orders of magnitude smaller than the triple set.
    Self-referential sameAs triples vanish after rewriting (closure
    semantics, cf. oracle).

    Shuffle design (input contract: ``triples`` is already a set, which
    :func:`jena_spark.pipeline.extract.raw_triples` guarantees by
    construction): rewriting can only create duplicates among rows that
    touch an equivalence component — i.e. rows whose subject or object
    IRI has a mapping entry (the mapping self-maps representatives, so
    "hit" ⇔ "in some component"). Untouched rows cannot equal a
    rewritten row (rewritten rows carry a component IRI in the rewritten
    position; untouched rows by definition contain none), so only the
    touched fraction is dedup-shuffled and the bulk of the table streams
    through with no shuffle at all.
    """
    if mapping is None:
        mapping = connected_components(sameas_edges(triples))
    # lineage columns are carried when present (the pipeline path) and
    # simply absent for bare 7-column Graph-API frames (e.g. the output
    # of inference.owl_functional_sameas unioned onto a loaded graph)
    lineage = [c for c in ("graph", "conv_id") if c in triples.columns]
    s_map = F.broadcast(mapping.withColumnRenamed("node", "s_val")
                        .withColumnRenamed("component", "s_canon"))
    o_map = F.broadcast(mapping.withColumnRenamed("node", "o_val")
                        .withColumnRenamed("component", "o_canon"))
    joined = (
        triples.join(s_map, ["s_val"], "left")
        .join(o_map, ["o_val"], "left")
        .select(
            F.col("s_kind"),
            F.when(F.col("s_kind") == "iri", F.coalesce("s_canon", "s_val"))
            .otherwise(F.col("s_val")).alias("s_val"),
            F.col("p_val"),
            F.col("o_kind"),
            F.when(F.col("o_kind") == "iri", F.coalesce("o_canon", "o_val"))
            .otherwise(F.col("o_val")).alias("o_val"),
            F.col("o_datatype"), F.col("o_lang"),
            *[F.col(c) for c in lineage],
            (
                ((F.col("s_kind") == "iri") & F.col("s_canon").isNotNull())
                | ((F.col("o_kind") == "iri") & F.col("o_canon").isNotNull())
            ).alias("_touched"),
        )
        .where(~((F.col("p_val") == TM.OWL_SAMEAS) & (F.col("s_val") == F.col("o_val"))))
    )
    untouched = joined.where(~F.col("_touched")).drop("_touched")
    # Deterministic survivor columns (CLAUDE.md invariant): duplicates
    # can only arise among rows rewritten to the same canonical IRI; we
    # aggregate the carried lineage columns with min() instead of
    # keeping an arbitrary dropDuplicates survivor, so re-runs are
    # byte-identical even in graph/conv_id. (In the current emission
    # rules duplicates always share conv_id — the turn bnode is
    # conv-scoped — but min() makes that a theorem, not an accident.)
    touched = joined.where(F.col("_touched")).drop("_touched")
    if lineage:
        touched = touched.groupBy(*TM.TERM_COLS).agg(
            *[F.min(c).alias(c) for c in lineage])
    else:
        touched = touched.dropDuplicates(TM.TERM_COLS)
    return untouched.unionByName(touched)


def _dedup_canon_mentions(mentions: DataFrame,
                          rep_dim: DataFrame) -> DataFrame:
    """``distinct(conv_id, turn_idx, rep)`` with the rep IRI STRING
    replaced by its 8-byte node id DURING the shuffle — the widest
    shuffle of the whole construction moves ``(conv_id, turn_idx,
    rep_id:long)`` instead of carrying a ~50-70 B entity IRI per row,
    and the string rematerializes from a broadcast dim AFTER the
    exchange (BroadcastHashJoin — map-side, no second shuffle).

    The id is :func:`jena_spark.pipeline.encode.term_id_col` over the
    iri term — the SAME function that assigns ``o_id`` in the encoded
    store, so the encoded path's dedup key and this one are the same
    value. No injectivity check runs on ``rep_ids`` during a build: two
    reps sharing an xxhash64 id would silently cross their mention
    edges here (the join back fans each id out to both reps). The check
    that catches such a collision is ``encode.assert_injective`` over a
    node dictionary deduplicated by term content
    (``encode.node_dictionary``), run outside the build. Without a
    collision the dim is a bijection and the output is row-identical
    to the direct string distinct, preserving the fused==generic
    invariant."""
    rep_ids = rep_dim.select("rep").distinct().withColumn(
        "rep_id", term_id_col(F.lit("iri"), F.col("rep"),
                              F.lit(None).cast("string"),
                              F.lit(None).cast("string")))
    surf_dim = rep_dim.join(F.broadcast(rep_ids), "rep") \
        .select("surface", "rep_id")
    return (
        mentions.join(F.broadcast(surf_dim), "surface")
        .select("conv_id", "turn_idx", "rep_id")
        .distinct()
        .join(F.broadcast(rep_ids), "rep_id")
        .select("conv_id", "turn_idx", "rep")
    )


def construct_canonical(
    transcripts: DataFrame, gazetteer: dict | None = None,
    mentions: DataFrame | None = None,
) -> DataFrame:
    """One-shot canonical construction: the fold of ``transcripts``
    onto no store (see :func:`construct_incremental`)."""
    return construct_incremental(None, transcripts, gazetteer, mentions)


def construct_incremental(
    existing: DataFrame | None, new_transcripts: DataFrame,
    gazetteer: dict | None = None, mentions: DataFrame | None = None,
) -> DataFrame:
    """Fold a NEW batch of conversations into a canonical triple table
    without reconstructing it — the operation a deployed KG pipeline
    runs per arriving partition of a 10^12-turn corpus. With
    ``existing=None`` the fold is the one-shot build
    (:func:`construct_canonical`), as ``Graph.add`` onto an empty graph
    is building a Model: there is one construction path, so the invariant

        ``construct_incremental(construct_canonical(A), B)``
        is row-identical to ``construct_canonical(A ∪ B)``

    holds by construction (asserted by ``tests/test_incremental.py`` on
    fresh seeds, including a forced re-election).

    Contract: ``existing`` is None or this function's own output, and
    ``new_transcripts`` contains only conv_ids not present in it
    (append-only batches; amending a conversation is a DELETE +
    re-insert through the update ops).

    The batch's emission is row-identical to
    ``canonicalize_triples(raw_triples(new_transcripts))`` (asserted at
    two scale factors by ``tests/test_materialize.py``) but shaped for
    throughput: every shuffle moves *pre-stringification* narrow rows,
    and every output string is materialized exactly once, in the final
    narrow emit. It rests on three theorems of the emission + rewrite
    rules:

    1. *Structure triples are never touched*: their IRIs live in
       ``NS_CONV``; equivalence components contain only ``NS_ENTITY``
       IRIs. So the bulk branch streams straight to the sink — no
       rewrite join, no dedup, scanned once.
    2. *Every emitted sameAs row dies in canonicalization*: raw sameAs
       rows are (surface_iri, canonical_iri) pairs inside one
       equivalence component, so the rewrite maps both ends to the same
       representative and the self-loop filter removes the row. The
       fused path simply never emits them.
    3. *Canonical mention edges are exactly
       distinct(conv, turn, rep(surface))*: the rewrite only changes
       the object (surface -> representative IRI); the subject bnode is
       injective in (conv_id, turn_idx). So the post-rewrite dedup of
       ~250 B string triples collapses to a dedup of 3 narrow columns
       BEFORE any IRI/bnode string is built. (The surface -> rep map
       is :func:`present_rep_rows` — union-find over the sameAs edges
       the PRESENT surfaces actually emit, which is exactly the generic
       data-derived closure.)

    Canonical labels are (rep(surface), rdfs:label, surface), one per
    present surface, built from the in-memory election rows (tiny).

    At 10^12 turns this removes: one full-width persist of the raw
    table, two full rewrite joins, and a wide post-rewrite dedup
    shuffle — leaving one narrow mention shuffle + one narrow dedup as
    the only wide operations in the whole construction.

    Why folding onto a store is sound — three structural facts:

    1. *Components never merge.* A gazetteer component is a star
       (``gazetteer.validate_gazetteer``): every present member links
       to its hub, so all present members of a star are one component
       regardless of WHICH members are present. New surfaces only add
       nodes — so the only cross-batch effect is representative
       re-election (the elected min can change), never a merge of two
       existing components.
    2. *The KG is self-describing.* Every present surface owns exactly
       one ``(rep, rdfs:label, surface)`` row, so the prior batch's
       present-surface set AND its surface→rep election are readable
       from the label slice — no side state to carry between batches.
       (That slice is gazetteer-bounded: O(|gazetteer|) rows via a
       pushed ``p_val =`` filter, independent of corpus size.)
    3. *Re-election rewrites are collision-free.* Old reps are unique
       per component and the old→new map is per-component injective, so
       rewriting the touched slice can never create a duplicate of an
       untouched row (different components, different IRIs) nor of
       another touched row (mention edges are unique per (turn,
       component); labels per surface). No dedup shuffle at all.

    Cost shape at scale: the common batch (no re-election) is a PURE
    APPEND — the existing table is returned untouched and only the new
    batch's narrow extraction runs. A re-election batch additionally
    splits the existing table on a pushed ``isin(changed-reps)``
    predicate (parquet row-group pruning applies; with the edge table
    bucketed by object this touches only the affected buckets) and
    broadcast-rewrites the touched fraction. With no store there is no
    label slice to read and nothing to re-elect.
    """
    from jena_spark.pipeline.extract import (
        _null_s,
        extract_mentions,
        turn_structure_triples,
    )

    spark = new_transcripts.sparkSession
    # normalize to the canonical construction schema — storage-side
    # columns (bucket, part_id lineage) are re-derived by the writer
    out_cols = list(TM.TERM_COLS) + ["graph", "conv_id"]

    if mentions is None:
        # Caller may pass an already-persisted mention frame (e.g. the
        # query registry shares one between this path and raw_triples
        # so the extraction UDF runs once per corpus).
        mentions = extract_mentions(new_transcripts, gazetteer).persist()
    present_b = sorted(
        r["surface"] for r in mentions.select("surface").distinct().collect()
    )

    # fact 2: recover the prior election from the label slice
    old_rep = {}
    if existing is not None:
        existing = existing.select(out_cols)
        label_rows = (
            existing.where((F.col("p_val") == TM.RDFS_LABEL)
                           & (F.col("o_kind") == "literal"))
            .select("s_val", "o_val").collect()
        )
        old_rep = {r["o_val"]: r["s_val"] for r in label_rows}

    present = sorted(set(old_rep) | set(present_b))
    rep_rows = present_rep_rows(present, gazetteer)
    new_rep = dict(rep_rows)

    changed = sorted({(old_rep[s], new_rep[s]) for s in old_rep
                      if old_rep[s] != new_rep[s]})
    if changed:
        old_list = [o for o, _ in changed]
        remap = F.create_map(
            *[F.lit(x) for pair in changed for x in pair])
        s_hit = (F.col("s_kind") == "iri") & F.col("s_val").isin(old_list)
        o_hit = (F.col("o_kind") == "iri") & F.col("o_val").isin(old_list)
        untouched = existing.where(~(s_hit | o_hit))
        rewritten = existing.where(s_hit | o_hit).select(
            F.col("s_kind"),
            F.when(s_hit, remap[F.col("s_val")])
            .otherwise(F.col("s_val")).alias("s_val"),
            F.col("p_val"), F.col("o_kind"),
            F.when(o_hit, remap[F.col("o_val")])
            .otherwise(F.col("o_val")).alias("o_val"),
            *[F.col(c) for c in out_cols
              if c not in ("s_kind", "s_val", "p_val", "o_kind", "o_val")],
        )
        kept = untouched.unionByName(rewritten.select(out_cols))
    else:
        kept = existing

    structure = turn_structure_triples(new_transcripts)
    rep_dim = spark.createDataFrame(rep_rows, "surface string, rep string")
    canon_mentions = _dedup_canon_mentions(mentions, rep_dim)
    edges = canon_mentions.select(
        F.lit("bnode").alias("s_kind"), TM.turn_bnode_col().alias("s_val"),
        F.lit(TM.P_MENTIONS).alias("p_val"),
        F.lit("iri").alias("o_kind"), F.col("rep").alias("o_val"),
        _null_s().alias("o_datatype"), _null_s().alias("o_lang"),
        _null_s().alias("graph"), F.col("conv_id"),
    )
    new_surfaces = [(new_rep[s], s) for s in present_b if s not in old_rep]
    labels = spark.createDataFrame(
        new_surfaces, "rep string, surface string"
    ).select(
        F.lit("iri").alias("s_kind"), F.col("rep").alias("s_val"),
        F.lit(TM.RDFS_LABEL).alias("p_val"),
        F.lit("literal").alias("o_kind"), F.col("surface").alias("o_val"),
        _null_s().alias("o_datatype"), _null_s().alias("o_lang"),
        _null_s().alias("graph"), _null_s().alias("conv_id"),
    )
    batch = (
        structure.select(out_cols)
        .unionByName(edges.select(out_cols))
        .unionByName(labels.select(out_cols))
    )
    return batch if kept is None else kept.unionByName(batch)
