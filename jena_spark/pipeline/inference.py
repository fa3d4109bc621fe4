"""RDFS forward-chaining inference (rule reasoner parity beyond sameAs).

Reference: Jena's RDFS rule set (``jena-core/src/main/resources/etc/
rdfs.rules``, evaluated by ``reasoner/rulesys/FBRuleReasoner.java``) —
the ρdf core implemented here:

  rdfs5 : (p1 subPropertyOf p2), (p2 subPropertyOf p3) -> (p1 subPropertyOf p3)
  rdfs7 : (p1 subPropertyOf p2), (s p1 o)              -> (s p2 o)
  rdfs2 : (p domain c), (s p o)                        -> (s rdf:type c)
  rdfs3 : (p range  c), (s p o), o iri/bnode           -> (o rdf:type c)
  rdfs11: (c1 subClassOf c2), (c2 subClassOf c3)       -> (c1 subClassOf c3)
  rdfs9 : (c1 subClassOf c2), (s rdf:type c1)          -> (s rdf:type c2)

Spark-first design (100 TB posture): the schema (TBox — subClassOf /
subPropertyOf / domain / range triples) is orders of magnitude smaller
than the instance data, so its transitive closures are computed
driver-side (union of reachability over a dict-graph) and BROADCAST;
every instance rule is then a broadcast join — zero shuffles beyond the
final set-union dedup of derived triples. This is the classic
stratification: with a CLOSED TBox, rdfs7 -> {rdfs2, rdfs3} -> rdfs9
applied in sequence reaches the fixpoint in one pass for schemas where
rdf:type itself is not sub-property-related (Jena's hybrid reasoner
makes the same split: TBox saturation, then ABox rule application).
A guard raises if rdf:type appears as a subPropertyOf member so the
assumption fails loudly rather than silently under-entailing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jena_spark import terms as TM
from jena_spark.pipeline.extract import _null_s

RDFS = "http://www.w3.org/2000/01/rdf-schema#"
RDFS_SUBCLASS = RDFS + "subClassOf"
RDFS_SUBPROP = RDFS + "subPropertyOf"
RDFS_DOMAIN = RDFS + "domain"
RDFS_RANGE = RDFS + "range"

_SCHEMA_PREDS = [RDFS_SUBCLASS, RDFS_SUBPROP, RDFS_DOMAIN, RDFS_RANGE]


def _transitive_close(pairs: set[tuple[str, str]]) -> set[tuple[str, str]]:
    """Driver-side transitive closure of a tiny relation (TBox):
    adjacency-list BFS per source node — O(V·E), not the O(n²)-per-pass
    pairwise scan."""
    adj: dict[str, set[str]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
    closed: set[tuple[str, str]] = set()
    for src in adj:
        seen: set[str] = set()
        stack = list(adj[src])
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            stack.extend(adj.get(n, ()))
        closed.update((src, t) for t in seen)
    return closed


_TBOX_LIMIT = 5_000_000


def _schema(triples: DataFrame) -> dict[str, list[tuple[str, str]]]:
    """Collect the TBox (schema-predicate triples) to the driver.

    Guarded: the broadcast-TBox strategy assumes the schema is
    driver-size. A dataset asserting rdfs:subClassOf at ABox scale
    (e.g. a loaded million-class ontology DAG) fails loudly here with
    a pointer to the distributed alternative instead of melting the
    driver."""
    sel = triples.where(F.col("p_val").isin(_SCHEMA_PREDS)).select(
        "p_val", "s_val", "o_val"
    )
    rows = sel.limit(_TBOX_LIMIT + 1).collect()
    if len(rows) > _TBOX_LIMIT:
        raise ValueError(
            f"schema-predicate triple count exceeds {_TBOX_LIMIT:,}: the "
            "broadcast-TBox stratified reasoner assumes a driver-size "
            "schema; close subClassOf/subPropertyOf with the encoded "
            "distributed closure (queries.paths.one_or_more) instead"
        )
    out: dict[str, list[tuple[str, str]]] = {p: [] for p in _SCHEMA_PREDS}
    for r in rows:
        out[r["p_val"]].append((r["s_val"], r["o_val"]))
    return out


def rdfs_closure(triples: DataFrame) -> DataFrame:
    """Input triples + all ρdf-entailed triples (set semantics).

    Derived triples carry NULL graph/conv_id lineage columns when the
    input has them (they belong to no single conversation — same policy
    as the label/sameAs emission rules).
    """
    spark = triples.sparkSession
    schema = _schema(triples)

    sub_prop = _transitive_close(set(schema[RDFS_SUBPROP]))
    sub_class = _transitive_close(set(schema[RDFS_SUBCLASS]))
    if any(TM.RDF_TYPE in e for e in sub_prop):
        raise ValueError(
            "rdf:type participates in subPropertyOf — the stratified "
            "single-pass evaluation is unsound for this schema; "
            "saturate with an iterative fixpoint instead"
        )

    def _dim(pairs, a: str, b: str) -> DataFrame:
        rows = sorted(pairs) or None
        if rows is None:
            return spark.createDataFrame([], f"{a} string, {b} string")
        return spark.createDataFrame(rows, f"{a} string, {b} string")

    # Hints live at the JOIN sites below — wrapping the dims here makes
    # the union/select consumers log "hint not part of a join" warnings.
    sp = _dim(sub_prop, "p_sub", "p_super")
    sc = _dim(sub_class, "c_sub", "c_super")
    dom = _dim(set(schema[RDFS_DOMAIN]), "p_dom", "c_dom")
    rng = _dim(set(schema[RDFS_RANGE]), "p_rng", "c_rng")

    base = triples.select(*TM.TERM_COLS)

    # rdfs5/rdfs11 on the closed TBox dims -> new schema triples
    schema_derived = (
        sp.select(
            F.lit("iri").alias("s_kind"), F.col("p_sub").alias("s_val"),
            F.lit(RDFS_SUBPROP).alias("p_val"),
            F.lit("iri").alias("o_kind"), F.col("p_super").alias("o_val"),
            _null_s().alias("o_datatype"), _null_s().alias("o_lang"),
        )
        .unionByName(sc.select(
            F.lit("iri").alias("s_kind"), F.col("c_sub").alias("s_val"),
            F.lit(RDFS_SUBCLASS).alias("p_val"),
            F.lit("iri").alias("o_kind"), F.col("c_super").alias("o_val"),
            _null_s().alias("o_datatype"), _null_s().alias("o_lang"),
        ))
    )

    # rdfs7: property inheritance (broadcast join on p_val)
    inherited = (
        base.join(F.broadcast(sp), base["p_val"] == sp["p_sub"])
        .select("s_kind", "s_val", F.col("p_super").alias("p_val"),
                "o_kind", "o_val", "o_datatype", "o_lang")
    )
    # abox feeds FOUR consumers (domain typing, range typing, the type
    # slice and the final union); Spark replays the whole union+join
    # subtree once per consumer (65 scans of the base table measured at
    # sf0.1) — checkpoint it so each consumer reads materialized blocks.
    # On a cluster this would be .checkpoint() to reliable storage.
    abox = base.unionByName(inherited).localCheckpoint(eager=False)

    # rdfs2/rdfs3: domain/range typing over base + inherited triples
    typed_dom = (
        abox.join(F.broadcast(dom), abox["p_val"] == dom["p_dom"])
        .select("s_kind", "s_val", F.lit(TM.RDF_TYPE).alias("p_val"),
                F.lit("iri").alias("o_kind"), F.col("c_dom").alias("o_val"),
                _null_s().alias("o_datatype"), _null_s().alias("o_lang"))
    )
    typed_rng = (
        abox.where(F.col("o_kind").isin("iri", "bnode"))
        .join(F.broadcast(rng), abox["p_val"] == rng["p_rng"])
        .select(F.col("o_kind").alias("s_kind"), F.col("o_val").alias("s_val"),
                F.lit(TM.RDF_TYPE).alias("p_val"),
                F.lit("iri").alias("o_kind"), F.col("c_rng").alias("o_val"),
                _null_s().alias("o_datatype"), _null_s().alias("o_lang"))
    )
    # domain/range typings feed both the rdfs9 input and the derived
    # union — checkpoint so they compute once
    typed_new = typed_dom.unionByName(typed_rng).localCheckpoint(eager=False)
    types = abox.where(F.col("p_val") == TM.RDF_TYPE).unionByName(typed_new)

    # rdfs9: class inheritance over ALL type triples (closed subClassOf)
    super_types = (
        types.join(F.broadcast(sc), types["o_val"] == sc["c_sub"])
        .select("s_kind", "s_val", "p_val",
                F.lit("iri").alias("o_kind"), F.col("c_super").alias("o_val"),
                _null_s().alias("o_datatype"), _null_s().alias("o_lang"))
    )

    # Touched-only dedup (same trick as canonicalize): ``base`` is
    # already a set, so only the DERIVED slice needs deduplication —
    # against itself, then against base (null-safe: datatype/lang keys
    # are NULL on most derived rows). At scale this shuffles the
    # entailed fraction instead of the whole base∪derived table.
    # (Measured negative result: coalescing this union before the dedup
    # exchange to cut its 1472 tiny map tasks is SLOWER — the narrow
    # merge serializes the branch scans inside fewer tasks and races
    # the lazy checkpoint's block materialization. Keep the wide union.)
    derived_all = (
        inherited.unionByName(schema_derived)
        .unionByName(typed_new).unionByName(super_types)
        .dropDuplicates(TM.TERM_COLS)
    )
    d, b = derived_all.alias("d"), base.alias("b")
    cond = F.lit(True)
    for c in TM.TERM_COLS:
        cond = cond & F.col(f"d.{c}").eqNullSafe(F.col(f"b.{c}"))
    new_only = d.join(b, cond, "left_anti")
    return base.unionByName(new_only)


# --- OWL property rules (rule reasoner, owl-fb.rules) -----------------------

OWL = "http://www.w3.org/2002/07/owl#"
OWL_INVERSE = OWL + "inverseOf"
OWL_SYMMETRIC = OWL + "SymmetricProperty"
OWL_TRANSITIVE = OWL + "TransitiveProperty"


def owl_property_closure(triples: DataFrame, max_iter: int = 30) -> DataFrame:
    """OWL property-characteristic rules
    (``jena-core/src/main/resources/etc/owl-fb.rules`` — inverseOf,
    SymmetricProperty, TransitiveProperty; sameAs is handled by the
    canonicalization CC pass, §2.12):

      inverseOf:  (p owl:inverseOf q), (s p o) -> (o q s)   [both ways]
      symmetric:  (p rdf:type owl:SymmetricProperty), (s p o) -> (o p s)
      transitive: (p rdf:type owl:TransitiveProperty): p-closure

    Scale shape: the property schema is driver-size (broadcast/collect);
    inverse/symmetric are single narrow emissions; the transitive rule
    runs the ENCODED semi-naive closure per declared transitive
    property (``queries/paths.one_or_more`` — id-tuple iteration).

    Fixpoint: a single pre-closure stratification round is NOT enough
    (r2 advice — with p transitive and p owl:inverseOf q, the inverse
    entailments of transitively-derived p-edges were missing). Like
    Jena's FBRuleReasoner the rules now iterate to fixpoint:
    {inverse, symmetric} applied, then per-property transitive closure,
    repeated until the triple-set signature is stable. Termination:
    characteristics are never derived (the rule heads emit only
    edge triples), the rules are monotone, and the universe of
    derivable edges is finite — in practice 2 rounds plus one
    confirming round (the closure re-runs start from an already-closed
    edge set, so their semi-naive frontiers empty immediately).
    """
    from jena_spark.queries.paths import one_or_more

    spark = triples.sparkSession
    base = triples.select(*TM.TERM_COLS)

    inv_pairs = [
        (r["s_val"], r["o_val"])
        for r in base.where(
            (F.col("p_val") == OWL_INVERSE)
            & (F.col("s_kind") == "iri") & (F.col("o_kind") == "iri")
        ).select("s_val", "o_val").collect()
    ]
    sym_props = [
        r["s_val"]
        for r in base.where(
            (F.col("p_val") == TM.RDF_TYPE) & (F.col("o_val") == OWL_SYMMETRIC)
        ).select("s_val").collect()
    ]
    trans_props = [
        r["s_val"]
        for r in base.where(
            (F.col("p_val") == TM.RDF_TYPE) & (F.col("o_val") == OWL_TRANSITIVE)
        ).select("s_val").collect()
    ]

    inv_map = inv_pairs + [(q, p) for p, q in inv_pairs]  # symmetric rule pair
    inv_dim = (
        spark.createDataFrame(inv_map, "p string, q string") if inv_map else None
    )

    def _apply_rules(g: DataFrame) -> DataFrame:
        """One round: g ∪ inverse ∪ symmetric ∪ transitive closures."""
        out = g
        if inv_dim is not None:
            out = out.unionByName(
                g.join(F.broadcast(inv_dim), g["p_val"] == F.col("p"))
                .select(F.col("o_kind").alias("s_kind"), F.col("o_val").alias("s_val"),
                        F.col("q").alias("p_val"),
                        F.col("s_kind").alias("o_kind"), F.col("s_val").alias("o_val"),
                        F.lit(None).cast("string").alias("o_datatype"),
                        F.lit(None).cast("string").alias("o_lang"))
            )
        if sym_props:
            out = out.unionByName(
                g.where(F.col("p_val").isin(sym_props))
                .select(F.col("o_kind").alias("s_kind"), F.col("o_val").alias("s_val"),
                        "p_val",
                        F.col("s_kind").alias("o_kind"), F.col("s_val").alias("o_val"),
                        F.lit(None).cast("string").alias("o_datatype"),
                        F.lit(None).cast("string").alias("o_lang"))
            )
        out = out.dropDuplicates(TM.TERM_COLS)
        closures = []
        for p in trans_props:
            edges = out.where(F.col("p_val") == p).select(
                F.col("s_kind").alias("src_kind"), F.col("s_val").alias("src_val"),
                F.col("o_kind").alias("dst_kind"), F.col("o_val").alias("dst_val"),
            )
            closed = one_or_more(edges, max_iter=max_iter)
            closures.append(
                closed.select(
                    F.col("src_kind").alias("s_kind"), F.col("src_val").alias("s_val"),
                    F.lit(p).alias("p_val"),
                    F.col("dst_kind").alias("o_kind"), F.col("dst_val").alias("o_val"),
                    F.lit(None).cast("string").alias("o_datatype"),
                    F.lit(None).cast("string").alias("o_lang"),
                )
            )
        for c in closures:
            out = out.unionByName(c)
        return out.dropDuplicates(TM.TERM_COLS)

    def _sig(g: DataFrame) -> tuple[int, int]:
        row = g.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64(*TM.TERM_COLS)), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    out = base.localCheckpoint(eager=False)
    sig = _sig(out)
    for _ in range(max_iter):
        out = _apply_rules(out).localCheckpoint(eager=False)
        new_sig = _sig(out)
        if new_sig == sig:
            break
        sig = new_sig
    return out


# --- FunctionalProperty / InverseFunctionalProperty -> owl:sameAs -----------

OWL_FUNCTIONAL = OWL + "FunctionalProperty"
OWL_INVERSE_FUNCTIONAL = OWL + "InverseFunctionalProperty"

_DECL_LIMIT = 1_000_000


def _declared_props(triples: DataFrame, characteristic: str) -> set[str]:
    """Property IRIs declared with ``characteristic`` (driver-size TBox
    collect, guarded like :func:`_schema`)."""
    rows = (
        triples.where(
            (F.col("p_val") == TM.RDF_TYPE) & (F.col("o_val") == characteristic)
        )
        .select("s_val").distinct().limit(_DECL_LIMIT + 1).collect()
    )
    if len(rows) > _DECL_LIMIT:
        raise ValueError(
            f"more than {_DECL_LIMIT:,} properties declared "
            f"<{characteristic}> — the broadcast property-set strategy "
            "assumes a driver-size schema")
    return {r["s_val"] for r in rows}


def owl_functional_sameas(triples: DataFrame) -> DataFrame:
    """owl:sameAs recognition from property characteristics — the
    forward instance-equality rules of the reference's OWL rule set
    (``jena-core/src/main/resources/etc/owl-fb.rules:458-475``):

      fp1:  (p a owl:FunctionalProperty), (a p b), (a p c),
            b,c non-literal, b != c                  -> (b owl:sameAs c)
      ifp1: (p a owl:InverseFunctionalProperty), (a p b), (c p b),
            a != c                                   -> (a owl:sameAs c)

    plus the subPropertyOf propagation rules (fpEarlyProp /
    ifpEarlyProp: a sub-property of a functional property is
    functional), evaluated on the driver-side TBox closure like the
    rest of this module.

    This is the entity-resolution primitive of the construction
    pipeline: two accounts sharing an inverse-functional key (an email,
    an external id) are the same individual; feed the output into
    :func:`jena_spark.pipeline.canonicalize.connected_components` /
    ``canonicalize_triples`` to rewrite the graph onto representatives.

    Spark-first shape, 100 TB posture: the reference's rule engine
    enumerates O(k^2) pairs per witness group; here each group —
    keyed (subject, p) for fp1, (p, object) for ifp1 — elects its min
    member with ONE partial-aggregatable ``min`` (map-side combine),
    and members join the group representative back on the same key
    (one shuffle, exchange reused), emitting the canonical STAR
    ``(member owl:sameAs rep)``. The star's symmetric-transitive
    closure equals the closure of the reference's pairwise emission
    (both connect exactly the witness group), and star form is what
    the CC pass consumes anyway. Emitted rows carry NULL
    datatype/lang and inherit no lineage (same policy as the other
    derived-triple emitters)."""
    base = triples.select(*TM.TERM_COLS)
    spark = triples.sparkSession

    sub_prop = _transitive_close(set(_schema(triples)[RDFS_SUBPROP]))
    fp = _declared_props(base, OWL_FUNCTIONAL)
    ifp = _declared_props(base, OWL_INVERSE_FUNCTIONAL)

    def _lift_dim(declared: set[str]):
        """(asserted property q -> witness-group property p) pairs: the
        identity for declared properties plus the subPropertyOf lift —
        the second fp1/ifp1 rule forms match (a P b), (c Q b) with
        Q subPropertyOf P, i.e. a q-assertion witnesses under its
        functional super-property's group. Broadcast dimension
        (TBox-size)."""
        pairs = sorted(
            {(p, p) for p in declared}
            | {(q, p) for q, p in sub_prop if p in declared}
        )
        if not pairs:
            return None
        return spark.createDataFrame(pairs, "q string, p string")

    outs = []

    def _star(scan: DataFrame, keys: list[str], m_kind: str, m_val: str) -> DataFrame:
        # per-group min via a window, NOT groupBy + join-back: Spark
        # replays unshared subplans per consumer, so the join form
        # scans and shuffles the witness table twice (plus a
        # SortMergeJoin); the window is ONE shuffle on the group key
        # and one scan
        from pyspark.sql import Window

        member = F.struct(F.col(m_kind).alias("kind"), F.col(m_val).alias("val"))
        rep = F.min(member).over(Window.partitionBy(*keys))
        return (
            scan.withColumn("rep", rep)
            .where(member != F.col("rep"))
            .select(
                F.col(m_kind).alias("s_kind"), F.col(m_val).alias("s_val"),
                F.lit(TM.OWL_SAMEAS).alias("p_val"),
                F.col("rep.kind").alias("o_kind"), F.col("rep.val").alias("o_val"),
                _null_s().alias("o_datatype"), _null_s().alias("o_lang"),
            )
        )

    fp_dim = _lift_dim(fp)
    if fp_dim is not None:
        fp_scan = (
            base.where(F.col("o_kind") != "literal")
            .join(F.broadcast(fp_dim), base["p_val"] == F.col("q"))
            .select("s_kind", "s_val", F.col("p").alias("p_group"),
                    "o_kind", "o_val")
            .distinct()
        )
        outs.append(_star(fp_scan, ["s_kind", "s_val", "p_group"],
                          "o_kind", "o_val"))
    ifp_dim = _lift_dim(ifp)
    if ifp_dim is not None:
        # ifp1 has no notLiteral guard: a shared literal key (email,
        # external id) is the normal witness
        ifp_scan = (
            base.join(F.broadcast(ifp_dim), base["p_val"] == F.col("q"))
            .select(
                "s_kind", "s_val", F.col("p").alias("p_group"),
                "o_kind", "o_val",
                F.coalesce(F.col("o_datatype"), F.lit("")).alias("o_datatype"),
                F.coalesce(F.col("o_lang"), F.lit("")).alias("o_lang"),
            ).distinct()
        )
        outs.append(_star(
            ifp_scan, ["p_group", "o_kind", "o_val", "o_datatype", "o_lang"],
            "s_kind", "s_val"))
    if not outs:
        return base.limit(0)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.dropDuplicates(TM.TERM_COLS)
