"""Encoded (dictionary / NodeId) canonical construction — the TDB
storage posture on Spark.

Reference: TDB never materializes string triples. The store is a node
table (NodeId -> Node) plus triple indexes of fixed-width id-tuples
(``jena-tdb/.../store/NodeId.java:115-152``, node table + SPO/POS/OSP
``sys/Names.java:24-25``); queries run on ids and only final results
decode back (``QueryIteratorIdToNode.java``). This module gives the
construction pipeline the same shape:

* ``construct_incremental_encoded`` — the one construction path; the one-shot
  ``construct_canonical_encoded`` is its fold onto no store — emits
  the canonical triple set as ``(s_id, p_id, o_id)`` longs (8 B each
  vs ~80-230 B of term string), plus the node dictionary needed to
  decode. Ids are the content
  hashes of :mod:`jena_spark.pipeline.encode` (``xxhash64`` over the
  term fields) — allocator-free, any executor encodes any row.
* Decoding ``triples_enc`` through the dictionary with
  :func:`jena_spark.pipeline.encode.decode_triples` reproduces the
  string-level canonical triples byte-for-byte
  (``tests/test_materialize.py`` asserts equality with
  ``canonicalize_triples(raw_triples(...))`` — the oracle-checked
  path).

Why it matters at 10^12 turns: the triple table is the thing that gets
shuffled, bucketed, written and re-joined. At ~27 B/row instead of
~230 B/row, every downstream byte-bound operation (shuffle, cache,
scan, write) moves ~8x less; term strings exist exactly once, in the
node dictionary. This is also what restores *scaling* headroom on
byte-bound hardware: the string pipeline saturates memory bandwidth
long before it saturates cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jena_spark import terms as TM
from jena_spark.pipeline.encode import term_id_col
from jena_spark.pipeline.extract import _null_s


def _nid(kind, val, datatype=None, lang=None):
    """node id for (kind, val[, datatype, lang]) column expressions."""
    k = F.lit(kind) if isinstance(kind, str) else kind
    d = F.lit(datatype).cast("string") if datatype is None or isinstance(datatype, str) else datatype
    lg = F.lit(lang).cast("string") if lang is None or isinstance(lang, str) else lang
    return term_id_col(k, val, d, lg)


def _node_row(kind, val, datatype=None, lang=None):
    k = F.lit(kind) if isinstance(kind, str) else kind
    d = F.lit(datatype).cast("string") if datatype is None or isinstance(datatype, str) else datatype
    lg = F.lit(lang).cast("string") if lang is None or isinstance(lang, str) else lang
    return F.struct(
        _nid(k, val, d, lg).alias("node_id"),
        k.alias("kind"), val.alias("val"),
        d.alias("datatype"), lg.alias("lang"),
    )


def construct_canonical_encoded(
    transcripts: DataFrame, gazetteer: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One-shot encoded build: the fold of ``transcripts`` onto no store
    (see :func:`construct_incremental_encoded`)."""
    return construct_incremental_encoded(None, None, transcripts, gazetteer)


_PRED_ROWS = [
    (p,) for p in (TM.P_HAS_TURN, TM.P_TURN_INDEX, TM.P_ROLE, TM.P_TEXT,
                   TM.P_TOOL, TM.P_TS, TM.P_MENTIONS, TM.RDFS_LABEL)
]


def _p(p: str):
    return _nid("iri", F.lit(p))


def _t(s_id, p, o_id):
    return F.struct(s_id.alias("s_id"), _p(p).alias("p_id"), o_id.alias("o_id"))


def _structure_slices(transcripts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(structure_enc, structure_nodes) for one transcript batch —
    narrow explodes, unique by construction."""
    conv_iri = TM.conv_iri_col(F.col("conv_id"))
    turn_bnode = TM.turn_bnode_col()
    idx_lex = TM.canon_integer_col(F.col("turn_idx"))
    ts_lex = TM.canon_datetime_col(F.col("ts"))

    conv_id_ = _nid("iri", conv_iri)
    turn_id_ = _nid("bnode", turn_bnode)

    elems = F.array(
        _t(conv_id_, TM.P_HAS_TURN, turn_id_),
        _t(turn_id_, TM.P_TURN_INDEX, _nid("literal", idx_lex, TM.XSD_INTEGER)),
        _t(turn_id_, TM.P_ROLE, _nid("literal", F.col("role"))),
        _t(turn_id_, TM.P_TEXT, _nid("literal", F.col("text"))),
        F.when(F.col("tool").isNotNull(),
               _t(turn_id_, TM.P_TOOL, _nid("literal", F.col("tool")))),
        _t(turn_id_, TM.P_TS, _nid("literal", ts_lex, TM.XSD_DATETIME)),
    )
    structure_enc = (
        transcripts.select(F.col("conv_id"), F.explode(elems).alias("t"))
        .where(F.col("t").isNotNull())
        .select("t.s_id", "t.p_id", "t.o_id", "conv_id")
    )

    node_elems = F.array(
        _node_row("iri", conv_iri),
        _node_row("bnode", turn_bnode),
        _node_row("literal", idx_lex, TM.XSD_INTEGER),
        _node_row("literal", F.col("role")),
        _node_row("literal", F.col("text")),
        F.when(F.col("tool").isNotNull(), _node_row("literal", F.col("tool"))),
        _node_row("literal", ts_lex, TM.XSD_DATETIME),
    )
    structure_nodes = (
        transcripts.select(F.explode(node_elems).alias("n"))
        .where(F.col("n").isNotNull())
        .select("n.node_id", "n.kind", "n.val", "n.datatype", "n.lang")
    )
    return structure_enc, structure_nodes


def _mention_slices(
    mentions: DataFrame, rep_dim: DataFrame, label_surfaces: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(edges_enc, labels_enc, entity_nodes) — canonical mention edges
    for the batch under ``rep_dim``'s election; label triples and
    entity-node rows for exactly ``label_surfaces`` (the surfaces the
    store does not hold yet: every present one when there is no
    store)."""
    # the widest shuffle runs FULLY on encoded ids: the broadcast dim
    # assigns the final o_id (node id of the rep IRI) BEFORE the
    # distinct, so the exchange moves (conv_id, turn_idx, long)
    # instead of carrying the entity IRI string — and no join-back is
    # needed at all, o_id IS the output column.
    rep_oid = rep_dim.select(
        "surface", _nid("iri", F.col("rep")).alias("o_id"))
    canon_mentions = (
        mentions.join(F.broadcast(rep_oid), "surface")
        .select("conv_id", "turn_idx", "o_id")
        .distinct()
    )
    edges_enc = canon_mentions.select(
        _nid("bnode", TM.turn_bnode_col()).alias("s_id"),
        _p(TM.P_MENTIONS).alias("p_id"),
        F.col("o_id"),
        F.col("conv_id"),
    )
    labels_enc = label_surfaces.select(
        _nid("iri", F.col("rep")).alias("s_id"),
        _p(TM.RDFS_LABEL).alias("p_id"),
        _nid("literal", F.col("surface")).alias("o_id"),
        _null_s().alias("conv_id"),
    )
    entity_nodes = (
        label_surfaces.select(_node_row("iri", F.col("rep")).alias("n"))
        .unionByName(
            label_surfaces.select(_node_row("literal", F.col("surface")).alias("n")))
        .select("n.node_id", "n.kind", "n.val", "n.datatype", "n.lang")
    )
    return edges_enc, labels_enc, entity_nodes


def construct_incremental_encoded(
    triples_enc: DataFrame | None, node_dict: DataFrame | None,
    new_transcripts: DataFrame, gazetteer: dict | None = None,
    mentions: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The ENCODED store's only construction path (the default deployment
    format): fold a new batch of conversations into
    ``(triples_enc, node_dict)``, or, with both None, build the store
    from the batch alone (:func:`construct_canonical_encoded`). Id-space
    twin of :func:`jena_spark.pipeline.canonicalize.construct_incremental`
    — same emission theorems and the same three structural facts
    (components never merge; the store is self-describing via its label
    slice; re-election rewrites are collision-free), so the invariant is
    the same:

        incremental(encoded(A), B) == construct_canonical_encoded(A∪B)

    (both tables, asserted in ``tests/test_incremental.py``).

    Returns ``(triples_enc, node_dict)`` where

    * ``triples_enc``: ``(s_id, p_id, o_id, conv_id)`` — one row per
      canonical triple (same multiset of triples as
      :func:`jena_spark.pipeline.canonicalize.construct_canonical`,
      just encoded); ``conv_id`` retained for bucketing/lineage.
    * ``node_dict``: ``(node_id, kind, val, datatype, lang)`` — one row
      per distinct term, sufficient to decode every id in
      ``triples_enc``. With no prior store it starts as the
      predicate nodes.

    Shuffle inventory of the batch: one narrow mention shuffle, one
    narrow (conv, turn, rep) dedup, one node-dictionary dedup keyed on
    an 8-byte id with map-side combine. The 6x-wider triple stream
    itself is narrow end-to-end and ~27 B/row.

    Id-space specifics of folding onto a store:

    * The prior election is recovered by decoding ONLY the label slice
      — a pushed 8-byte ``p_id =`` filter, then two joins against the
      dictionary restricted to the slice's ids; gazetteer-bounded rows.
    * Changed representatives map old-id -> new-id through one tiny
      Spark job (ids are ``xxhash64`` content hashes — computed where
      the data lives, never in Python).
    * Node-dictionary delta: changed old reps become unreferenced (an
      entity IRI appears ONLY as edge object / label subject, and every
      such row is rewritten), so their dictionary rows are dropped; the
      new batch's rows are anti-joined in. With both tables bucketed by
      id (the deployment layout) the anti-join is co-located.
    """
    from jena_spark.pipeline.canonicalize import present_rep_rows
    from jena_spark.pipeline.extract import extract_mentions

    spark = new_transcripts.sparkSession

    if mentions is None:
        mentions = extract_mentions(new_transcripts, gazetteer).persist()
    present_b = sorted(
        r["surface"] for r in mentions.select("surface").distinct().collect()
    )

    old_rep = {}
    if triples_enc is None:
        node_dict = spark.createDataFrame(_PRED_ROWS, "val string").select(
            _node_row("iri", F.col("val")).alias("n")
        ).select("n.node_id", "n.kind", "n.val", "n.datatype", "n.lang")
    else:
        # recover the prior election from the encoded label slice
        label_pid = spark.range(1).select(
            _p(TM.RDFS_LABEL).alias("p")).collect()[0]["p"]
        lbl = triples_enc.where(F.col("p_id") == label_pid).select("s_id", "o_id")
        nd_s = node_dict.select(F.col("node_id").alias("s_id"),
                                F.col("val").alias("rep"))
        nd_o = node_dict.select(F.col("node_id").alias("o_id"),
                                F.col("val").alias("surface"))
        old_pairs = (
            lbl.join(nd_s, "s_id").join(nd_o, "o_id")
            .select("surface", "rep").collect()
        )
        old_rep = {r["surface"]: r["rep"] for r in old_pairs}

    present = sorted(set(old_rep) | set(present_b))
    rep_rows = present_rep_rows(present, gazetteer)
    new_rep = dict(rep_rows)
    changed = sorted({(old_rep[s], new_rep[s]) for s in old_rep
                      if old_rep[s] != new_rep[s]})

    if changed:
        # old/new rep IRIs -> ids, computed JVM-side in one tiny job
        ch = spark.createDataFrame(changed, "old string, new string")
        id_rows = ch.select(
            _nid("iri", F.col("old")).alias("old_id"),
            _nid("iri", F.col("new")).alias("new_id"),
        ).collect()
        old_ids = [r["old_id"] for r in id_rows]
        remap = F.create_map(
            *[F.lit(x) for r in id_rows for x in (r["old_id"], r["new_id"])])
        s_hit = F.col("s_id").isin(old_ids)
        o_hit = F.col("o_id").isin(old_ids)
        kept_t = triples_enc.where(~(s_hit | o_hit)).unionByName(
            triples_enc.where(s_hit | o_hit).select(
                F.when(s_hit, remap[F.col("s_id")])
                .otherwise(F.col("s_id")).alias("s_id"),
                F.col("p_id"),
                F.when(o_hit, remap[F.col("o_id")])
                .otherwise(F.col("o_id")).alias("o_id"),
                F.col("conv_id"),
            )
        )
        # fact 3 corollary: a changed old rep is now unreferenced
        kept_n = node_dict.where(~F.col("node_id").isin(old_ids))
    else:
        kept_t, kept_n = triples_enc, node_dict

    structure_enc, structure_nodes = _structure_slices(new_transcripts)
    rep_dim = spark.createDataFrame(rep_rows, "surface string, rep string")
    new_surface_rows = [(s, new_rep[s]) for s in present_b if s not in old_rep]
    new_surfaces = spark.createDataFrame(
        new_surface_rows, "surface string, rep string")
    edges_enc, labels_enc, entity_nodes = _mention_slices(
        mentions, rep_dim, new_surfaces)

    batch_t = structure_enc.unionByName(edges_enc).unionByName(labels_enc)
    out_t = batch_t if kept_t is None else kept_t.unionByName(batch_t)
    new_nodes = (
        structure_nodes.unionByName(entity_nodes)
        # 8-byte key, map-side combine absorbs the per-partition dups
        # (role/tool/conv repeats) before the shuffle
        .dropDuplicates(["node_id"])
        .join(kept_n, "node_id", "left_anti")
    )
    return out_t, kept_n.unionByName(new_nodes)
