"""Triple extraction from conversation transcripts.

Semantics mirror Jena's construction path: a parser/extractor emits
triples into a Graph with per-document-scope deterministic blank nodes
(``jena-arq/.../riot/lang/BlankNodeAllocatorHash.java:31-46``,
``LabelToNode.java:49``) and set semantics on add
(``jena-core/.../graph/Graph.java:84``). The exact rule set is
documented in :mod:`jena_spark.oracle.ref_pipeline` — oracle and this
module MUST stay in lock-step.

Spark-first design notes (100 TB posture):

* Turn-structure triples are generated in ONE scan: each transcript row
  becomes an array of (s,p,o) structs that is exploded — no N-way
  self-union, no shuffle at all (narrow transform; dedup happens once,
  downstream at materialize).
* Mention detection is the only Python step and runs as an
  Arrow-batched pandas UDF (``str.findall`` with one compiled
  longest-first alternation) — the gazetteer regex is built once per
  executor, never per row.
* Entity linking (surface → canonical) is a broadcast join against the
  tiny alias dimension.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jena_spark import terms as TM
from jena_spark.gazetteer import DEFAULT_GAZETTEER, mention_pattern, surface_to_canonical

def _null_s():
    return F.lit(None).cast("string")


def _term_struct(p: str, o_kind, o_val, o_datatype=None, o_lang=None):
    return F.struct(
        F.lit(p).alias("p_val"),
        (F.lit(o_kind) if isinstance(o_kind, str) else o_kind).alias("o_kind"),
        o_val.alias("o_val"),
        (F.lit(o_datatype).cast("string") if o_datatype is None or isinstance(o_datatype, str)
         else o_datatype).alias("o_datatype"),
        (F.lit(o_lang).cast("string") if o_lang is None or isinstance(o_lang, str)
         else o_lang).alias("o_lang"),
    )


def turn_structure_triples(transcripts: DataFrame) -> DataFrame:
    """Per-turn structural triples, single-scan explode (no shuffle).

    Emits (cf. ref_pipeline rule table): conv→hasTurn→turn_bnode and
    turn→{turnIndex,role,text,tool,timestamp}→literal.
    """
    turn_bnode = TM.turn_bnode_col()
    conv = TM.conv_iri_col(F.col("conv_id"))

    # each element: (s_kind, s_val, p_val, o_kind, o_val, o_datatype, o_lang)
    def with_subject(s_kind, s_val, inner):
        return F.struct(
            F.lit(s_kind).alias("s_kind"), s_val.alias("s_val"),
            inner.p_val.alias("p_val"), inner.o_kind.alias("o_kind"),
            inner.o_val.alias("o_val"), inner.o_datatype.alias("o_datatype"),
            inner.o_lang.alias("o_lang"),
        )

    elems = F.array(
        with_subject("iri", conv,
                     _term_struct(TM.P_HAS_TURN, "bnode", turn_bnode)),
        with_subject("bnode", turn_bnode,
                     _term_struct(TM.P_TURN_INDEX, "literal",
                                  TM.canon_integer_col(F.col("turn_idx")), TM.XSD_INTEGER)),
        with_subject("bnode", turn_bnode,
                     _term_struct(TM.P_ROLE, "literal", F.col("role"))),
        with_subject("bnode", turn_bnode,
                     _term_struct(TM.P_TEXT, "literal", F.col("text"))),
        with_subject("bnode", turn_bnode,
                     F.when(F.col("tool").isNotNull(),
                            _term_struct(TM.P_TOOL, "literal", F.col("tool")))),
        with_subject("bnode", turn_bnode,
                     _term_struct(TM.P_TS, "literal",
                                  TM.canon_datetime_col(F.col("ts")), TM.XSD_DATETIME)),
    )
    exploded = transcripts.select(F.col("conv_id"), F.explode(elems).alias("t"))
    return (
        exploded.where(F.col("t").isNotNull() & F.col("t.o_val").isNotNull())
        .select(
            "t.s_kind", "t.s_val", "t.p_val", "t.o_kind", "t.o_val",
            "t.o_datatype", "t.o_lang",
            _null_s().alias("graph"), F.col("conv_id"),
        )
    )


def mentions_udf(gazetteer: dict | None = None):
    """Arrow-batched mention extractor: text -> array of matched surfaces."""
    gazetteer = gazetteer or DEFAULT_GAZETTEER

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def extract(texts: pd.Series) -> pd.Series:
        pat = mention_pattern(gazetteer)  # compiled once per batch-iterator
        return texts.str.findall(pat)

    return extract


def extract_mentions(transcripts: DataFrame, gazetteer: dict | None = None) -> DataFrame:
    """Distinct (conv_id, turn_idx, surface) mention rows."""
    udf = mentions_udf(gazetteer)
    return (
        transcripts.select(
            "conv_id", "turn_idx", F.explode(udf(F.col("text"))).alias("surface")
        )
        .distinct()
    )


def alias_dim(spark: SparkSession, gazetteer: dict | None = None) -> DataFrame:
    """Tiny (surface, canonical) dimension — always broadcast.

    Validates slug injectivity + star shape up front
    (:func:`jena_spark.gazetteer.validate_gazetteer`): raw_triples'
    dedup-free-by-construction argument requires surface -> entity_iri
    to be injective, and the DuckDB oracle's one-aggregation component
    computation requires disjoint alias stars."""
    from jena_spark.gazetteer import validate_gazetteer

    gazetteer = gazetteer or DEFAULT_GAZETTEER
    rows = [(s, c) for s, c in validate_gazetteer(gazetteer).items()]
    return spark.createDataFrame(rows, "surface string, canonical string")


def mention_triples(
    transcripts: DataFrame, gazetteer: dict | None = None,
    cache_mentions: bool = False, mentions: DataFrame | None = None,
) -> DataFrame:
    """Mention, label and sameAs triples (pre-canonicalization).

    turn --mentions--> surface_iri ; surface_iri --label--> "surface" ;
    surface_iri --sameAs--> canonical_iri (when the IRIs differ).

    Shuffle design: mention-edge rows are unique by construction (one
    per distinct (conv, turn, surface)). Label/sameAs rows depend only
    on the *surface*, so they are emitted from the distinct-surface
    dimension (tiny) rather than per-mention-then-dedup — this is what
    lets :func:`raw_triples` skip a whole-output dropDuplicates, the
    single biggest shuffle at scale. Label/sameAs rows carry a null
    conv_id (they belong to no single conversation — deterministic,
    unlike an arbitrary dedup survivor).
    """
    spark = transcripts.sparkSession
    if mentions is None:
        mentions = extract_mentions(transcripts, gazetteer)
    else:
        cache_mentions = False  # caller owns the frame (and its persist)
    if cache_mentions:
        # The mention table feeds three emission branches (edges, labels,
        # sameAs) and — in the deployment path — both canonicalization
        # branches. Spark's exchange reuse does NOT deduplicate the
        # ArrowEvalPython subplans across union branches (measured: the
        # extraction UDF executes once per branch), so the hot path
        # caches this SMALL frame (3 narrow columns, ~1/8 the bytes of
        # the raw triple table) instead of persisting raw triples.
        mentions = mentions.persist()
    dim = alias_dim(spark, gazetteer)
    linked = mentions.join(F.broadcast(dim), "surface")

    turn_bnode = TM.turn_bnode_col()
    s_iri = TM.entity_iri_col(F.col("surface"))
    c_iri = TM.entity_iri_col(F.col("canonical"))

    edges = linked.select(
        F.lit("bnode").alias("s_kind"), turn_bnode.alias("s_val"),
        F.lit(TM.P_MENTIONS).alias("p_val"),
        F.lit("iri").alias("o_kind"), s_iri.alias("o_val"),
        _null_s().alias("o_datatype"), _null_s().alias("o_lang"),
        _null_s().alias("graph"), F.col("conv_id"),
    )

    surfaces = (
        mentions.select("surface").distinct().join(F.broadcast(dim), "surface")
    )
    labels = surfaces.select(
        F.lit("iri").alias("s_kind"), s_iri.alias("s_val"),
        F.lit(TM.RDFS_LABEL).alias("p_val"),
        F.lit("literal").alias("o_kind"), F.col("surface").alias("o_val"),
        _null_s().alias("o_datatype"), _null_s().alias("o_lang"),
        _null_s().alias("graph"), _null_s().alias("conv_id"),
    )
    sameas = surfaces.where(s_iri != c_iri).select(
        F.lit("iri").alias("s_kind"), s_iri.alias("s_val"),
        F.lit(TM.OWL_SAMEAS).alias("p_val"),
        F.lit("iri").alias("o_kind"), c_iri.alias("o_val"),
        _null_s().alias("o_datatype"), _null_s().alias("o_lang"),
        _null_s().alias("graph"), _null_s().alias("conv_id"),
    )
    return edges.unionByName(labels).unionByName(sameas)


def raw_triples(
    transcripts: DataFrame, gazetteer: dict | None = None,
    cache_mentions: bool = False, mentions: DataFrame | None = None,
) -> DataFrame:
    """Full pre-canonicalization triple set (turn structure + mentions).

    Set semantics (Graph.add no-op on duplicate, ``Graph.java:84``) hold
    BY CONSTRUCTION, with no whole-output dedup shuffle:

    * turn-structure rows are unique because (conv_id, turn_idx) keys
      the input (input_hint contract: stable turn ordering) and each
      turn emits at most one row per predicate;
    * mention-edge rows are distinct (conv, turn, surface) tuples;
    * label/sameAs rows come from the distinct-surface dimension;
    * the three branches emit disjoint predicate sets, so no
      cross-branch duplicate is possible.

    At 100 TB this removes the single largest shuffle of the pipeline
    (a 7-wide string dedup over every emitted triple).
    """
    return turn_structure_triples(transcripts).unionByName(
        mention_triples(transcripts, gazetteer, cache_mentions=cache_mentions,
                        mentions=mentions)
    )
