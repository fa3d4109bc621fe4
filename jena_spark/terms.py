"""RDF term model — Jena ``Node`` semantics flattened to columns.

Reference semantics (all paths relative to /root/reference):

* Node subtypes IRI / blank / literal:
  ``jena-core/src/main/java/org/apache/jena/graph/Node.java:40`` and
  ``Node_URI.java`` / ``Node_Blank.java:27`` / ``Node_Literal.java:28``.
* Term equality is label equality (``Node.java:247-248``); value
  equality (``Node.sameValueAs``, ``Node.java:259-260``) is looser.
  We emit *canonical lexical forms* so that for emitted triples term
  equality coincides with value equality (cf.
  ``jena-core/.../impl/LiteralLabelImpl.java:397-407`` where
  ``"01"^^xsd:int`` sameValueAs ``"1"^^xsd:int`` but not equals).
* Deterministic blank-node labels per document scope:
  ``jena-arq/.../riot/lang/BlankNodeAllocatorHash.java:31-46`` +
  ``LabelToNode.java:49`` (``createScopeByDocumentHash``). We skolemize
  as md5(scope ":" label) with scope = conv_id (MD5 as in the
  reference allocator).
* XSD datatypes: ``jena-core/.../datatypes/xsd/XSDDatatype.java:54-195``.

Spark mapping (SURVEY.md §1.6): a triple row is
``(s_kind, s_val, p_val, o_kind, o_val, o_datatype, o_lang, graph)``
with kinds in {"iri","bnode","literal"}; plain and lang-tagged string
literals carry ``o_datatype = NULL`` (FIXTURES.md §2).

Every helper exists twice: a pure-Python form (used by the
reference-semantics oracle in ``jena_spark.oracle``) and a Column form
(used by the distributed pipeline). The two MUST stay in lock-step —
that equivalence is what the P/R gate measures.
"""

from __future__ import annotations

import hashlib
import re
from datetime import datetime, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- term kinds ------------------------------------------------------------
KIND_IRI = "iri"
KIND_BNODE = "bnode"
KIND_LITERAL = "literal"
# RDF-star quoted triple (``Node_Triple.java:27``, ``Node.java:69``
# ``isNodeTriple()``): a term whose value IS a triple. Flattened-column
# mapping: kind "triple", val = the CANONICAL N-Triples-star lexical
# ``<< s p o >>`` (single-space separators, canonical component forms,
# components recursively canonical). Because component terms are
# emitted canonically, lexical equality of the quoted term coincides
# with Jena's component-wise Node_Triple equality
# (``Node_Triple.java:79`` delegates to Triple equality).
KIND_TRIPLE = "triple"

# --- well-known namespaces -------------------------------------------------
XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATETIME = XSD + "dateTime"
XSD_STRING = XSD + "string"

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"

# --- pipeline vocabulary (our construction namespace) ----------------------
NS = "http://jena-spark.org/"
NS_CONV = NS + "conv/"
NS_ENTITY = NS + "entity/"
NS_VOCAB = NS + "vocab#"

P_HAS_TURN = NS_VOCAB + "hasTurn"
P_TURN_INDEX = NS_VOCAB + "turnIndex"
P_ROLE = NS_VOCAB + "role"
P_TEXT = NS_VOCAB + "text"
P_TOOL = NS_VOCAB + "tool"
P_TS = NS_VOCAB + "timestamp"
P_MENTIONS = NS_VOCAB + "mentions"

TERM_COLS = ["s_kind", "s_val", "p_val", "o_kind", "o_val", "o_datatype", "o_lang"]
TRIPLE_COLS = TERM_COLS + ["graph"]


# === pure-Python forms (oracle side) ========================================

def skolem(scope: str, label: str) -> str:
    """Deterministic bnode label — per-scope hash, mirroring
    ``BlankNodeAllocatorHash`` ("currently MD5, to get a 128bit bit
    string ... a bNode AnonId of hex digits",
    ``jena-arq/.../riot/lang/BlankNodeAllocatorHash.java:36-37``).
    MD5 matches the reference AND halves the label width vs sha256 —
    bnode labels sit in the subject column of most triples, so label
    bytes are hot-path shuffle/cache bytes at scale."""
    return "_:" + hashlib.md5(f"{scope}:{label}".encode("utf-8")).hexdigest()


_NT_ESC = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def nt_escape(s: str) -> str:
    """N-Triples literal escaping (the exact set the writers emit)."""
    return "".join(_NT_ESC.get(ch, ch) for ch in s)


def nt_term(kind: str, val: str, datatype: str | None = None,
            lang: str | None = None) -> str:
    """Canonical N-Triples lexical of one term. Quoted-triple terms
    already store their canonical ``<< ... >>`` lexical in ``val``."""
    if kind == KIND_IRI:
        return f"<{val}>"
    if kind in (KIND_BNODE, KIND_TRIPLE):
        return val
    out = f'"{nt_escape(val)}"'
    if lang:
        return out + f"@{lang}"
    if datatype:
        return out + f"^^<{datatype}>"
    return out


def quote(s_kind: str, s_val: str, p_val: str, o_kind: str, o_val: str,
          o_datatype: str | None = None, o_lang: str | None = None) -> str:
    """Canonical lexical of a quoted triple term (RDF-star
    ``Node_Triple``): ``<< s p o >>`` with single-space separators.
    Injective over canonical component forms, so string equality on the
    result IS component-wise quoted-triple equality. Column twin:
    ``queries.rdfstar.quote_col`` (must stay in lock-step)."""
    return (f"<< {nt_term(s_kind, s_val)} <{p_val}> "
            f"{nt_term(o_kind, o_val, o_datatype, o_lang)} >>")


_SLUG_RE = re.compile(r"[^a-z0-9]+")


def entity_slug(name: str) -> str:
    """IRI-safe slug for an entity surface/canonical name."""
    return _SLUG_RE.sub("_", name.lower()).strip("_")


def entity_iri(name: str) -> str:
    return NS_ENTITY + entity_slug(name)


def conv_iri(conv_id: str) -> str:
    return NS_CONV + conv_id


def canon_integer(lex: str) -> str:
    """Canonical xsd:integer lexical form (strip +, leading zeros)."""
    return str(int(lex))


def canon_boolean(v: bool | str) -> str:
    if isinstance(v, str):
        v = v.strip().lower() in ("true", "1")
    return "true" if v else "false"


def canon_datetime(dt: datetime) -> str:
    """Canonical xsd:dateTime: UTC, second precision, trailing Z.

    The pipeline's synthetic timestamps are second-granular; fractions
    would need ``.%f``-trimming (documented non-goal for v1 fixtures).
    """
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


# === Column forms (distributed side) ========================================

def skolem_col(scope: Column, label: Column) -> Column:
    """Column twin of :func:`skolem` (md5 is JVM-side, codegen'd)."""
    return F.concat(F.lit("_:"), F.md5(F.concat_ws(":", scope, label)))


def turn_bnode_col() -> Column:
    """The turn blank node of a row keyed by ``(conv_id, turn_idx)``:
    the skolem of ``"turn-<idx>"`` scoped to the conversation."""
    return skolem_col(
        F.col("conv_id"), F.concat(F.lit("turn-"), F.col("turn_idx").cast("string"))
    )


def entity_iri_col(name: Column) -> Column:
    slug = F.regexp_replace(F.lower(name), "[^a-z0-9]+", "_")
    slug = F.regexp_replace(slug, "(^_+|_+$)", "")
    return F.concat(F.lit(NS_ENTITY), slug)


def conv_iri_col(conv_id: Column) -> Column:
    return F.concat(F.lit(NS_CONV), conv_id)


def canon_integer_col(c: Column) -> Column:
    return c.cast("long").cast("string")


def canon_datetime_col(ts: Column) -> Column:
    # session TZ is pinned to UTC in session.py
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
