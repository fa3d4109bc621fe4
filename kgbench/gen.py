"""Seeded inputs for the KG benchmark, with their planted ground truth.

Everything here is plain Python and depends on nothing in ``jena_spark``:
the expected outputs the benchmark checks against are worked out from
what the generator planted, never from the program under test.

Corpus: conversations of 4-16 turns. Turn text is filler words drawn
from a vocabulary that shares no token with any gazetteer surface, with
0-3 planted surfaces separated by at least one filler word, so the set
of surfaces in a turn is known by construction. Entities are drawn with
a Zipf skew (the first two are hot) or uniformly, by the input shape.
The base corpus never contains
``A. Turing``; the re-election batch plants it after ``Turing`` is
already present, which moves that component's representative.

sameAs graph: chains and stars (plus one hot component in the skewed
shape) over node IRIs whose order is shuffled, so the least member is
not the structural root.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
import re
from dataclasses import dataclass, field

# -- vocabulary (the Jena-semantics constants the store must carry) --------
NS = "http://jena-spark.org/"
NS_CONV = NS + "conv/"
NS_ENTITY = NS + "entity/"
VOCAB = NS + "vocab#"
P_HAS_TURN = VOCAB + "hasTurn"
P_TURN_INDEX = VOCAB + "turnIndex"
P_ROLE = VOCAB + "role"
P_TEXT = VOCAB + "text"
P_TOOL = VOCAB + "tool"
P_TS = VOCAB + "timestamp"
P_MENTIONS = VOCAB + "mentions"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"
XSD_DATETIME = "http://www.w3.org/2001/XMLSchema#dateTime"

# canonical -> aliases. Multi-word, punctuated and non-ASCII surfaces on
# purpose; ``A. Turing`` slugs below ``alan_turing`` (the re-election).
GAZETTEER: dict[str, list[str]] = {
    "Apache Spark": ["Spark"],
    "Alan Turing": ["Turing", "A. Turing"],
    "Ada Lovelace": ["Lovelace", "Countess Lovelace"],
    "Grace Hopper": ["Hopper", "Admiral Hopper"],
    "Apache Jena": ["Jena"],
    "New York": ["NYC", "New York City"],
    "San Francisco": ["SF", "San Fran"],
    "Claude Shannon": ["Shannon"],
    "John von Neumann": ["von Neumann", "Neumann"],
    "Tim Berners-Lee": ["Berners-Lee", "TimBL"],
    "Kurt Gödel": ["Gödel", "Godel"],
    "Edsger Dijkstra": ["Dijkstra", "E. W. Dijkstra"],
    "Barbara Liskov": ["Liskov"],
    "Donald Knuth": ["Knuth", "D. E. Knuth"],
    "Margaret Hamilton": ["Hamilton"],
    "Alonzo Church": ["Church"],
    "Hedy Lamarr": ["Lamarr"],
    "London": [],
    "Tokyo": [],
    "Katherine Johnson": ["Johnson"],
}
ENTITIES = list(GAZETTEER)
REELECT_SURFACE = "A. Turing"
REELECT_PRIOR = "Turing"

FILLER = (
    "the a of to and in for on with as at by from that this it is was be "
    "are we you they he she our their about into over under after before "
    "paper model graph query data table result node edge index join plan "
    "cost scan sort merge value count range window batch stream shard "
    "cluster server client cache store write read commit snapshot manifest "
    "metric latency throughput queue thread lock retry error schema column "
    "row field token parser lexer proof theorem lemma machine archive "
    "notes draft review meeting today yesterday tomorrow quickly slowly "
    "carefully again still also maybe perhaps indeed however therefore"
).split()
PUNCT = ["", "", "", ",", ".", "?", ";"]
TOOLS = ["search", "python", "browser", "sql"]
T0 = dt.datetime(2026, 1, 1)


def _check_filler() -> None:
    # the mention pattern is case-sensitive, so compare tokens as written
    surface_tokens = {t for c, al in GAZETTEER.items()
                      for s in [c, *al] for t in re.split(r"\W+", s) if t}
    clash = surface_tokens & set(FILLER)
    if clash:
        raise ValueError(f"filler words overlap surfaces: {sorted(clash)}")


_check_filler()


# -- term helpers (independent re-statement of the store's term spec) ------

def slug(name: str) -> str:
    return re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")


def entity_iri(name: str) -> str:
    return NS_ENTITY + slug(name)


def conv_iri(conv_id: str) -> str:
    return NS_CONV + conv_id


def turn_bnode(conv_id: str, turn_idx: int) -> str:
    return "_:" + hashlib.md5(f"{conv_id}:turn-{turn_idx}".encode()).hexdigest()


def surface_canonical() -> dict[str, str]:
    return {s: c for c, al in GAZETTEER.items() for s in [c, *al]}


# -- corpus ---------------------------------------------------------------

@dataclass
class Corpus:
    """Transcript rows plus the planted surfaces of every turn."""

    rows: list[tuple] = field(default_factory=list)
    # (conv_id, turn_idx) -> planted surfaces (a set)
    planted: dict[tuple[str, int], set[str]] = field(default_factory=dict)

    def conv_ids(self) -> list[str]:
        return sorted({r[0] for r in self.rows})

    def extend(self, other: "Corpus") -> None:
        self.rows += other.rows
        self.planted.update(other.planted)

    def present(self) -> set[str]:
        return {s for ss in self.planted.values() for s in ss}


@dataclass
class Scale:
    n_base_convs: int
    n_batches: int
    batch_convs: int
    closure_nodes: int


SCALES = {
    "default": Scale(n_base_convs=160, n_batches=2, batch_convs=12,
                     closure_nodes=2400),
    "tiny": Scale(n_base_convs=24, n_batches=2, batch_convs=3,
                  closure_nodes=240),
}


def _entity_weights(skewed: bool) -> list[float]:
    # Zipf(1.1) over the entity list (the first two entities are hot), or flat
    return [1.0 / (k + 1) ** 1.1 if skewed else 1.0 for k in range(len(ENTITIES))]


def _text(rng: random.Random, surfaces: list[str]) -> str:
    """Filler words with each surface in its own gap between them, so
    no two surfaces touch and the planted set is the mention set."""
    n_words = min(60, max(3, int(rng.lognormvariate(2.6, 0.6))))
    words = [rng.choice(FILLER) for _ in range(n_words)]
    at = dict(zip(rng.sample(range(n_words + 1), len(surfaces)), surfaces))
    out: list[str] = []
    for i in range(n_words + 1):
        if i in at:
            out.append(at[i] + rng.choice(PUNCT))
        if i < n_words:
            out.append(words[i])
    text = " ".join(out)
    return text if rng.random() > 0.05 else text + "\n" + rng.choice(FILLER)


def _conversation(rng: random.Random, conv_id: str, conv_no: int,
                  banned: set[str], plant: str | None, weights: list[float]) -> Corpus:
    c = Corpus()
    n_turns = rng.randint(4, 16)
    for t in range(n_turns):
        role = "user" if t % 2 == 0 else "assistant"
        tool = rng.choice(TOOLS) if role == "assistant" and rng.random() < 0.25 else None
        surfaces = []
        for _ in range(rng.choice([0, 0, 1, 1, 1, 2, 2, 3])):
            ent = rng.choices(ENTITIES, weights)[0]
            s = rng.choice([ent, *GAZETTEER[ent]])
            if s not in banned:
                surfaces.append(s)
        if plant is not None and t == 0:
            surfaces.append(plant)
        ts = T0 + dt.timedelta(minutes=conv_no * 97, seconds=t * 41)
        c.rows.append((conv_id, t, role, _text(rng, list(surfaces)), tool, ts))
        c.planted[(conv_id, t)] = set(surfaces)
    return c


@dataclass
class Inputs:
    base: Corpus
    batches: list[Corpus]
    reelect_batch: int
    closure: "ClosureGraph"


def _reelecting(present: set[str]) -> set[str]:
    """Surfaces whose first mention would move the representative of a
    component that already has rows."""
    s2c = surface_canonical()
    rep = representatives(present)
    comp_rep = {s2c[s]: r for s, r in rep.items()}
    return {s for s, c in s2c.items()
            if s not in present and c in comp_rep and entity_iri(s) < comp_rep[c]}


def make_inputs(seed: int, scale: Scale, skewed: bool = True) -> Inputs:
    """Base corpus, held-back arrival batches (seeded conv_id split) and
    the sameAs graph, all from ``seed``. ``skewed`` draws entities
    Zipf(1.1) and plants a hot sameAs component; otherwise entities are
    uniform and every component is small. Exactly one batch re-elects a
    representative: every other surface that would is kept out of the
    batches."""
    rng = random.Random(seed)
    weights = _entity_weights(skewed)
    n_total = scale.n_base_convs + scale.n_batches * scale.batch_convs
    ids = [f"c{seed % 1000:03d}-{k:05d}" for k in range(n_total)]
    held = rng.sample(ids, scale.n_batches * scale.batch_convs)
    conv_no = {cid: k for k, cid in enumerate(ids)}
    base = Corpus()
    for k, cid in enumerate(sorted(set(ids) - set(held))):
        plant = REELECT_PRIOR if k == 0 else None
        base.extend(_conversation(rng, cid, conv_no[cid], {REELECT_SURFACE}, plant,
                                  weights))
    reelect_batch = min(1, scale.n_batches - 1)
    batches = []
    seen = base.present()
    for b in range(scale.n_batches):
        banned = _reelecting(seen)
        batch = Corpus()
        group = sorted(held[b * scale.batch_convs:(b + 1) * scale.batch_convs])
        for k, cid in enumerate(group):
            plant = REELECT_SURFACE if b == reelect_batch and k == 0 else None
            batch.extend(_conversation(rng, cid, conv_no[cid], banned, plant, weights))
        batches.append(batch)
        seen |= batch.present()
    return Inputs(base, batches, reelect_batch,
                  make_closure_graph(rng, scale.closure_nodes, skewed))


# -- expected canonical store ---------------------------------------------

def representatives(present: set[str]) -> dict[str, str]:
    """surface -> representative IRI: the least entity IRI among the
    present surfaces of its gazetteer star and the star's canonical
    (every present alias links to the canonical by owl:sameAs)."""
    s2c = surface_canonical()
    comp: dict[str, set[str]] = {}
    for s in present:
        comp.setdefault(s2c[s], {entity_iri(s2c[s])}).add(entity_iri(s))
    return {s: min(comp[s2c[s]]) for s in present}


def expected_triples(corpus: Corpus) -> set[tuple]:
    """The canonical triple set (s_kind, s_val, p_val, o_kind, o_val,
    o_datatype, o_lang) a Jena-semantics construction of ``corpus``
    must hold: turn structure, one mention edge per (turn,
    representative), one label per present surface, no owl:sameAs."""
    present = {s for ss in corpus.planted.values() for s in ss}
    rep = representatives(present)
    out: set[tuple] = set()
    for conv_id, t, role, text, tool, ts in corpus.rows:
        b = turn_bnode(conv_id, t)
        out.add(("iri", conv_iri(conv_id), P_HAS_TURN, "bnode", b, None, None))
        out.add(("bnode", b, P_TURN_INDEX, "literal", str(t), XSD_INTEGER, None))
        out.add(("bnode", b, P_ROLE, "literal", role, None, None))
        out.add(("bnode", b, P_TEXT, "literal", text, None, None))
        if tool is not None:
            out.add(("bnode", b, P_TOOL, "literal", tool, None, None))
        out.add(("bnode", b, P_TS, "literal", ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                 XSD_DATETIME, None))
        for s in corpus.planted[(conv_id, t)]:
            out.add(("bnode", b, P_MENTIONS, "iri", rep[s], None, None))
    for s in present:
        out.add(("iri", rep[s], RDFS_LABEL, "literal", s, None, None))
    return out


# -- sameAs entity-resolution graph ---------------------------------------

ER = "http://kg.example.org/er/"
P_REFERS = ER + "refersTo"
P_NAME = ER + "name"
P_RELATED = ER + "relatedTo"


@dataclass
class ClosureGraph:
    triples: list[tuple]             # 9-column rows (TERM_COLS, graph, conv_id)
    components: list[set[str]]       # planted partition of the sameAs nodes
    n_sameas: int

    def rep(self) -> dict[str, str]:
        return {n: min(c) for c in self.components for n in c}


def make_closure_graph(rng: random.Random, n_nodes: int, hot: bool = True) -> ClosureGraph:
    """Chains (2-10 nodes), stars (hub + 3-40 leaves) and, if ``hot``, one
    hot component (a 10%-of-nodes star with a 10-node chain hanging off it).
    Large-star/small-star needs O(log diameter) rounds, each a few Spark
    jobs, so chain length sets most of the closure's cost."""
    names = [f"{ER}n{rng.getrandbits(40):010x}" for _ in range(n_nodes)]
    names = list(dict.fromkeys(names))
    rng.shuffle(names)
    comps: list[list[str]] = []
    edges: list[tuple[str, str]] = []
    pos = 0

    def take(k):
        nonlocal pos
        part = names[pos:pos + k]
        pos += k
        return part

    if hot:
        hub, *leaves = take(max(4, len(names) // 10))
        tail = take(10)
        comps.append([hub, *leaves, *tail])
        edges += [(hub, x) for x in leaves]
        edges += list(zip([hub, *tail[:-1]], tail))
    while pos < len(names):
        if rng.random() < 0.5:
            part = take(rng.randint(2, 10))
            edges += list(zip(part, part[1:]))
        else:
            part = take(rng.randint(4, 41))
            edges += [(part[0], x) for x in part[1:]]
        if len(part) < 2:
            break
        comps.append(part)
    in_comp = {n for c in comps for n in c}
    edges = [(a, b) for a, b in edges if a in in_comp and b in in_comp]
    rows: list[tuple] = []
    for a, b in edges:
        a, b = (b, a) if rng.random() < 0.5 else (a, b)
        rows.append(("iri", a, OWL_SAMEAS, "iri", b, None, None, None, None))
        if rng.random() < 0.1:  # the symmetric duplicate
            rows.append(("iri", b, OWL_SAMEAS, "iri", a, None, None, None, None))
    nodes = sorted(in_comp)
    for i, n in enumerate(nodes):
        doc = f"{ER}doc{i // 3:06d}"
        rows.append(("iri", doc, P_REFERS, "iri", n, None, None, None, f"d{i // 3}"))
        if rng.random() < 0.5:
            rows.append(("iri", n, P_NAME, "literal", f"name {i % 97}", None, None,
                         None, f"d{i // 3}"))
        if rng.random() < 0.3:
            m = rng.choice(nodes)
            rows.append(("iri", n, P_RELATED, "iri", m, None, None, None, f"d{i // 3}"))
    n_sameas = sum(1 for r in rows if r[2] == OWL_SAMEAS)
    return ClosureGraph(rows, [set(c) for c in comps], n_sameas)


def expected_closure(g: ClosureGraph) -> set[tuple]:
    """Canonical set after owl:sameAs closure: every IRI subject/object
    rewritten to its component's least member, sameAs rows gone (both
    ends of every planted sameAs edge share a component)."""
    rep = g.rep()
    out = set()
    for s_kind, s, p, o_kind, o, dtp, lang, _g, _c in g.triples:
        if p == OWL_SAMEAS:
            continue
        s2 = rep.get(s, s) if s_kind == "iri" else s
        o2 = rep.get(o, o) if o_kind == "iri" else o
        out.add((s_kind, s2, p, o_kind, o2, dtp, lang))
    return out
