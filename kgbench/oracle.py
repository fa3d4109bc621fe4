"""Independent checks of the program's outputs.

Committed stores are read back with DuckDB straight from their parquet
files; expected answers come from the generator's planted ground truth
(:mod:`gen`) and DuckDB SQL over the expected triple set. Every check
returns a list of error strings (empty = correct), so the self-test can
feed corrupted outputs and see them rejected.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import duckdb
import pandas as pd

import gen

TERM_COLS = ["s_kind", "s_val", "p_val", "o_kind", "o_val", "o_datatype", "o_lang"]


def store_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def read_store(path: str) -> list[tuple]:
    """Every committed row of a store (a bag: duplicates kept)."""
    files = store_files(path)
    if not files:
        return []
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT {', '.join(TERM_COLS)} FROM read_parquet(?)", [files]
        ).fetchall()
    finally:
        con.close()


def count_store(path: str) -> int:
    files = store_files(path)
    if not files:
        return 0
    con = duckdb.connect()
    try:
        return con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]
    finally:
        con.close()


def store_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the committed parquet data under ``path``."""
    files = store_files(path)
    return sum(os.path.getsize(f) for f in files), len(files)


def diff(label: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    missing, extra = want - got, got - want
    return [f"{label}: {len(missing)} missing, {len(extra)} unexpected; "
            f"e.g. missing {sorted(missing, key=str)[:1]} "
            f"unexpected {sorted(extra, key=str)[:1]}"]


def check_canonical(rows: list[tuple], expected: set[tuple], corpus: gen.Corpus | None,
                    label: str = "store") -> list[str]:
    """A committed canonical store: no duplicates, the exact expected
    set, no owl:sameAs row; with a corpus also the per-turn text and one
    label per present surface under the least member of its component."""
    errs = []
    dup = [r for r, n in Counter(rows).items() if n > 1]
    if dup:
        errs.append(f"{label}: {len(dup)} duplicated triples, e.g. {dup[0]}")
    got = set(rows)
    errs += diff(label, got, expected)
    if any(r[2] == gen.OWL_SAMEAS for r in got):
        errs.append(f"{label}: owl:sameAs rows survived canonicalization")
    if corpus is None:
        return errs
    texts = {r[1]: r[4] for r in got if r[2] == gen.P_TEXT}
    bad_text = [(c, t) for c, t, _role, text, _tool, _ts in corpus.rows
                if texts.get(gen.turn_bnode(c, t)) != text]
    if bad_text:
        errs.append(f"{label}: {len(bad_text)} turns with wrong text, e.g. {bad_text[0]}")
    rep = gen.representatives(corpus.present())
    labels = Counter(r[4] for r in got if r[2] == gen.RDFS_LABEL)
    wrong = [s for s in rep if labels.get(s) != 1
             or ("iri", rep[s], gen.RDFS_LABEL, "literal", s, None, None) not in got]
    if wrong:
        errs.append(f"{label}: {len(wrong)} surfaces without exactly one label "
                    f"under their least member, e.g. {wrong[0]!r}")
    return errs


def check_partition(mapping: list[tuple[str, str]], graph: gen.ClosureGraph) -> list[str]:
    """connected_components output (node, component) against the planted
    partition; every component id must be the least member."""
    comps: dict[str, set[str]] = {}
    for node, comp in mapping:
        comps.setdefault(comp, set()).add(node)
    errs = []
    got = {frozenset(c | {k}) for k, c in comps.items()}
    want = {frozenset(c) for c in graph.components}
    if got != want:
        errs.append(f"closure: partition differs ({len(got)} components, "
                    f"planted {len(want)})")
    not_least = [k for k, c in comps.items() if k != min(c | {k})]
    if not_least:
        errs.append(f"closure: {len(not_least)} representatives are not the "
                    f"least member, e.g. {not_least[0]}")
    return errs


# -- query answers ----------------------------------------------------------

class Answers:
    """DuckDB over the expected triple set: the independent answer to
    every query of the mix."""

    def __init__(self, expected: set[tuple]):
        self.con = duckdb.connect()
        df = pd.DataFrame(sorted(expected, key=str), columns=TERM_COLS)
        self.con.register("t_df", df)
        self.con.execute("CREATE TABLE t AS SELECT * FROM t_df")
        self.con.unregister("t_df")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str, params: list | None = None) -> list[tuple]:
        return self.con.execute(sql, params or []).fetchall()

    def find(self, s=None, p=None, o=None) -> list[tuple]:
        """Graph.find with term tuples (kind, val[, datatype, lang])."""
        conds, params = [], []
        if s is not None:
            conds += ["s_kind = ?", "s_val = ?"]
            params += [s[0], s[1]]
        if p is not None:
            conds += ["p_val = ?"]
            params += [p]
        if o is not None:
            kind, val, *rest = o
            conds += ["o_kind = ?", "o_val = ?",
                      "o_datatype IS NOT DISTINCT FROM ?", "o_lang IS NOT DISTINCT FROM ?"]
            params += [kind, val, rest[0] if rest else None,
                       rest[1] if len(rest) > 1 else None]
        where = " AND ".join(conds) or "TRUE"
        return self.rows(f"SELECT {', '.join(TERM_COLS)} FROM t WHERE {where}", params)


def same_bag(got: list[tuple], want: list[tuple]) -> bool:
    return Counter(map(tuple, got)) == Counter(map(tuple, want))
