"""The benchmark's operations, driven only through the program's public
functions: builds, closures, query rounds, lookups and folds.

Each operation calls into the layers the way the program's own jobs do
(``tools/pipeline_job.py``): ``read_table`` -> ``construct_canonical``
-> ``resume_or_write`` for a build; prior snapshot ->
``construct_incremental`` -> ``resume_or_write`` for a fold. Timed
intervals hold only program calls and the ``collect`` that consumes
their result; every correctness check runs after the window closes.

With tracing on, each stage is forced and persisted in turn (noop sink,
``persist`` + ``count``) so that each layer's self time is its own span.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import cached_property
from typing import Callable, Iterator

import pandas as pd

import gen
import oracle
from spans import Tracer

from pyspark.sql import DataFrame, SparkSession

from jena_spark.pipeline.api import Connection
from jena_spark.pipeline.canonicalize import (
    canonicalize_triples,
    connected_components,
    construct_canonical,
    construct_incremental,
    present_rep_dim,
    sameas_edges,
)
from jena_spark.pipeline.extract import extract_mentions, turn_structure_triples
from jena_spark.pipeline.materialize import resume_or_write
from jena_spark.queries import graph as G
from jena_spark.schemas import TRANSCRIPTS_SCHEMA, TRIPLES_SCHEMA
from jena_spark.sources.iceberg import append_table, read_table

NPROC = len(os.sched_getaffinity(0))
N_BUCKETS = NPROC
# connected_components solves edge sets up to this size on the driver;
# the default (10^6 edges) is far above what fits a run, so the closure
# workload passes a threshold below its edge count to reach the
# distributed large-star/small-star path.
CC_DRIVER_THRESHOLD = 100
# find reads of just-appended conversations after each commit
READS_PER_FOLD = 4
# mix rounds whose find shapes make one burst of lookups
LOOKUP_DRAWS = 4


@dataclass
class Query:
    cls: str                      # find | bgp | agg | setop
    shape: str                    # the query's shape within its class
    run: Callable[[Connection], DataFrame]
    answer: Callable[[oracle.Answers], list[tuple]]
    sparql: bool = False


@dataclass
class Bench:
    spark: SparkSession
    work: str
    inputs: gen.Inputs
    tracer: Tracer
    seed: int
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    # deferred checks: callables returning error lists, run after timing
    checks: list[Callable[[], list[str]]] = field(default_factory=list)
    answered: list[tuple[Query, list[tuple]]] = field(default_factory=list)
    chain: dict | None = None       # the fold chain in progress
    n_chains: int = 0
    last_chain: tuple[str, gen.Corpus] | None = None  # (last snapshot, its corpus)
    job_groups: Iterator[int] = field(default_factory=itertools.count)
    # traced runs: shuffle bytes at the end of set-up, and per timed
    # operation over the window
    shuffle_at_start: int = 0
    shuffle_per_op: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    # -- set-up ------------------------------------------------------------

    def transcripts(self, corpus: gen.Corpus) -> DataFrame:
        cols = [f.name for f in TRANSCRIPTS_SCHEMA.fields]
        return self.spark.createDataFrame(pd.DataFrame(corpus.rows, columns=cols),
                                          TRANSCRIPTS_SCHEMA)

    def land(self, corpus: gen.Corpus, name: str) -> None:
        append_table(self.transcripts(corpus), self.path(name))

    def land_closure(self) -> None:
        df = self.spark.createDataFrame(self.inputs.closure.triples, TRIPLES_SCHEMA)
        append_table(df, self.path("closure_in"))

    # -- build -------------------------------------------------------------

    def build(self, tag: str) -> str:
        """One store construction; returns the committed store path."""
        out = self.path("stores", tag)
        tr = self.tracer
        with tr.span("build"):
            if not tr.enabled:
                t0 = time.perf_counter()
                transcripts = read_table(self.spark, self.path("corpus"))
                resume_or_write(construct_canonical(transcripts, gen.GAZETTEER),
                                out, "triples", N_BUCKETS)
                self.sample("build_s", time.perf_counter() - t0)
            else:
                with tr.span("sources.iceberg.read"):
                    transcripts = read_table(self.spark, self.path("corpus")).persist()
                    transcripts.count()
                mentions = self._mentions(transcripts)
                with tr.span("extract.structure"):
                    turn_structure_triples(transcripts).write.format("noop") \
                        .mode("overwrite").save()
                with tr.span("canonicalize.rep_dim") as rep_dim:
                    present_rep_dim(mentions, gen.GAZETTEER)
                with tr.span("canonicalize.construct") as construct:
                    canon = construct_canonical(transcripts, gen.GAZETTEER,
                                                mentions=mentions).persist()
                    canon.count()
                # construct_canonical runs present_rep_dim again inside; its
                # own figure is its span less that repeated pass
                tr.count("canonicalize.construct_s",
                         _duration(construct) - _duration(rep_dim))
                self._write(canon, out)
        self.attempted += 1
        self.spark.catalog.clearCache()
        self.checks.append(lambda: oracle.check_canonical(
            oracle.read_store(out), self.expected_base, self.inputs.base,
            f"build {tag}"))
        return out

    # Traced, a fold's and a closure's calls into the layers a build also
    # calls (read, mention extraction, write) record under "append." and
    # "closure." prefixes, so each layer's figure is a build's, not a
    # median over calls of different sizes.

    def _mentions(self, transcripts: DataFrame, prefix: str = "") -> DataFrame:
        with self.tracer.span(f"{prefix}extract.mentions"):
            mentions = extract_mentions(transcripts, gen.GAZETTEER).persist()
            self.tracer.count(f"{prefix}extract.mention_rows", mentions.count())
        return mentions

    def _write(self, df: DataFrame, out: str, prefix: str = "",
               expected_new: int | None = None) -> None:
        with self.tracer.span(f"{prefix}materialize.write"):
            resume_or_write(df, out, "triples", N_BUCKETS)
        if self.tracer.enabled:
            nbytes, nfiles = oracle.store_bytes(out)
            self.tracer.count(f"{prefix}materialize.bytes_written", nbytes)
            self.tracer.count(f"{prefix}materialize.files_written", nfiles)
            if expected_new:
                self.tracer.count("materialize.rows_written_per_new_row",
                                  oracle.count_store(out) / expected_new)

    @cached_property
    def expected_base(self) -> set[tuple]:
        return gen.expected_triples(self.inputs.base)

    def store_metrics(self, store: str) -> None:
        nbytes, _ = oracle.store_bytes(store)
        self.sample("store_bytes_per_triple", nbytes / len(self.expected_base))

    # -- queries -----------------------------------------------------------

    def query_mix(self, r: int) -> list[Query]:
        """One round of the mix; parameters drawn from (seed, round)."""
        rng = random.Random(self.seed * 1_000_003 + r)
        base = self.inputs.base
        rep = gen.representatives(base.present())
        counts: dict[str, int] = {}
        for ss in base.planted.values():
            for s in ss:
                counts[rep[s]] = counts.get(rep[s], 0) + 1
        by_freq = sorted(counts, key=lambda k: (-counts[k], k))
        hot = by_freq[: max(1, len(by_freq) // 10)]
        cold = by_freq[len(by_freq) // 2:]
        turns = sorted(base.planted)
        M, ROLE, TOOL, HT = gen.P_MENTIONS, gen.P_ROLE, gen.P_TOOL, gen.P_HAS_TURN
        a_hot, a_cold, ent = rng.choice(hot), rng.choice(cold), rng.choice(by_freq)
        role = rng.choice(["user", "assistant"])
        tool = rng.choice(gen.TOOLS)
        bnode = gen.turn_bnode(*rng.choice(turns))
        conv = rng.choice(base.conv_ids())

        def find(shape, s=None, p=None, o=None):
            return Query("find", shape, lambda c: c.find(s, p, o),
                         lambda a: a.find(s, p, o))

        def sparql(cls, shape, q, sql, params):
            return Query(cls, shape, lambda c: c.query(q), lambda a: a.rows(sql, params),
                         True)

        bgp_role = (f'SELECT ?t WHERE {{ ?t <{ROLE}> "{role}" . ?t <{M}> <{ent}> }}')
        sql_role = ("SELECT r.s_val FROM t r JOIN t m ON r.s_kind = m.s_kind "
                    "AND r.s_val = m.s_val WHERE r.p_val = ? AND r.o_kind = 'literal' "
                    "AND r.o_val = ? AND r.o_datatype IS NULL AND r.o_lang IS NULL "
                    "AND m.p_val = ? AND m.o_kind = 'iri' AND m.o_val = ?")
        bgp_tool = (f'SELECT ?t ?e WHERE {{ ?t <{ROLE}> "assistant" . '
                    f'?t <{TOOL}> "{tool}" . ?t <{M}> ?e }}')
        sql_tool = ("SELECT r.s_val, m.o_val FROM t r JOIN t x ON r.s_val = x.s_val "
                    "JOIN t m ON r.s_val = m.s_val WHERE r.p_val = ? "
                    "AND r.o_val = 'assistant' AND r.o_kind = 'literal' "
                    "AND r.o_datatype IS NULL AND r.o_lang IS NULL AND x.p_val = ? "
                    "AND x.o_kind = 'literal' AND x.o_val = ? AND x.o_datatype IS NULL "
                    "AND x.o_lang IS NULL AND m.p_val = ?")
        bgp_star = (f'SELECT ?c ?t WHERE {{ ?c <{HT}> ?t . ?t <{TOOL}> "{tool}" . '
                    f'?t <{M}> <{a_hot}> }}')
        sql_star = ("SELECT h.s_val, h.o_val FROM t h JOIN t x ON h.o_kind = x.s_kind "
                    "AND h.o_val = x.s_val JOIN t m ON x.s_kind = m.s_kind "
                    "AND x.s_val = m.s_val WHERE h.p_val = ? AND x.p_val = ? "
                    "AND x.o_kind = 'literal' AND x.o_val = ? AND x.o_datatype IS NULL "
                    "AND x.o_lang IS NULL AND m.p_val = ? AND m.o_kind = 'iri' "
                    "AND m.o_val = ?")
        agg_role = (f'SELECT ?e (COUNT(?t) AS ?n) WHERE {{ ?t <{ROLE}> "{role}" . '
                    f'?t <{M}> ?e }} GROUP BY ?e')
        sql_agg_role = ("SELECT m.o_val, count(*) FROM t r JOIN t m ON r.s_val = m.s_val "
                        "WHERE r.p_val = ? AND r.o_kind = 'literal' AND r.o_val = ? "
                        "AND r.o_datatype IS NULL AND r.o_lang IS NULL "
                        "AND m.p_val = ? GROUP BY m.o_val")
        agg_tool = f"SELECT ?tool (COUNT(?t) AS ?n) WHERE {{ ?t <{TOOL}> ?tool }} GROUP BY ?tool"
        sql_agg_tool = "SELECT o_val, count(*) FROM t WHERE p_val = ? GROUP BY o_val"

        def union(a, b):
            return Query("setop", "union",
                         lambda c: G.union(c.find(p=M, o=("iri", a)), c.find(p=M, o=("iri", b))),
                         lambda x: list(set(x.find(p=M, o=("iri", a)) + x.find(p=M, o=("iri", b)))))

        inter = Query("setop", "intersection",
                      lambda c: G.intersection(c.find(p=M), c.find(o=("iri", a_cold))),
                      lambda x: list(set(x.find(p=M, o=("iri", a_cold)))))
        describe = Query("setop", "describe", lambda c: c.query_describe(ent),
                         lambda x: list(set(x.find(s=("iri", ent)) + x.find(o=("iri", ent)))))
        bgps = [sparql("bgp", "role", bgp_role, sql_role, [ROLE, role, M, ent]),
                sparql("bgp", "tool", bgp_tool, sql_tool, [ROLE, TOOL, tool, M]),
                sparql("bgp", "star", bgp_star, sql_star, [HT, TOOL, tool, M, a_hot])]
        aggs = [sparql("agg", "role", agg_role, sql_agg_role, [ROLE, role, M]),
                sparql("agg", "tool", agg_tool, sql_agg_tool, [TOOL])]
        setops = [union(a_hot, a_cold), inter, describe]
        # one query per shape: no traffic record in the repo gives the
        # class proportions, so every shape weighs the same (README.md)
        finds = [find("bnode", s=("bnode", bnode)),
                 find("conv", s=("iri", gen.conv_iri(conv)), p=HT),
                 find("hot", p=M, o=("iri", rng.choice(hot))),
                 find("cold", p=M, o=("iri", rng.choice(cold)))]
        return [*finds, *bgps, *aggs, *setops]

    def run_query(self, conn: Connection, q: Query, latencies: dict | None,
                  layer: str = "query") -> list[tuple]:
        """Run ``q`` and collect its rows. Traced, its spans and counts go
        under ``layer``: "query" for one client, "concurrent" for the
        nproc-client round, which stays out of the per-class figures."""
        tr = self.tracer
        if not tr.enabled:
            t0 = time.perf_counter()
            rows = [tuple(r) for r in q.run(conn).collect()]
            if latencies is not None:
                latencies.setdefault((q.cls, q.shape), []).append(time.perf_counter() - t0)
            return rows
        sc = self.spark.sparkContext
        group = f"kgbench-{q.cls}-{next(self.job_groups)}"
        sc.setJobGroup(group, group)
        plan = "sparql.compile" if q.sparql and layer == "query" else f"{layer}.plan"
        with tr.span(f"{layer}.{q.cls}"):
            with tr.span(plan):
                df = q.run(conn)
            with tr.span(f"{layer}.exec.{q.cls}"):
                rows = [tuple(r) for r in df.collect()]
        tr.count(f"{layer}.spark_jobs.{q.cls}",
                 len(sc.statusTracker().getJobIdsForGroup(group)))
        tr.count(f"{layer}.rows_returned.{q.cls}", len(rows))
        sc.setJobGroup("", "")
        return rows

    def connect(self, store: str) -> Connection:
        return Connection(self.spark, self.spark.read.parquet(store))

    def query_round(self, conn: Connection, r: int) -> None:
        """One client runs round ``r`` of the mix (a closed loop)."""
        lat: dict[tuple[str, str], list[float]] = {}
        mix = self.query_mix(r)
        t0 = time.perf_counter()
        with self.tracer.span("queries.single"):
            for q in mix:
                self.answered.append((q, self.run_query(conn, q, lat)))
        self.sample("query_qps", len(mix) / (time.perf_counter() - t0))
        for (cls, shape), v in lat.items():
            self.samples.setdefault(f"lat/{cls}/{shape}", []).extend(v)
        self.attempted += len(mix)

    def lookups(self, conn: Connection, r: int) -> None:
        """One client runs a burst of point lookups: the find shapes of
        LOOKUP_DRAWS mix rounds. Their latencies join the find class;
        they stay out of ``query_qps``, which is the mix's rate."""
        lat: dict[tuple[str, str], list[float]] = {}
        finds = [q for k in range(LOOKUP_DRAWS)
                 for q in self.query_mix(1_000_000 + LOOKUP_DRAWS * r + k) if q.cls == "find"]
        with self.tracer.span("queries.lookups"):
            for q in finds:
                self.answered.append((q, self.run_query(conn, q, lat)))
        for (cls, shape), v in lat.items():
            self.samples.setdefault(f"lat/{cls}/{shape}", []).extend(v)
        self.attempted += len(finds)

    def queries_concurrent(self, conn: Connection, r: int) -> None:
        """NPROC clients, each running one round of the mix."""
        lock = threading.Lock()

        def client(i: int) -> None:
            for q in self.query_mix(10_000 * (i + 1) + r):
                rows = self.run_query(conn, q, None, "concurrent")
                with lock:
                    self.answered.append((q, rows))

        t0 = time.perf_counter()
        with self.tracer.span("queries.concurrent"):
            with ThreadPoolExecutor(NPROC) as pool:
                for f in [pool.submit(client, i) for i in range(NPROC)]:
                    f.result()
        n = NPROC * len(self.query_mix(r))
        self.sample("query_qps_concurrent", n / (time.perf_counter() - t0))
        self.attempted += n

    def check_queries(self) -> list[str]:
        ans = oracle.Answers(self.expected_base)
        try:
            bad = [q for q, rows in self.answered if not oracle.same_bag(rows, q.answer(ans))]
        finally:
            ans.close()
        return [f"queries: {len(bad)} of {len(self.answered)} answers wrong, "
                f"first in class {bad[0].cls}"] if bad else []

    # -- append --------------------------------------------------------------

    def fold_next(self, base_store: str) -> str:
        """Fold the next arrival batch onto the current chain of
        snapshots, then read READS_PER_FOLD of its conversations back. The chain
        starts from ``base_store`` and ends after the last batch.
        Returns the committed snapshot."""
        inp, tr = self.inputs, self.tracer
        if self.chain is None:
            acc = gen.Corpus()
            acc.extend(inp.base)
            self.chain = {"r": self.n_chains, "prev": base_store, "acc": acc,
                          "exp": self.expected_base, "snaps": []}
            self.n_chains += 1
        ch = self.chain
        k, r, prev = len(ch["snaps"]), ch["r"], ch["prev"]
        batch = inp.batches[k]
        out = self.path("stores", f"snap-r{r}-b{k}")
        ch["acc"].extend(batch)
        exp = gen.expected_triples(ch["acc"])
        new_rows = len(exp) - len(ch["exp"])
        old_reps = {x[1] for x in ch["exp"] if x[2] == gen.RDFS_LABEL}
        superseded = old_reps - {x[1] for x in exp if x[2] == gen.RDFS_LABEL}
        with tr.span("append.fold"):
            if not tr.enabled:
                t0 = time.perf_counter()
                existing = self.spark.read.parquet(prev).drop("part_id")
                arrivals = read_table(self.spark, self.path("arrivals", f"b{k}"))
                resume_or_write(construct_incremental(existing, arrivals, gen.GAZETTEER),
                                out, "triples", N_BUCKETS)
                self.sample("append_reelect_s" if k == inp.reelect_batch
                            else "append_batch_s", time.perf_counter() - t0)
            else:
                if superseded:
                    tr.count("canonicalize.reelect_rows_rewritten", sum(
                        1 for x in oracle.read_store(prev)
                        if x[1] in superseded or x[4] in superseded))
                existing = self.spark.read.parquet(prev).drop("part_id")
                with tr.span("append.sources.iceberg.read"):
                    arrivals = read_table(self.spark,
                                          self.path("arrivals", f"b{k}")).persist()
                    arrivals.count()
                mentions = self._mentions(arrivals, "append.")
                with tr.span("canonicalize.incremental"):
                    folded = construct_incremental(existing, arrivals, gen.GAZETTEER,
                                                   mentions=mentions).persist()
                    folded.count()
                self._write(folded, out, "append.", new_rows)
        self.attempted += 1
        self.spark.catalog.clearCache()
        reads = []
        conn = self.connect(out)
        rng = random.Random(self.seed * 7919 + r * 31 + k)
        for cid in rng.sample(batch.conv_ids(), min(READS_PER_FOLD, len(batch.conv_ids()))):
            t0 = time.perf_counter()
            with tr.span("append.read"):
                rows = [tuple(x) for x in conn.find(
                    s=("iri", gen.conv_iri(cid)), p=gen.P_HAS_TURN).collect()]
            self.sample("read_after_append_s", time.perf_counter() - t0)
            reads.append((cid, rows))
            self.attempted += 1
        ch["snaps"].append((out, prev, new_rows, exp, superseded, reads, batch))
        ch["prev"], ch["exp"] = out, exp
        if k + 1 == len(inp.batches):
            self.end_chain()
        return out

    def end_chain(self) -> None:
        """Close the current chain and queue its checks."""
        ch, self.chain = self.chain, None
        if ch:
            self.last_chain = (ch["snaps"][-1][0], ch["acc"])
            self.checks.append(lambda: self._check_append(ch["snaps"], ch["acc"]))

    def _check_append(self, snaps, final_corpus: gen.Corpus) -> list[str]:
        errs = []
        for out, prev, new_rows, exp, superseded, reads, batch in snaps:
            got, before = oracle.count_store(out), oracle.count_store(prev)
            if got != before + new_rows:
                errs.append(f"append {out}: {got} rows, want {before} + {new_rows}")
            errs += check_reads(reads, batch)
            if superseded:
                stale = [x for x in oracle.read_store(out)
                         if x[1] in superseded or x[4] in superseded]
                if stale:
                    errs.append(f"append {out}: {len(stale)} rows name a superseded "
                                f"representative")
        last, _, _, exp, *_ = snaps[-1]
        errs += oracle.check_canonical(oracle.read_store(last), exp, final_corpus,
                                       f"append {last}")
        return errs

    def one_shot_matches(self, store: str, corpus: gen.Corpus) -> list[str]:
        """The folded store equals a one-shot construction of the union."""
        one = {tuple(x) for x in construct_canonical(self.transcripts(corpus), gen.GAZETTEER)
               .select(*oracle.TERM_COLS).collect()}
        return oracle.diff("append vs one-shot construction",
                            set(oracle.read_store(store)), one)

    # -- sameAs closure --------------------------------------------------------

    def closure(self, tag: str) -> None:
        out = self.path("stores", f"closure-{tag}")
        tr, g = self.tracer, self.inputs.closure
        with tr.span("closure"):
            if not tr.enabled:
                t0 = time.perf_counter()
                triples = read_table(self.spark, self.path("closure_in"))
                mapping = connected_components(sameas_edges(triples),
                                               driver_threshold=CC_DRIVER_THRESHOLD)
                resume_or_write(canonicalize_triples(triples, mapping), out,
                                "triples", N_BUCKETS)
                self.sample("closure_s", time.perf_counter() - t0)
            else:
                sc = self.spark.sparkContext
                with tr.span("closure.sources.iceberg.read"):
                    triples = read_table(self.spark, self.path("closure_in")).persist()
                    triples.count()
                group = f"kgbench-cc-{tag}"
                sc.setJobGroup(group, group)
                with tr.span("canonicalize.cc"):
                    mapping = connected_components(
                        sameas_edges(triples), driver_threshold=CC_DRIVER_THRESHOLD).persist()
                    mapping.count()
                tr.count("canonicalize.cc_spark_jobs",
                         len(sc.statusTracker().getJobIdsForGroup(group)))
                sc.setJobGroup("", "")
                with tr.span("canonicalize.rewrite"):
                    canon = canonicalize_triples(triples, mapping).persist()
                    canon.count()
                self._write(canon, out, "closure.")
        self.attempted += 1
        pairs = [tuple(x) for x in mapping.collect()]
        self.spark.catalog.clearCache()
        self.checks.append(lambda: oracle.check_partition(pairs, g) + oracle.check_canonical(
            oracle.read_store(out), gen.expected_closure(g), None, f"closure {tag}"))

    # -- monitoring ---------------------------------------------------------------

    def shuffle_write_bytes(self) -> int:
        """Shuffle bytes written by the stages completed so far, from
        Spark's monitoring REST API, read once the listener bus has
        delivered every event of the jobs already run."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        with urllib.request.urlopen(
                f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
                f"/stages?status=complete", timeout=10) as r:
            return sum(s.get("shuffleWriteBytes", 0) for s in json.loads(r.read()))


def _duration(span: dict) -> float:
    return span["end"] - span["start"]


def check_reads(reads, batch: gen.Corpus) -> list[str]:
    """Each read after a commit sees the just-appended conversation."""
    errs = []
    for cid, rows in reads:
        want = {("iri", gen.conv_iri(c), gen.P_HAS_TURN, "bnode", gen.turn_bnode(c, t),
                 None, None) for c, t in batch.planted if c == cid}
        if not want or set(rows) != want or len(rows) != len(want):
            errs.append(f"read after append: conversation {cid} shows {len(rows)} "
                        f"turns, want {len(want)}")
    return errs
