"""Self-test of the benchmark's checks.

    python3 kgbench/selftest.py

1. Runs every workload at the tiny scale, untraced and traced, and
   requires ``correct: true`` and every metric of the mode, each in the
   unit ``BENCHMARK.json`` gives it.
2. Feeds the checkers corrupted outputs (a dropped triple, a duplicated
   triple, a wrong representative, a read served from the previous
   snapshot, a wrong query answer, a split sameAs component) and
   requires each one to be rejected. Corrupted stores are written as
   parquet and read back through the same DuckDB path as real stores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(ROOT, ".kgbench_out", "selftest")


def run_workloads(failures: list[str]) -> None:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))
    # every workload prints every metric of its mode, in the manifest's unit
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", "11", "--seconds", "1", "--trace", str(trace),
                 "--scale", "tiny"],
                capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                failures.append(f"{w} trace={trace}: exit {proc.returncode}\n"
                                f"{proc.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect = want[trace]
            if not res["correct"] or got != expect or res["attempted"] < 1:
                failures.append(f"{w} trace={trace}: correct={res['correct']} "
                                f"metrics differ by {sorted(set(got.items()) ^ set(expect.items()))}\n"
                                f"{proc.stderr[-2000:]}")
            print(f"selftest: {w} trace={trace}: ok={res['correct']} "
                  f"attempted={res['attempted']}")


def _store(name: str, rows: list[tuple]) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(WORK, name, "part_id=0")
    os.makedirs(path)
    table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(oracle.TERM_COLS)},
                     schema=pa.schema([(c, pa.string()) for c in oracle.TERM_COLS]))
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return os.path.dirname(path)


def corrupted_outputs(failures: list[str]) -> None:
    inp = gen.make_inputs(11, gen.SCALES["tiny"])
    expected = gen.expected_triples(inp.base)
    good = sorted(expected, key=str)

    def rejects(label: str, errs: list[str]) -> None:
        print(f"selftest: {label}: {'rejected' if errs else 'NOT REJECTED'}")
        if not errs:
            failures.append(f"checker accepted {label}")

    def check(name, rows):
        return oracle.check_canonical(oracle.read_store(_store(name, rows)),
                                      expected, inp.base, name)

    if check("good", good):
        failures.append(f"checker rejected the correct store: {check('good2', good)}")
    rejects("a dropped triple", check("dropped", good[1:]))
    rejects("a duplicated triple", check("duplicated", good + good[:1]))
    # a mention edge and label under a non-least member of the component
    rep = gen.representatives(inp.base.present())
    s2c = gen.surface_canonical()
    surface = next(s for s in sorted(rep) if gen.entity_iri(s) != rep[s]
                   or gen.entity_iri(s2c[s]) != rep[s])
    other = max({gen.entity_iri(surface), gen.entity_iri(s2c[surface])})
    wrong = [(r[0], other if r[1] == rep[surface] else r[1], r[2], r[3],
              other if r[4] == rep[surface] else r[4], r[5], r[6]) for r in good]
    rejects("a wrong representative", check("wrong_rep", wrong))

    # a read after append served from the previous snapshot
    import workloads

    batch = inp.batches[0]
    cid = batch.conv_ids()[0]
    fresh = [("iri", gen.conv_iri(cid), gen.P_HAS_TURN, "bnode", gen.turn_bnode(c, t),
              None, None) for c, t in batch.planted if c == cid]
    if workloads.check_reads([(cid, fresh)], batch):
        failures.append("read check rejected a correct read")
    rejects("a read from the previous snapshot", workloads.check_reads([(cid, [])], batch))

    # a query answer with one row missing
    ans = oracle.Answers(expected)
    rows = ans.find(p=gen.P_MENTIONS)
    ans.close()
    rejects("a wrong query answer", [] if oracle.same_bag(rows[1:], rows) else ["x"])

    # connected components that split the hot component in two
    g = inp.closure
    mapping = [(n, min(c)) for c in g.components for n in c]
    if oracle.check_partition(mapping, g):
        failures.append("partition check rejected the planted partition")
    hot = max(g.components, key=len)
    split = sorted(hot)[len(hot) // 2:]
    rejects("a split component", oracle.check_partition(
        [(n, split[0] if n in split else c) for n, c in mapping], g))
    rejects("a non-least representative", oracle.check_partition(
        [(n, max(hot) if n in hot else c) for n, c in mapping], g))


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    failures: list[str] = []
    corrupted_outputs(failures)
    if "--checks-only" not in sys.argv:
        run_workloads(failures)
    shutil.rmtree(WORK, ignore_errors=True)
    for f in failures:
        print(f"selftest: FAIL: {f}", file=sys.stderr)
    print("selftest: " + ("FAILED" if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
