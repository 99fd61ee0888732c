"""Self-tests of the benchmark itself, and checks of its trace files.

    python3 perfbench/selftest.py                      # unit self-tests
    python3 perfbench/selftest.py TRACE.json [...]      # span arithmetic
    python3 perfbench/selftest.py A.json B.json --determinism OUT.json

The unit self-tests need no Spark. With trace files (written by a
`--trace 1` run to `.perfbench_out/`), every Spark operation's layer self
times must sum to its traced wall time within a tenth. With two traces of
the same workload and seed, `--determinism` compares the work counts of
every operation; a count that differs is marked unusable for count-based
claims.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import hostspeed  # noqa: E402
import programs  # noqa: E402
from run import BATCH, DIALECT, INTERACTIVE, Run, pass_order, percentile  # noqa: E402
from spans import DETERMINISTIC_COUNTS, Tracer, driver_gap_ms, span_violations  # noqa: E402


def test_seed_determinism() -> None:
    a, b, c = programs.generate(7), programs.generate(7), programs.generate(8)
    assert a == b, "same seed must give identical programs in the same order"
    assert [p.sql for p in a] != [p.sql for p in c], "another seed must differ"
    ops = list(BATCH)
    for k in range(3):
        assert pass_order(7, "batch", ops, k) == pass_order(7, "batch", ops, k)
    orders = {tuple(pass_order(s, "batch", ops, 1)) for s in range(1, 6)}
    assert len(orders) > 1, "different seeds must give different orders"
    progs = list(range(1010))
    assert pass_order(1, "compile", progs, 1) != pass_order(2, "compile", progs, 1)


def test_dialect_is_a_share_of_interactive() -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from purescript_ifrit_spark import suite

    assert all(n in suite.REGISTRY and INTERACTIVE.match(n) for n in DIALECT)
    assert not any(n.startswith("xd_") for n in DIALECT)


def test_program_sizes_fixed_across_seeds() -> None:
    # the seed changes a program's content and place, not its size
    def shapes(seed):
        return sorted((p.size, p.sql.count("SELECT"), p.sql.count(" WHERE "),
                       p.sql.count(" AND ") + p.sql.count(" OR "), p.sql.count(" LIMIT "))
                      for p in programs.generate(seed))

    assert shapes(1) == shapes(2)


def test_calibration_scaling() -> None:
    # two passes of two operations; the host runs twice as slow for the
    # second pass, and the blocks show it
    cal = hostspeed.Calibration(lambda: 1, 0.01, 0.0)
    cal.times = [0.01, 0.02]
    run = Run.__new__(Run)
    run.calibration, run.provenance = cal, {}
    run.latencies, run.block_of, run.pass_ends = [1.0, 3.0, 2.0, 6.0], [0, 0, 1, 1], [2, 4]
    setup, lats = run.calibrated(10.0)
    assert lats == [1.0, 3.0, 1.0, 3.0]
    assert run.provenance["pass_s"] == 4.0 and run.provenance["wall_pass_s"] == 6.0
    assert abs(setup - 10.0 / 1.5) < 1e-12, setup  # the median block is 0.015


def test_reference_shapes_present() -> None:
    sqls = {p.sql for p in programs.generate(3)}
    assert all(sql in sqls for sql, _ in programs.REFERENCE_SHAPES)


def test_self_times() -> None:
    t = Tracer()
    t.layers = ["op", "operators", "sources", "catalyst"]
    t._layer_ids = {name: i for i, name in enumerate(t.layers)}
    # op [0,10] > operators [1,6] > sources [2,3]; catalyst [7,9]
    for op, layer, parent, s, e in (
        (0, 0, -1, 0.0, 10.0), (0, 1, 0, 1.0, 6.0), (0, 2, 1, 2.0, 3.0),
        (0, 3, 0, 7.0, 9.0),
    ):
        t.op.append(op), t.layer.append(layer), t.parent.append(parent)
        t.start.append(s), t.end.append(e)
    got = t.self_times()[0]
    assert got == {"op": 3.0, "operators": 4.0, "sources": 1.0, "catalyst": 2.0}, got
    assert sum(got.values()) == 10.0
    assert t.span_totals("operators") == {0: 5.0}


def test_span_check() -> None:
    # the named layers cover 9.5 s of a 10 s operation: within a tenth
    row = {"op": 0, "name": "x", "wall_s": 10.0,
           "layers": {"op": 0.5, "operators": 4.0, "catalyst": 2.0, "exec": 3.5}}
    assert span_violations([row]) == []
    # a 3 s gap no layer covers lands in `op`'s self time and must fail,
    # although every self time still sums to the wall time
    gap = {**row, "layers": {"op": 3.0, "operators": 4.0, "catalyst": 2.0, "exec": 1.0}}
    assert sum(gap["layers"].values()) == gap["wall_s"]
    assert [v["op"] for v in span_violations([gap])] == [0]
    assert span_violations([{**gap, "error": True}]) == []


def test_nested_same_layer() -> None:
    t = Tracer()
    t.current_op = 4
    with t.span("analyzer"):
        with t.span("analyzer"):
            pass
    got = t.self_times()[4]["analyzer"]
    assert abs(got - (t.end[0] - t.start[0])) < 1e-12


def test_percentile() -> None:
    assert percentile(list(range(1, 1011)), 99) == 1000
    assert percentile(list(range(1, 54)), 90) == 48
    assert percentile([5, 1, 3, 2, 6, 4], 90) == 6
    assert percentile([5, 1, 3, 2, 6, 4], 50) == 3


def test_driver_gap() -> None:
    assert driver_gap_ms([(0, 10), (15, 20), (18, 30), (40, 41)]) == 15
    assert driver_gap_ms([]) == 0.0


def span_check(path: str) -> int:
    """Number of operations whose named layers miss the wall time."""
    with open(path) as fh:
        doc = json.load(fh)
    if doc["provenance"]["workload"] == "compile":
        return 0
    bad = span_violations(doc["operations"])
    for v in bad:
        print(f"{path}: {v['name']} layers {v['layers_s']:.4f}s vs wall {v['wall_s']:.4f}s")
    return len(bad)


def determinism(path_a: str, path_b: str) -> dict:
    """Per count: identical on every operation of two same-seed runs?"""
    docs = []
    for p in (path_a, path_b):
        with open(p) as fh:
            docs.append(json.load(fh))
    pa, pb = docs[0]["provenance"], docs[1]["provenance"]
    if (pa["workload"], pa["seed"]) != (pb["workload"], pb["seed"]):
        raise SystemExit("the two traces must share workload and seed")
    rows_a = {(r["pass"], r["name"]): r for r in docs[0]["operations"]}
    rows_b = {(r["pass"], r["name"]): r for r in docs[1]["operations"]}
    keys = sorted(set(rows_a) & set(rows_b))
    out = {"workload": pa["workload"], "seed": pa["seed"], "operations": len(keys),
           "counts": {}}
    for c in DETERMINISTIC_COUNTS:
        diffs = [
            {"pass": k[0], "name": k[1], "a": rows_a[k][c], "b": rows_b[k][c]}
            for k in keys if rows_a[k][c] != rows_b[k][c]
        ]
        out["counts"][c] = {"usable": not diffs, "differing": diffs}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("traces", nargs="*")
    ap.add_argument("--determinism", metavar="OUT")
    args = ap.parse_args()
    if args.determinism:
        if len(args.traces) != 2:
            ap.error("--determinism takes exactly two trace files")
        out = determinism(*args.traces)
        with open(args.determinism, "w") as fh:
            json.dump(out, fh, indent=1)
        for c, v in out["counts"].items():
            print(f"{c}: {'usable' if v['usable'] else 'UNUSABLE'} "
                  f"({len(v['differing'])} differing operations)")
        return 0
    if args.traces:
        bad = sum(span_check(p) for p in args.traces)
        print(f"span arithmetic: {bad} operations outside a tenth")
        return 1 if bad else 0
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
