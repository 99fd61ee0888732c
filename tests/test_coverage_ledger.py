"""Guards for the driver window: the 50 registry entries the driver checks
each round are computed from the CORRECTNESS_rNN.json artifacts alone
(never-green first, then earliest SLA deadline), so a landed round moves
the window on with no source edit. Also the COVERAGE.md citation guard and
bench.py's static guards."""

from __future__ import annotations

import json
import re
import shutil
from pathlib import Path

from purescript_ifrit_spark.suite import (
    DEMO_REGISTRY,
    REGISTRY,
    STALENESS_SLA,
    WINDOW_SIZE,
    deadline,
    driver_window,
    entry_tier,
    last_green,
    render_ledger_table,
    upcoming_round,
    window_staleness_violations,
)

COVERAGE = Path(__file__).resolve().parents[1] / "COVERAGE.md"

GREEN = {
    "rows_match": True, "schema_match": True, "hash_match": True,
    "spark_rows": 1, "oracle_rows": 1, "err": None,
}


def _assert_edf_order(window, names, evidence):
    # never-green entries first (as due at -1), then non-decreasing
    # deadlines; nothing left outside is due before something let in
    def due(name):
        return deadline(name, evidence) if name in evidence else -1

    dues = [due(n) for n in window]
    assert dues == sorted(dues), window
    outside = [due(n) for n in names if n not in set(window)]
    assert not outside or dues[-1] <= min(outside)


def test_ledger_history_covers_registry_exactly():
    # the rendered ledger has one row per registry entry, in driver order
    rows = re.findall(r"^\| (\d+) \| `([^`]+)` \|", render_ledger_table(), re.M)
    assert [(int(pos), name) for pos, name in rows] == list(
        enumerate(REGISTRY)
    )


def test_driver_window_is_exactly_fifty_oracle_entries():
    # the driver checks the FIRST 50 — all 50 slots must be spendable on
    # hash-green outcomes, and the import-time order is the computed one
    window = driver_window(REGISTRY, last_green())
    assert WINDOW_SIZE == 50
    assert len(window) == 50
    assert len(set(window)) == 50
    assert list(REGISTRY)[:50] == window
    rows_only = [n for n in window if REGISTRY[n][1] is None]
    assert rows_only == []


def test_registry_is_fully_oracle_backed_and_demos_are_disjoint():
    """Since r8 the driver registry carries NO rows-only entries —
    `oracle_sql()` covers 100% of `queries()` — and every retired demo
    lives in DEMO_REGISTRY."""
    no_oracle = [n for n, (_, o) in REGISTRY.items() if o is None]
    assert no_oracle == []
    assert not set(DEMO_REGISTRY) & set(REGISTRY)
    # each retired name is shadowed by a green planted/bound twin that IS
    # in the driver registry (documented pairing, spot-pinned here)
    twins = {
        "x_dedup_minhash": "x_dedup_minhash_planted",
        "x_dedup_simhash_pairs": "x_dedup_simhash_planted",
        "x_dedup_clusters": "x_dedup_clusters_planted",
        "x_curate_pipeline": "x_curate_exact",
        "x_streaming_dau": "x_streaming_dau_planted",
        "x_bpe_encode": "x_bpe_encode_planted",
        # the r14 net-zero wave re-points both single-query chains at
        # the batch entries (1-query ≡ batch is test-pinned)
        "x_ann_lsh_topk": "x_ann_lsh_batch_planted",
        "x_ann_ivf_topk": "x_ann_ivf_batch_planted",
        "x_ann_lsh_planted": "x_ann_lsh_batch_planted",
        "x_ann_ivf_planted": "x_ann_ivf_batch_planted",
        "x_ann_cosine_topk": "x_ann_batch",
        "x_knn_join": "x_knn_join_planted",
        "x_dau_approx": "x_dau_bound_planted",
        "x_approx_distinct": "x_hll_distinct_planted",
        "x_percentiles_approx": "x_percentiles_approx_planted",
        "x_heavy_hitters_mg": "x_heavy_hitters_mg_planted",
        "x_training_shards": "x_training_shards_planted",
        "x_cms_probe": "x_cms_probe_planted",
    }
    assert set(twins) == set(DEMO_REGISTRY)
    for demo, twin in twins.items():
        assert twin in REGISTRY and REGISTRY[twin][1] is not None, (demo, twin)


def test_window_prioritizes_never_verified_oracle_entries():
    # every registry entry with no green driver row yet is IN the window,
    # ahead of every entry that has evidence; the rest follow by deadline
    evidence = last_green()
    window = list(REGISTRY)[:50]
    never = [n for n in REGISTRY if n not in evidence]
    assert window[: len(never)] == sorted(never)
    _assert_edf_order(window, REGISTRY, evidence)
    # a newly registered entry joins them, whatever its name sorts as
    grown = driver_window([*REGISTRY, "x_zz_new"], evidence)
    assert "x_zz_new" in grown[: len(never) + 1]


def test_evidence_reader_applies_the_green_rule(tmp_path, monkeypatch):
    # green = rows_match and hash_match and err is None; a later green row
    # wins; files that are not CORRECTNESS_rNN.json are ignored; an
    # unreadable artifact is a spent round with no evidence
    a, b, c, d = list(REGISTRY)[:4]
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        a: GREEN,
        b: {**GREEN, "hash_match": False},
        c: {**GREEN, "rows_match": False, "spark_rows": 3},
        d: {**GREEN, "rows_match": None, "hash_match": None,
            "err": "Traceback ...\nTypeError: boom"},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({b: GREEN}))
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r09.json.bak").write_text(json.dumps({c: GREEN}))
    assert last_green(tmp_path) == {a: 1, b: 2}
    assert upcoming_round(tmp_path) == 4
    table = render_ledger_table(tmp_path)
    assert f"| `{b}` | r1 (hash mismatch), r2" in table
    assert f"| `{c}` | r1 (rows 3 vs oracle 1)" in table
    assert f"| `{d}` | r1 (TypeError: boom)" in table
    # the repo's own artifacts are found from the package, not the cwd
    evidence = last_green()
    monkeypatch.chdir(tmp_path)
    assert last_green() == evidence and evidence


def test_window_meets_staleness_sla():
    # the SLA (core contract evidence <= 3 rounds old, extensions <= 5,
    # never-checked -> next window) is enforced against the window ABOUT
    # TO BE SPENT: every entry's age comes from the on-disk CORRECTNESS
    # artifacts against current_round = latest artifact round + 1, and
    # the test fails if that round's window lets any entry breach its
    # tier's bound. It can only fail when more entries are due than the
    # window has slots: after a round that did not check the computed
    # window, or registry growth past test_registry_capacity_fits_the_sla.
    assert STALENESS_SLA == {"core": 3, "extension": 5}
    assert entry_tier("p1_projection") == "core"
    assert entry_tier("x_dedup_exact") == "extension"
    assert entry_tier("xd_simhash") == "extension"
    evidence = last_green()
    current_round = upcoming_round()
    assert current_round >= 13
    # the checker is not vacuous: an empty window at the same round must
    # report the stale cohorts this window exists to clear
    assert window_staleness_violations([], current_round, evidence)
    violations = window_staleness_violations(
        list(REGISTRY)[:50], current_round, evidence
    )
    assert violations == [], violations


def test_window_moves_on_at_round_boundary(tmp_path):
    # a landed round is the only input the next window needs: mark the
    # upcoming window green in a synthetic artifact and recompute
    for p in COVERAGE.parent.glob("CORRECTNESS_r*.json"):
        shutil.copy(p, tmp_path)
    rnd = upcoming_round(tmp_path)
    assert rnd == upcoming_round()
    window = driver_window(REGISTRY, last_green(tmp_path))
    assert window == list(REGISTRY)[:50]
    (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(
        json.dumps({name: GREEN for name in window})
    )
    assert upcoming_round(tmp_path) == rnd + 1
    evidence = last_green(tmp_path)
    assert all(evidence[n] == rnd for n in window)
    moved = driver_window(REGISTRY, evidence)
    assert len(moved) == 50 and moved != window
    _assert_edf_order(moved, REGISTRY, evidence)
    assert f"r{rnd + 1}*" in render_ledger_table(tmp_path)
    # never-green entries still come first: a new entry heads the window
    never = [n for n in REGISTRY if n not in evidence]
    grown = driver_window([*REGISTRY, "x_zz_new"], evidence)
    assert grown[: len(never) + 1] == sorted([*never, "x_zz_new"])


def test_deadline_first_rotation_drains_the_backlog():
    # 25 simulated rounds from today's evidence, each window going green:
    # the backlog left by the wasted round 15 (57 entries due at round 16
    # for 50 slots) drains by round 19, and no entry breaches its SLA
    # after that
    evidence = last_green()
    start = upcoming_round()
    for rnd in range(start, start + 25):
        window = driver_window(REGISTRY, evidence)
        violations = window_staleness_violations(window, rnd, evidence)
        if rnd >= 19:
            assert violations == [], (rnd, violations)
        evidence.update({name: rnd for name in window})


def test_coverage_cites_only_live_entry_names():
    # COVERAGE.md rows once cited pre-rename entry names. Guard: every
    # x_/xd_ name cited anywhere in COVERAGE.md must exist in the driver
    # registry or (for the documented retired demos) in DEMO_REGISTRY —
    # so a rename can never leave a dangling citation again.
    cited = set(re.findall(r"`(xd?_[a-z0-9_]+)`", COVERAGE.read_text()))
    known = set(REGISTRY) | set(DEMO_REGISTRY)
    dangling = sorted(n for n in cited if n not in known)
    assert dangling == [], dangling


def test_registry_capacity_fits_the_sla():
    # Growth discipline, stated once and enforced. At steady state each
    # core entry consumes a window slot every (core SLA + 1) rounds and
    # each extension entry every (extension SLA + 1) rounds; the projected
    # demand plus a reserve for new entries (the observed ~5/round intake,
    # which occupies slots the round it lands) must fit the 50-slot
    # window. When this fails, the registry must go net-zero: retire a
    # superseded demo to DEMO_REGISTRY (the r8 precedent) for every new
    # `_planted` entry.
    n_core = sum(
        1 for n in REGISTRY if not n.startswith(("x_", "xd_"))
    )
    n_ext = len(REGISTRY) - n_core
    demand = (
        n_core / (STALENESS_SLA["core"] + 1)
        + n_ext / (STALENESS_SLA["extension"] + 1)
    )
    new_entry_reserve = 5
    assert demand + new_entry_reserve <= 50, (
        f"projected steady-state slot demand {demand:.1f} + "
        f"{new_entry_reserve} reserved for new entries exceeds the "
        f"50-slot window ({n_core} core / {n_ext} extension entries): "
        "retire superseded demos to DEMO_REGISTRY (net-zero growth) "
        "before registering more"
    )


def test_bench_loads_every_table_it_references():
    """Static guard for the r7 defect class: a bench extra referenced
    t["part"] but the loader tuple was never extended, so every full
    bench run crashed with KeyError before emitting JSON."""
    import re

    src = (COVERAGE.parent / "bench.py").read_text()
    loaded = set(re.findall(r'"(\w+)"', src.split("t = {", 1)[1].split("}", 1)[0]))
    referenced = set(re.findall(r'\bt\["(\w+)"\]', src))
    missing = referenced - loaded
    assert not missing, f"bench references unloaded tables: {sorted(missing)}"


def test_bench_stdout_line_excludes_the_extras_map():
    """Static guard for the r5/r7 defect class (BENCH parsed:null): the
    single stdout JSON line must stay under the driver's tail budget, so
    the per-extra map — which grows with every registered operator — may
    only ever be written to BENCH_DETAIL.json, never into `result`."""
    src = (COVERAGE.parent / "bench.py").read_text()
    # slice to the END of the result-dict assignment (the detail-copy
    # line that follows it), NOT the first '}' — that brace closes the
    # nested variance sub-dict and would leave later keys uninspected
    # (r8 review: re-adding the extras map at the bottom of the dict
    # would have passed the truncated guard)
    result_block = src.split("result = {", 1)[1].split(
        "detail = dict(result)", 1
    )[0]
    assert '"queries_extra_steady_state"' not in result_block
    assert '"queries_extra_total_steady_state"' in result_block
    # the detail artifact still carries the full map
    assert 'detail["queries_extra_steady_state"] = extra' in src


def test_bench_registers_scratch_layout_cleanup():
    """ADVICE r11 (r12 fix): the r11 stored-layout extras write parquet
    trees into a mkdtemp dir; without an atexit rmtree, repeated bench
    runs accumulate multi-MB trees in /tmp."""
    src = (COVERAGE.parent / "bench.py").read_text()
    assert "_atexit.register(_shutil.rmtree, _r11_dir" in src


def _load_bench():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", str(COVERAGE.parent / "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_sustained_load_canary_adjudicates_itself():
    """VERDICT r10 #4: the spread canary is blind to SUSTAINED co-tenant
    load (r10's q8: +75% vs reference at rel_spread 0.073). The v2 canary
    compares headline mins against the committed BENCH_REFERENCE.json and
    flags sustained_load at >=3 queries over 1.5x — machine-readable, in
    the same cotenancy block both artifacts carry."""
    import json

    bench = _load_bench()
    ref = json.loads((COVERAGE.parent / "BENCH_REFERENCE.json").read_text())
    ref_q, sf, cpus = ref["queries"], ref["sf"], ref["cpus"]
    assert len(ref_q) >= 10 and sf == 0.1

    def run(times):
        variance = {"cotenancy": {"noisy": False, "flags": []}}
        bench.flag_sustained_load(dict(times), variance, sf, cpus)
        return variance["cotenancy"]

    # quiet window at the reference mins: available, not flagged
    # (subset check — canary v3 adds median_min_ratio/uniform_inflation
    # fields to the same block)
    cot = run(ref_q)
    assert cot["sustained"]["available"] is True
    assert cot["sustained"]["sustained_load"] is False
    assert cot["noisy"] is False

    # two inflated queries: recorded but below the flag threshold
    names = sorted(ref_q)
    two = dict(ref_q)
    for n in names[:2]:
        two[n] = ref_q[n] * 1.6
    cot = run(two)
    assert cot["sustained"]["sustained_load"] is False
    assert cot["sustained"]["inflated"] == sorted(names[:2])
    assert cot["noisy"] is False

    # three inflated queries: sustained_load flips, noisy rides the flag
    three = dict(two)
    three[names[2]] = ref_q[names[2]] * 1.6
    cot = run(three)
    assert cot["sustained"]["sustained_load"] is True
    assert cot["noisy"] is True
    assert any("sustained_load" in f for f in cot["flags"])

    # off-reference scale (local sf0.01 iteration): canary stands down
    cot = run(ref_q)  # reset
    variance = {"cotenancy": {"noisy": False, "flags": []}}
    bench.flag_sustained_load(dict(ref_q), variance, 0.01, cpus)
    assert variance["cotenancy"]["sustained"] == {
        "available": False, "sustained_load": False,
    }


def test_bench_uniform_inflation_canary_v3():
    """Canary v3 (r11): uniform sub-1.5x inflation — every headline
    query ~1.4x with tight spreads — trips neither the spread canary
    nor the >=3-over-1.5x count (observed in-round on byte-identical
    headline code). The median min/ref ratio must flag it; a clean
    window and a 3-query spike must keep their existing adjudications."""
    import json

    bench = _load_bench()
    ref = json.loads((COVERAGE.parent / "BENCH_REFERENCE.json").read_text())
    rq, sf, cpus = ref["queries"], ref["sf"], ref["cpus"]

    def run(times):
        v = {"cotenancy": {"noisy": False, "flags": []}}
        bench.flag_sustained_load(times, v, sf, cpus)
        return v["cotenancy"]

    clean = run(dict(rq))
    assert not clean["noisy"] and clean["sustained"]["available"]
    assert clean["sustained"]["median_min_ratio"] == 1.0

    uniform = run({k: v * 1.4 for k, v in rq.items()})
    assert uniform["sustained"]["uniform_inflation"]
    assert not uniform["sustained"]["sustained_load"]
    assert uniform["noisy"]
    assert any("uniform_inflation" in f for f in uniform["flags"])

    spiky = dict(rq)
    for k in list(rq)[:3]:
        spiky[k] = rq[k] * 1.6
    spike = run(spiky)
    assert spike["sustained"]["sustained_load"]
    assert not spike["sustained"]["uniform_inflation"]

    # off-reference scale: v3 stands down with the rest of the canary
    v = {"cotenancy": {"noisy": False, "flags": []}}
    bench.flag_sustained_load(dict(rq), v, 0.001, cpus)
    assert v["cotenancy"]["sustained"] == {
        "available": False, "sustained_load": False,
    }


def test_bench_floor_adjudication_canary_v4(tmp_path):
    """Canary v4 (r14, VERDICT r13 #4): the official window is
    adjudicated against SAME-HEAD protocol floors (BENCH_FLOORS_r{N}.
    json, written at close-out by `bench.py --floors`). A window at the
    floors is quiet; a uniformly inflated window must flag
    floor_inflation; per-query ratios ride only the detail artifact
    (variance['floors_ratios']), never the cotenancy block the stdout
    line carries; off-(sf,cpus) and no-floors-file stand down."""
    import json

    bench = _load_bench()
    floors_q = {f"q{i}": 0.5 + 0.1 * i for i in range(1, 11)}
    fpath = tmp_path / "BENCH_FLOORS_r14.json"
    fpath.write_text(json.dumps(
        {"sf": 0.1, "cpus": 32, "queries": floors_q}
    ))

    def run(times, sf=0.1, cpus=32, path=str(fpath)):
        v = {"cotenancy": {"noisy": False, "flags": []}}
        bench.flag_floor_adjudication(times, v, sf, cpus, floors_path=path)
        return v

    quiet = run(dict(floors_q))
    cot = quiet["cotenancy"]["floors"]
    assert cot["available"] and not cot["floor_inflation"]
    assert cot["median_floor_ratio"] == 1.0
    assert not quiet["cotenancy"]["noisy"]
    assert "ratios" not in cot  # stdout-budget rule
    assert quiet["floors_ratios"]["q1"] == 1.0

    hot = run({k: t * 1.4 for k, t in floors_q.items()})
    cot = hot["cotenancy"]["floors"]
    assert cot["floor_inflation"] and hot["cotenancy"]["noisy"]
    assert any("floor_inflation" in f for f in hot["cotenancy"]["flags"])
    assert cot["floors_file"] == "BENCH_FLOORS_r14.json"

    # one slow query does not move the median: no flag
    spiky = dict(floors_q)
    spiky["q5"] = floors_q["q5"] * 3.0
    cot = run(spiky)["cotenancy"]["floors"]
    assert not cot["floor_inflation"]
    assert cot["max_floor_ratio"] == 3.0

    # off-scale or missing floors: stands down
    off = run(dict(floors_q), sf=0.01)
    assert off["cotenancy"]["floors"] == {
        "available": False, "floor_inflation": False,
    }
    none = run(dict(floors_q), path=str(tmp_path / "nope.json"))
    assert none["cotenancy"]["floors"]["available"] is False

    # r14 review fix: STRUCTURALLY malformed floors files (valid JSON,
    # wrong shape) stand the canary down instead of crashing main()
    # after every query has already run
    arr = tmp_path / "arr.json"
    arr.write_text("[1, 2, 3]")
    bad_shape = run(dict(floors_q), path=str(arr))
    assert bad_shape["cotenancy"]["floors"]["available"] is False
    nonnum = tmp_path / "nonnum.json"
    nonnum.write_text(json.dumps(
        {"sf": 0.1, "cpus": 32, "queries": {"q1": "fast"}}
    ))
    bad_val = run({"q1": 1.0}, path=str(nonnum))
    assert bad_val["cotenancy"]["floors"]["available"] is False


def test_bench_effective_cpus_canary_v5():
    """Canary v5 (r14 optimization round): a DIRECT subprocess spin
    probe measures how many cores the host actually grants (observed
    in-round: 3.4 of a nominal 32 under hypervisor steal), instead of
    inferring contention from query-time symptoms. The flag trips below
    60% of nominal at either probe edge; the probe itself must return a
    positive value bounded by n."""
    bench = _load_bench()

    # the real probe, tiny spin so the test stays sub-second
    eff = bench.measure_effective_cpus(2, spin=50_000)
    assert 0 < eff <= 2.0

    def run(probes, nominal=32):
        v = {"cotenancy": {"noisy": False, "flags": []}}
        bench.flag_effective_cpus(v, nominal, probes)
        return v["cotenancy"]

    quiet = run({"start": 31.0, "end": 29.5})
    assert quiet["effective_cpus"] == {
        "start": 31.0, "end": 29.5, "nominal": 32,
    }
    assert not quiet["noisy"] and quiet["flags"] == []

    starved = run({"start": 30.1, "end": 3.4})
    assert starved["noisy"]
    assert any(
        "effective_cpus" in f and "3.4" in f for f in starved["flags"]
    )

    # rebaseline windows probe only the window start
    one = run({"start": 4.2})
    assert one["noisy"] and one["effective_cpus"]["nominal"] == 32
