#!/usr/bin/env python3
"""oshdb_spark benchmark: catalog, history and dedup workloads.

Run from the root of a checkout (pure Python, nothing to build):

  python3 perfbench/run.py --workload catalog|history|dedup \\
      --seed N --seconds S --trace 0|1
      One run: three full set-ups (JVM + session + ship + warm-up), one
      cold unit in the last fresh session, one untimed settling unit,
      then warm units for S seconds.
      --trace 1 adds traced units after the untimed ones and reports the
      per-layer metrics instead of the end-to-end ones. The last stdout
      line is the JSON result; lines above it name every metric with its
      unit, the cold/warm split and the environment fingerprint.
  python3 perfbench/run.py [--seed N]
      Every workload once at full size, each in its own process.
  python3 perfbench/run.py --smoke
      Seconds-long self-test: every workload once on sf0.001-sized
      inputs with tracing; exits non-zero on any failure.
  python3 perfbench/run.py --steady WORKLOAD --runs K --seconds S
      K runs with K seeds; each end-to-end metric's median and quartile
      spread against its bound in BENCHMARK.json.
  python3 perfbench/run.py --compare A B --workload W --pairs N --seconds S
      Interleaved A/B over two engine checkouts A and B (this benchmark's
      code drives both); alternates which side goes first and reports
      each side's median, quartiles and pairwise wins.

``--engine DIR`` points a single run at another checkout's engine.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

import harness
from tracer import Tracer
from workloads import CATALOG_FAMILIES, FAMILIES, RESIDENT_FIRST, WORKLOADS

N_SETUPS = 3
E2E_UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "rows_per_s": "1/s", "query_geomean_s": "s",
}


def percentile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def query_medians(warm) -> list[float]:
    """Each query's median warm latency (a pipeline workload has one
    query: its unit)."""
    per_query: dict[str, list[float]] = {}
    for u in warm:
        for op in u.ops:
            per_query.setdefault(op.name, []).append(op.seconds)
    return [harness.median(v) for v in per_query.values()]


def run_once(args) -> int:
    t_start = time.perf_counter()
    harness.prepare_env()

    wl = WORKLOADS[args.workload](args.seed, args.smoke)
    wl.prepare()
    spark, setups, traced, tracer = None, [], [], None
    try:
        for _ in range(1 if args.smoke else N_SETUPS):
            if spark is not None:
                harness.stop_session(spark)
            spark, t = harness.start_session(f"perfbench-{wl.name}")
            setups.append(t)
        cold = wl.unit(spark)
        # the unit after the cold one still runs partly unoptimized code;
        # it is checked but not timed
        settle = wl.unit(spark)
        # the window holds the units that end closest to S seconds: a
        # unit starts only while at least half of one still fits
        t_end = time.perf_counter() + args.seconds
        warm = [wl.unit(spark)]
        while time.perf_counter() + warm[-1].wall / 2 < t_end:
            warm.append(wl.unit(spark))
        resident = harness.resident_mb(spark)
        if args.trace:
            with Tracer(spark, wl.name) as tracer:
                t_end = time.perf_counter() + args.seconds / 2
                while not traced or time.perf_counter() < t_end:
                    with tracer.span("unit", kind="unit") as sp:
                        traced.append((sp, wl.unit(spark, tracer)))
            layers = layer_metrics(wl, tracer, traced, cold, warm, setups, resident)
        fp = harness.fingerprint(spark, workload=wl.name, seed=args.seed, **wl.params)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(os.path.join(harness.WORK, "inputs"), ignore_errors=True)

    # -- output checks, outside every timed region ---------------------------
    units = [cold, settle, *warm, *(u for _, u in traced)]
    ops = [op for u in units for op in u.ops]
    failures = []
    for op in ops:
        try:
            why = op.error or wl.check(op)
        except Exception as e:  # noqa: BLE001 — a broken output is a failed op
            why = f"check raised {e!r}"
        if why:
            failures.append(f"{op.name}: {why}")

    meds = query_medians(warm)
    e2e = {
        "setup_s": harness.median([sum(t.values()) for t in setups]),
        "cold_s": cold.wall,
        # a warm unit's time, query by query: robust to one slow query in
        # one pass where a median over whole passes is not
        "warm_s": sum(meds),
        "rows_per_s": wl.input_rows / sum(meds),
        "query_geomean_s": math.exp(sum(math.log(m) for m in meds) / len(meds)),
    }
    report(wl, fp, e2e, setups, cold, warm, ops, failures, resident)
    print(f"{wl.name} run wall = {time.perf_counter() - t_start:.1f} s")
    os.makedirs(os.path.join(harness.WORK, "results"), exist_ok=True)
    stem = os.path.join(harness.WORK, "results", f"{wl.name}-s{args.seed}-t{args.trace}")
    record = {
        "fingerprint": fp,
        "end_to_end": e2e,
        "setups": setups,
        "cold": {op.name: op.seconds for op in cold.ops},
        "warm": [{op.name: op.seconds for op in u.ops} for u in warm],
        "failures": failures,
    }
    if args.trace:
        record["per_layer"] = layers
        tracer.dump(stem + "-spans.json")
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": metrics,
    }), flush=True)
    return 0


def report(wl, fp, e2e, setups, cold, warm, ops, failures, resident) -> None:
    """Human-readable lines above the JSON result."""
    print(f"# environment {json.dumps(fp, sort_keys=True)}")
    for k, v in e2e.items():
        print(f"{wl.name} {k} = {v:.6g} {E2E_UNITS[k]}")
    q_lat = [o.seconds for u in warm for o in u.ops]
    print(f"{wl.name} query_p50_s = {harness.median(q_lat):.6g} s (n={len(q_lat)})")
    print(f"{wl.name} query_p95_s = {percentile(q_lat, 0.95):.6g} s "
          f"(n={len(q_lat)}; fewer than 10 samples beyond p95, so not gated)")
    print(f"{wl.name} failed_frac = {len(failures)}/{len(ops)} = {len(failures) / len(ops):.4g}")
    print(f"{wl.name} resident_mb = {resident:.4g} MB")
    print(f"{wl.name} setups: " + ", ".join(f"{sum(t.values()):.3f}" for t in setups) + " s")
    print(f"{wl.name} cold unit {cold.wall:.3f} s; warm units {harness.describe([u.wall for u in warm])}")
    print(f"{wl.name} warm op latency {harness.describe(q_lat)}")
    if wl.name == "catalog":
        for fam, q in RESIDENT_FIRST.items():
            c, w = cold_warm(cold, warm, q)
            if c is not None:
                print(f"catalog resident build {fam} ({q}): cold {c:.3f} s - warm {w:.3f} s = {c - w:.3f} s")
    for f in failures:
        print(f"FAILED {f}")


def cold_warm(cold, warm, name):
    c = [o.seconds for o in cold.ops if o.name == name]
    w = [o.seconds for u in warm for o in u.ops if o.name == name]
    return (c[0], harness.median(w)) if c and w else (None, None)


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------

PER_LAYER_UNITS: dict[str, str] = dict([
    ("session.jvm_start_s", "s"), ("session.ship_s", "s"), ("session.warmup_s", "s"),
    ("driver.jobs", "count"), ("driver.stages", "count"), ("driver.tasks", "count"),
    ("driver.jobs_max_query", "count"),
    ("queries.resident_build_s", "s"),
    *((f"queries.family.{f}_s", "s") for f in FAMILIES),
    ("checkpoint.builds", "count"), ("checkpoint.build_s", "s"),
    ("sources.versions_s", "s"), ("sources.versions_rows", "count"),
    ("snapshot.fanout_s", "s"), ("snapshot.rows_in", "count"),
    ("snapshot.rows_out", "count"), ("snapshot.rows_out_per_in", "ratio"),
    ("spatial.pip_s", "s"), ("spatial.pip_rows_tested", "count"),
    ("spatial.pip_hit_ratio", "ratio"),
    ("tiles.agg_s", "s"), ("tiles.rows_out", "count"),
    ("dedup.signature_s", "s"), ("dedup.candidates", "count"), ("dedup.verified", "count"),
    ("dedup.verify_yield", "ratio"), ("dedup.cc_s", "s"), ("dedup.cc_rounds", "count"),
    ("python.boot_s", "s"), ("python.init_s", "s"), ("python.total_s", "s"),
    ("python.compute_s", "s"),
    ("scan.time_s", "s"), ("exchange.shuffle_bytes", "B"), ("exchange.shuffle_write_s", "s"),
    ("exchange.spill_bytes", "B"), ("broadcast.build_s", "s"), ("broadcast.collect_s", "s"),
    ("sortwindow.sort_s", "s"), ("agg.time_s", "s"), ("codegen.pipeline_s", "s"),
    ("blocks.resident_mb", "MB"),
    ("trace.warm_s", "s"), ("trace.overhead_s", "s"), ("trace.attributed_frac", "ratio"),
])


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(wl, tr, traced, cold, warm, setups, resident) -> dict[str, float]:
    """Per-layer metrics of one traced run: the median over its traced
    units of each unit's figures, plus the set-up phases."""
    per_unit = []
    tr.sc.setJobGroup(f"{wl.name}.trace-readout", "trace read-out")
    for unit_span, unit in traced:
        layers = tr.unit_spans(unit_span)
        by_name = {s.name: s for s in layers}
        spans = tr.subtree(unit_span)
        m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        m.update(tr.job_counts(spans))
        m["driver.jobs_max_query"] = max((len(s.jobs) for s in layers), default=0)
        plan = tr.plan_totals(spans)
        for k, v in plan.items():
            if k in m:
                m[k] = v
        m["python.compute_s"] = max(
            plan["python.total_s"] - plan["python.boot_s"] - plan["python.init_s"], 0.0
        )
        ckpts = [s for s in spans if s.kind == "checkpoint"]
        m["checkpoint.builds"] = len(ckpts)
        m["checkpoint.build_s"] = sum(s.seconds for s in ckpts)
        m["trace.warm_s"] = unit.wall
        m["trace.attributed_frac"] = sum(s.seconds for s in layers) / unit.wall

        def secs(name):
            s = by_name.get(name)
            return s.seconds if s else 0.0

        def rows(name):
            s = by_name.get(name)
            return s.out.count() if s is not None and s.out is not None else 0

        def sub_spans(name):
            return tr.subtree(by_name[name]) if name in by_name else []

        if wl.name == "catalog":
            for s in layers:
                m[f"queries.family.{CATALOG_FAMILIES[s.name]}_s"] += s.seconds
        elif wl.name == "history":
            m["sources.versions_s"] = secs("sources.versions")
            m["snapshot.fanout_s"] = secs("snapshot.fanout")
            m["spatial.pip_s"] = secs("spatial.pip")
            m["tiles.agg_s"] = secs("tiles.agg")
            v_rows, s_rows, hit_rows = (
                rows("sources.versions"), rows("snapshot.fanout"), rows("spatial.pip")
            )
            m["sources.versions_rows"] = v_rows
            m["snapshot.rows_in"], m["snapshot.rows_out"] = v_rows, s_rows
            m["snapshot.rows_out_per_in"] = _ratio(s_rows, v_rows)
            tested = tr.plan_totals(sub_spans("spatial.pip"))["python.rows"]
            m["spatial.pip_rows_tested"] = tested
            m["spatial.pip_hit_ratio"] = _ratio(hit_rows, tested)
            m["tiles.rows_out"] = unit.ops[0].result[0] if unit.ops[0].result else 0
        elif wl.name == "dedup":
            m["dedup.signature_s"] = secs("dedup.signature")
            m["dedup.cc_s"] = secs("dedup.cc")
            cands, ver = rows("dedup.signature"), rows("dedup.verify")
            m["dedup.candidates"], m["dedup.verified"] = cands, ver
            m["dedup.verify_yield"] = _ratio(ver, cands)
            cc_ckpts = [s for s in sub_spans("dedup.cc") if s.kind == "checkpoint"]
            # connected_components checkpoints its edge set twice, then
            # one label frame per round
            m["dedup.cc_rounds"] = max(len(cc_ckpts) - 2, 0)
        per_unit.append(m)
    out = {k: harness.median([m[k] for m in per_unit]) for k in PER_LAYER_UNITS}
    for k in ("session.jvm_start_s", "session.ship_s", "session.warmup_s"):
        out[k] = harness.median([t[k] for t in setups])
    if wl.name == "catalog":
        out["queries.resident_build_s"] = sum(
            c - w for c, w in (cold_warm(cold, warm, q) for q in RESIDENT_FIRST.values())
            if c is not None
        )
    out["blocks.resident_mb"] = resident
    out["trace.overhead_s"] = out["trace.warm_s"] - sum(query_medians(warm))
    return {k: float(v) for k, v in out.items()}


# ---------------------------------------------------------------------------
# multi-run modes (each run is its own process)
# ---------------------------------------------------------------------------

def _single(workload, seed, seconds, trace=0, engine=None, smoke=False, echo=False) -> dict | None:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if engine:
        cmd += ["--engine", engine]
    if smoke:
        cmd.append("--smoke")
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        return None
    if echo:
        print("\n".join(lines[:-1]), flush=True)
    return json.loads(lines[-1])


def _bounds() -> dict[str, float]:
    path = os.path.join(harness.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}


def steady(args) -> int:
    bounds = _bounds()
    values: dict[str, list[float]] = {}
    for i in range(args.runs):
        res = _single(args.steady, args.seed + i, args.seconds)
        if res is None or not res["correct"]:
            print(f"run {i} (seed {args.seed + i}) failed: {res}")
            return 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"run {i} seed {args.seed + i}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    worst = 0.0
    for k, xs in values.items():
        q1, med, q3 = harness.quartile_spread(xs)
        spread = (q3 - q1) / med
        b = bounds.get(k)
        share = f" = {spread / b:.2f} of bound {b}" if b else ""
        if b and k != "setup_s":
            worst = max(worst, spread / b)
        print(f"{args.steady} {k}: median {med:.5g} q1 {q1:.5g} q3 {q3:.5g} spread {spread:.4f}{share}")
    print(f"{args.steady} worst spread/bound (setup_s excluded): {worst:.2f}")
    return 0


def compare(args) -> int:
    a, b = (os.path.abspath(p) for p in args.compare)
    sides = {a: {}, b: {}}
    wins: dict[str, list[int]] = {}
    for i in range(args.pairs):
        order = (a, b) if i % 2 == 0 else (b, a)
        got = {}
        for side in order:
            res = _single(args.workload, args.seed + i, args.seconds, engine=side)
            if res is None or not res["correct"]:
                print(f"pair {i}: {side} failed: {res}")
                return 1
            got[side] = {k: v["value"] for k, v in res["metrics"].items()}
            for k, v in got[side].items():
                sides[side].setdefault(k, []).append(v)
        for k in got[a]:
            w = wins.setdefault(k, [0, 0])
            if got[a][k] != got[b][k]:
                better_a = got[a][k] > got[b][k] if k == "rows_per_s" else got[a][k] < got[b][k]
                w[0 if better_a else 1] += 1
        print(f"pair {i} ({'A first' if order[0] == a else 'B first'}) done", flush=True)
    for k in wins:
        for label, side in (("A", a), ("B", b)):
            xs = sides[side][k]
            q1, med, q3 = harness.quartile_spread(xs) if len(xs) > 1 else (xs[0],) * 3
            print(f"{args.workload} {k} {label}: median {med:.5g} q1 {q1:.5g} q3 {q3:.5g}")
        print(f"{args.workload} {k} wins A {wins[k][0]} B {wins[k][1]} of {args.pairs} pairs")
    return 0


def every_workload(args) -> int:
    """Each workload once, in its own process (``--smoke``: one traced,
    seconds-long run each); non-zero if any failed."""
    ok = True
    for w in WORKLOADS:
        t0 = time.perf_counter()
        if args.smoke:
            res = _single(w, args.seed, 1, trace=1, smoke=True)
        else:
            res = _single(w, args.seed, args.seconds, trace=args.trace, echo=True)
        good = res is not None and res["correct"]
        ok &= good
        print(f"{w}: {'ok' if good else 'FAILED'} in {time.perf_counter() - t0:.1f} s", flush=True)
    return 0 if ok else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=tuple(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--engine", help="checkout root whose oshdb_spark to run")
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--steady", choices=tuple(WORKLOADS))
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--compare", nargs=2, metavar=("A", "B"))
    p.add_argument("--pairs", type=int, default=10)
    args = p.parse_args()
    if args.engine:
        harness.ROOT = os.path.abspath(args.engine)
    if not os.path.isdir(os.path.join(harness.ROOT, "oshdb_spark")):
        print(f"no oshdb_spark package under {harness.ROOT}", file=sys.stderr)
        return 2
    if args.steady:
        return steady(args)
    if args.compare:
        if not args.workload:
            p.error("--compare needs --workload")
        return compare(args)
    if not args.workload:
        return every_workload(args)
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
