#!/usr/bin/env python3
"""Compare two one-line bench JSONs on their overlapping queries:
per-query ratio (B/A), the overlap median/quartiles, and the worst
movers. The r14 'is the bench comparable round-over-round' readout.

With --touched, the queries a change touched are read against the
untouched ones run in the same pair of benches (the control floor):
the geomean B/A of each set, touched / control, and the control
ratios' own Q1-Q3 band divided by the control geomean. A touched /
control inside that band is a move the box also makes on code it did
not touch.

Usage: bench_compare.py <benchA.json> <benchB.json> [topN=8]
                        [--touched q148,q272_textrank,...]
A touched name matches a query by its full name or its `qNNN` prefix.
"""
import argparse
import json
import math
import statistics


def load(p):
    with open(p) as f:
        return json.loads(f.read())


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def is_touched(query, touched):
    return any(query == t or query.startswith(t + "_") for t in touched)


def control_floor(ratios, touched):
    """The touched-vs-control readout over per-query B/A ratios, or None
    when either set is empty."""
    hit = [r for q, r in ratios.items() if is_touched(q, touched)]
    ctl = sorted(r for q, r in ratios.items() if not is_touched(q, touched))
    if not hit or not ctl:
        return None
    t, c = geomean(hit), geomean(ctl)
    lo, hi = ctl[len(ctl) // 4] / c, ctl[(3 * len(ctl)) // 4] / c
    return {"n_touched": len(hit), "n_control": len(ctl),
            "touched": t, "control": c, "touched_over_control": t / c,
            "band": (lo, hi), "in_band": lo <= t / c <= hi}


def main(a_path, b_path, top_n=8, touched=None):
    a, b = load(a_path), load(b_path)
    qa, qb = a["queries"], b["queries"]
    shared = sorted(set(qa) & set(qb))
    ratios = {q: qb[q] / qa[q] for q in shared if qa[q] > 0}
    vals = sorted(ratios.values())
    med = statistics.median(vals)
    q1 = vals[len(vals) // 4]
    q3 = vals[(3 * len(vals)) // 4]
    print(f"overlap n={len(vals)}  median={med:.3f}  "
          f"q1={q1:.3f}  q3={q3:.3f}")
    print(f"totals: A={a['value']:.1f}s  B={b['value']:.1f}s  "
          f"ratio={b['value']/a['value']:.3f}")
    print(f"protocols: A={a.get('protocol','?')}  B={b.get('protocol','?')}")
    # rel-space (r15): each run's queries divided by its own median —
    # a uniform box factor cancels, so THIS median answers "did the
    # code get faster?" (the raw median above measures box+code).
    # Pre-r15 JSONs carry no queries_rel; derive it from the raw map so
    # the normalized read works against any archived BENCH_rN.
    def rel_of(run):
        if run.get("queries_rel"):
            return run["queries_rel"]
        qs = run["queries"]
        # the PRODUCER's median definition (Bench.emit): lower-mid of the
        # sorted times, NOT statistics.median's even-count interpolation —
        # mixing the two definitions when one side is a derived pre-r15
        # JSON would bias exactly the normalized readout this tool adds
        ts = sorted(qs.values())
        med = ts[(len(ts) - 1) // 2] if ts else 0
        return {q: t / med for q, t in qs.items()} if med > 0 else None
    ra, rb = rel_of(a), rel_of(b)
    if ra and rb:
        rel_shared = [q for q in shared if ra.get(q, 0) > 0 and q in rb]
        rel_ratios = sorted(rb[q] / ra[q] for q in rel_shared)
        if rel_ratios:
            rmed = statistics.median(rel_ratios)
            r1 = rel_ratios[len(rel_ratios) // 4]
            r3 = rel_ratios[(3 * len(rel_ratios)) // 4]
            print(f"NORMALIZED overlap n={len(rel_ratios)}  median={rmed:.3f}  "
                  f"q1={r1:.3f}  q3={r3:.3f}  (box factor divided out)")
    pa, pb = a.get("probe_sec", -1), b.get("probe_sec", -1)
    if pa and pb and pa > 0 and pb > 0:
        print(f"calibration probes: A={pa:.3f}s  B={pb:.3f}s  "
              f"box factor B/A={pb/pa:.3f}  "
              f"(fixed work — this ratio is pure box)")
    # probe-gate flags (r16): chunks whose probe never landed in the
    # session band even after re-runs — those chunks' query times are
    # box-polluted and must not drive per-query conclusions
    for label, run in (("A", a), ("B", b)):
        dirty = run.get("dirty_chunks") or []
        if dirty:
            desc = ", ".join(f"chunk {d['chunk']} probe {d['probe_sec']:.3f}s"
                             for d in dirty)
            print(f"WARNING {label} has out-of-band chunks after the "
                  f"probe gate: {desc}")
    if touched:
        cf = control_floor(ratios, touched)
        if cf is None:
            print("control floor: needs both touched and untouched queries")
        else:
            lo, hi = cf["band"]
            print(f"touched n={cf['n_touched']}  geomean B/A={cf['touched']:.3f}")
            print(f"control n={cf['n_control']}  geomean B/A={cf['control']:.3f}"
                  "  (the control floor)")
            print(f"touched / control = {cf['touched_over_control']:.3f}  "
                  f"control Q1-Q3 band {lo:.3f}-{hi:.3f}: "
                  f"{'inside' if cf['in_band'] else 'OUTSIDE'}")
    movers = sorted(ratios.items(), key=lambda kv: kv[1])
    print("fastest (B vs A):")
    for q, r in movers[:top_n]:
        print(f"  {r:6.2f}x  {q}  ({qa[q]:.2f}s -> {qb[q]:.2f}s)")
    print("slowest (B vs A):")
    for q, r in movers[-top_n:]:
        print(f"  {r:6.2f}x  {q}  ({qa[q]:.2f}s -> {qb[q]:.2f}s)")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("top_n", nargs="?", type=int, default=8)
    ap.add_argument("--touched", default="",
                    help="comma-separated query names the change touched")
    args = ap.parse_args()
    main(args.a, args.b, args.top_n,
         [t for t in args.touched.split(",") if t])
