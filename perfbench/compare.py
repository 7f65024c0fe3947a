"""Compare two sets of benchmark runs.

Usage, from the root of a checkout:

    python3 perfbench/compare.py SET_A SET_B [--json OUT]

Each set is a report directory as ``run.py --report-dir`` writes it
(``<set>/<workload>/seed<n>-trace0.json``). For every (metric, workload)
pair it prints each set's median and quartiles and a verdict for B
against A: ``better`` or ``worse`` only when B wins (or loses) at least
nine tenths of the runs paired by seed, ties counting for neither, and
the medians differ by more than A's quartile spread; otherwise
``unresolved``. ``within_bound`` says whether B's median is no worse
than A's by more than the metric's bound in ``BENCHMARK.json``.

For ``query_pack`` it also reports each query's build+execute time per
run (the median over the run's passes) and whether a per-query swing of a
given size (``--swing``, as a ratio of medians) is inside the spread the
benchmark shows between runs of unchanged code.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_set(path: str) -> dict[str, dict[int, dict]]:
    runs: dict[str, dict[int, dict]] = {}
    for f in sorted(glob.glob(os.path.join(path, "*", "seed*-trace0.json"))):
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault(r["workload"], {})[r["seed"]] = r
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a: dict[int, float], b: dict[int, float], better: str) -> dict:
    qa, qb = quartiles(list(a.values())), quartiles(list(b.values()))
    sign = 1 if better == "higher" else -1
    pairs = sorted(set(a) & set(b))
    wins = sum(1 for s in pairs if sign * (b[s] - a[s]) > 0)
    losses = sum(1 for s in pairs if sign * (b[s] - a[s]) < 0)
    diff = qb[1] - qa[1]
    spread = qa[2] - qa[0]
    v = "unresolved"
    if pairs and abs(diff) > spread:
        if wins >= 0.9 * len(pairs):
            v = "better"
        elif losses >= 0.9 * len(pairs):
            v = "worse"
    return {
        "a_median": qa[1],
        "a_quartiles": [qa[0], qa[2]],
        "b_median": qb[1],
        "b_quartiles": [qb[0], qb[2]],
        "pairs": len(pairs),
        "b_wins": wins,
        "b_losses": losses,
        "a_spread": spread / qa[1] if qa[1] else float("nan"),
        "verdict": v,
    }


def query_times(run: dict) -> dict[str, float]:
    per_q: dict[str, list[float]] = {}
    for p in run["passes"]:
        for q, t in p["queries"].items():
            per_q.setdefault(q, []).append(t["build_s"] + t["exec_s"])
    return {q: statistics.median(v) for q, v in per_q.items()}


def compare(a_dir: str, b_dir: str, swings: dict[str, float]) -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a, b = load_set(a_dir), load_set(b_dir)
    out: dict = {"metrics": [], "queries": []}
    for w in sorted(set(a) & set(b)):
        for m in spec["end_to_end"]:
            va = {s: r["metrics"][m["name"]]["value"] for s, r in a[w].items()}
            vb = {s: r["metrics"][m["name"]]["value"] for s, r in b[w].items()}
            row = {"workload": w, "metric": m["name"], **verdict(va, vb, m["better"])}
            worse_by = (row["b_median"] - row["a_median"]) / row["a_median"]
            if m["better"] == "higher":
                worse_by = -worse_by
            row["within_bound"] = worse_by <= m["bound"]
            out["metrics"].append(row)
        if w != "query_pack":
            continue
        qa = {s: query_times(r) for s, r in a[w].items()}
        qb = {s: query_times(r) for s, r in b[w].items()}
        names = sorted({q for t in list(qa.values()) + list(qb.values()) for q in t})
        for q in names:
            va = {s: t[q] for s, t in qa.items() if q in t}
            vb = {s: t[q] for s, t in qb.items() if q in t}
            row = {"workload": w, "query": q, **verdict(va, vb, "lower")}
            pooled = list(va.values()) + list(vb.values())
            row["ratio_of_medians"] = row["b_median"] / row["a_median"]
            row["max_over_min_run"] = max(pooled) / min(pooled)
            if q in swings:
                row["swing"] = swings[q]
                row["swing_inside_spread"] = 1 / swings[q] <= row["max_over_min_run"]
            out["queries"].append(row)
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("set_a")
    p.add_argument("set_b")
    p.add_argument("--json", help="also write the comparison here")
    p.add_argument(
        "--swing",
        action="append",
        default=[],
        metavar="QUERY=RATIO",
        help="per-query swing to test against the spread, e.g. corpus_prep_funnel3=0.35",
    )
    args = p.parse_args()
    swings = {k: float(v) for k, v in (s.split("=", 1) for s in args.swing)}
    res = compare(args.set_a, args.set_b, swings)
    print(f"{'workload':16} {'metric':26} {'A median':>10} {'A q1..q3':>19} {'B median':>10} "
          f"{'B q1..q3':>19} {'B wins/losses':>13}  verdict     bound")
    for r in res["metrics"]:
        print(
            f"{r['workload']:16} {r['metric']:26} {r['a_median']:10.4g} "
            f"{r['a_quartiles'][0]:9.4g}..{r['a_quartiles'][1]:<8.4g} {r['b_median']:10.4g} "
            f"{r['b_quartiles'][0]:9.4g}..{r['b_quartiles'][1]:<8.4g} "
            f"{r['b_wins']:>7}/{r['b_losses']:<5}  {r['verdict']:11} "
            + ("ok" if r["within_bound"] else "WORSE")
        )
    for r in res["queries"]:
        line = (
            f"{r['query']:32} A {r['a_median']:.3f}s B {r['b_median']:.3f}s "
            f"B/A {r['ratio_of_medians']:.2f} max/min run {r['max_over_min_run']:.2f} {r['verdict']}"
        )
        if "swing" in r:
            line += f"; swing {r['swing']}x inside spread: {r['swing_inside_spread']}"
        print(line)
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(res, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
