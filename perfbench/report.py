"""Steadiness record and traced-run report.

    python3 perfbench/report.py steady --set 1 --runs 10 --seconds 10
    python3 perfbench/report.py steady --set 2 --runs 10 --seconds 10
    python3 perfbench/report.py render
    python3 perfbench/report.py trace --seconds 10

``steady --set N`` runs every workload ``--runs`` times, each with its own
seed (set 1 takes seeds 1..runs, set 2 the next ``runs`` seeds), and
writes ``steadiness_setN.json``. ``render`` (also run by ``steady``)
writes ``STEADINESS.md``: per set and end-to-end metric the median,
quartiles (``statistics.quantiles(n=4)``), min/max and the quartile spread
as a share of the median, next to the bound in ``BENCHMARK.json``; and,
once both sets exist, how far the two medians lie apart, taken both ways
(|a - b| / min(a, b)), since either set could be the baseline.
``trace`` makes ``PAIRS`` pairs of one untraced and one traced run per
workload, with the same seed inside a pair and the order alternating, and
writes ``TRACE_REPORT.md``: every per-layer metric of the first traced run,
the blocking path of one trigger, and the tracing overhead as the paired
traced-minus-untraced differences."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: untraced/traced pairs per workload for the tracing overhead
PAIRS = 3


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=200,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["elapsed_s"] = time.time() - t0
    res["record"] = json.loads(out.stderr.strip().splitlines()[-1]) if out.returncode == 0 else None
    return res


def spread(vals: list[float]) -> dict:
    q = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return {"median": med, "q1": q[0], "q3": q[2], "min": min(vals), "max": max(vals),
            "iqr_share": (q[2] - q[0]) / med, "values": vals}


def set_path(n: int) -> str:
    return os.path.join(HERE, f"steadiness_set{n}.json")


def steady(args, bench: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = range(1 + (args.set - 1) * args.runs, 1 + args.set * args.runs)
    table = {}
    for w in [w["name"] for w in bench["workloads"]]:
        runs = [run_once(w, seed, args.seconds, 0) for seed in seeds]
        metrics = {}
        for name in bounds:
            metrics[name] = spread([r["metrics"][name]["value"] for r in runs])
        table[w] = {
            "metrics": metrics,
            "correct": all(r["correct"] for r in runs),
            "elapsed_s": spread([r["elapsed_s"] for r in runs]),
            "batches": [r["record"]["info"]["batches"] for r in runs],
            "rows": [r["record"]["info"]["rows"] for r in runs],
            "box_score": [r["record"]["stamp"]["box_score"] for r in runs],
            "stamp": runs[0]["record"]["stamp"],
        }
    with open(set_path(args.set), "w") as f:
        json.dump({"runs": args.runs, "seconds": args.seconds, "seeds": list(seeds),
                   "workloads": table}, f, indent=1)
    render(args, bench)


def render(args, bench: dict) -> None:
    """STEADINESS.md from the recorded sets and the bounds in BENCHMARK.json."""
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = {}
    for n in (1, 2):
        if os.path.exists(set_path(n)):
            with open(set_path(n)) as f:
                sets[n] = json.load(f)
    lines = ["# Steadiness record", ""]
    misses = []  # (set or "apart", workload, metric) outside its bound
    loose = []  # (set, workload, metric) within its bound, not within a third
    for n, rec in sets.items():
        lines += [f"## Set {n}: {rec['runs']} runs per workload, seeds "
                  f"{rec['seeds'][0]}..{rec['seeds'][-1]}, --seconds {rec['seconds']}", ""]
        for w, t in rec["workloads"].items():
            st = t["stamp"]
            lines += [f"### {w}", "",
                      f"commit {st['commit']}, nproc {st['nproc']}, load_1m {st['load_1m']}; "
                      f"box_score per run {t['box_score']}; all correct: {t['correct']}; "
                      f"batches per run {t['batches']}; rows per run {sorted(set(t['rows']))}; "
                      f"wall per run median {t['elapsed_s']['median']:.1f} s "
                      f"(max {t['elapsed_s']['max']:.1f} s)", "",
                      "r = correlation of the metric's runs with the host's box_score, "
                      "taken as each run began; near ±1, the spread is the host's speed "
                      "moving, not the engine.", "",
                      "holds: the spread is within the bound; steady: within a third of it.",
                      "",
                      "| metric | median | q1 | q3 | min | max | IQR/median | bound | holds "
                      "| steady | r |",
                      "|---|---|---|---|---|---|---|---|---|---|---|"]
            for name, s in t["metrics"].items():
                # the set-up time's spread is not held to its bound, only
                # its median between sets
                holds = "n/a" if name == "setup_s" else (
                    "yes" if s["iqr_share"] <= bounds[name] else "NO")
                if holds == "NO":
                    misses.append((f"set {n} spread", w, name))
                elif holds == "yes" and s["iqr_share"] > bounds[name] / 3:
                    loose.append((f"set {n}", w, name))
                lines.append(f"| {name} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                             f"{s['min']:.4g} | {s['max']:.4g} | {s['iqr_share']:.3f} | "
                             f"{bounds[name]} | {holds} | "
                             f"{'yes' if s['iqr_share'] <= bounds[name] / 3 else 'no'} | "
                             f"{statistics.correlation(t['box_score'], s['values']):+.2f} |")
            lines.append("")
    if len(sets) == 2:
        lines += ["## The two sets of the same code", "",
                  "Apart = |median 1 - median 2| / min(median 1, median 2): how much the "
                  "worse set is worse than the better one, whichever set is taken as the "
                  "baseline. It must stay within the bound.", "",
                  "| workload | metric | set 1 median | set 2 median | apart | bound | holds |",
                  "|---|---|---|---|---|---|---|"]
        for w, t in sets[2]["workloads"].items():
            for name, s in t["metrics"].items():
                a, b = sets[1]["workloads"][w]["metrics"][name]["median"], s["median"]
                apart = abs(a - b) / min(a, b)
                if apart > bounds[name]:
                    misses.append(("apart", w, name))
                lines.append(f"| {w} | {name} | {a:.4g} | {b:.4g} | {apart:.3f} | "
                             f"{bounds[name]} | {'yes' if apart <= bounds[name] else 'NO'} |")
        lines.append("")
    lines += ["## Verdict", "",
              ("Every spread and every distance between the sets is within its bound."
               if not misses else "Outside its bound: " + "; ".join(
                   f"{w} {name} ({what})" for what, w, name in misses) + "."), ""]
    if loose:
        lines += ["Within the bound but not within a third of it: " + "; ".join(
            f"{w} {name} ({what})" for what, w, name in loose) + ".", ""]
    with open(os.path.join(HERE, "STEADINESS.md"), "w") as f:
        f.write("\n".join(lines))


def trace(args, bench: dict) -> None:
    lines = [f"# Traced runs (--seconds {args.seconds}, {PAIRS} pairs per workload, "
             f"seeds {args.seed}..{args.seed + PAIRS - 1})", ""]
    for w in [w["name"] for w in bench["workloads"]]:
        pairs = []
        for i in range(PAIRS):
            # same seed inside a pair; alternate which run goes first
            order = (0, 1) if i % 2 == 0 else (1, 0)
            got = {t: run_once(w, args.seed + i, args.seconds, t) for t in order}
            pairs.append((got[0], got[1]))
        res = pairs[0][1]
        m = {k: v["value"] for k, v in res["metrics"].items()}
        units = {k: v["unit"] for k, v in res["metrics"].items()}
        wall = res["record"]["info"]["timed_wall_s"]
        # a source or broker process busy for most of the window caps any
        # engine gain: say so
        guards = [f"{k} {m[k]:.2f} s = {m[k] / wall:.0%} of the {wall:.1f} s timed window"
                  + (" — the environment, not the engine, is the bottleneck"
                     if m[k] / wall > 0.8 else "")
                  for k in ("postgres.cpu_s", "streaming.minibroker.cpu_s")]
        path = " → ".join(f"{k} {m[f'path.{k}_s']:.3f}" for k in (
            "latest_offset", "planning", "pull", "marshal", "send", "txn", "commit", "other"))
        lines += [f"## {w}", "", "Environment guards: " + "; ".join(guards) + ".", "",
                  f"Blocking path of one trigger, self time in s (p50 over "
                  f"{m['streaming.pipeline.batches']:.0f} triggers): {path}; trigger p50 "
                  f"{m['streaming.pipeline.trigger_s_p50']:.3f} s.", "",
                  "Tracing overhead, traced minus untraced run of the same seed:", "",
                  "| seed | first | untraced rows_per_s | traced | difference | "
                  "untraced lag_p50_s | traced | difference |",
                  "|---|---|---|---|---|---|---|---|"]
        d_rate, d_lag = [], []
        for i, (u, t) in enumerate(pairs):
            ur, ul = u["metrics"]["rows_per_s"]["value"], u["metrics"]["lag_p50_s"]["value"]
            tr, tl = t["metrics"]["trace.rows_per_s"]["value"], t["metrics"]["trace.lag_p50_s"]["value"]
            d_rate.append((tr - ur) / ur)
            d_lag.append((tl - ul) / ul)
            lines.append(f"| {args.seed + i} | {'untraced' if i % 2 == 0 else 'traced'} | "
                         f"{ur:.1f} | {tr:.1f} | {d_rate[-1]:+.1%} | {ul:.3f} | {tl:.3f} | "
                         f"{d_lag[-1]:+.1%} |")
        lines += ["", f"Median paired difference: rows_per_s {statistics.median(d_rate):+.1%}, "
                  f"lag_p50_s {statistics.median(d_lag):+.1%}. All runs correct: "
                  f"{all(r['correct'] for p in pairs for r in p)}.", "",
                  f"Per-layer metrics of the traced run of seed {args.seed}:", "",
                  "| metric | value | unit |", "|---|---|---|"]
        lines += [f"| {k} | {v:.4g} | {units[k]} |" for k, v in m.items()]
        lines.append("")
    with open(os.path.join(HERE, "TRACE_REPORT.md"), "w") as f:
        f.write("\n".join(lines))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("steady", "render", "trace"))
    ap.add_argument("--set", type=int, choices=(1, 2), default=1)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed", type=int, default=101)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    {"steady": steady, "render": render, "trace": trace}[args.mode](args, bench)


if __name__ == "__main__":
    main()
