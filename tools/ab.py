#!/usr/bin/env python3
"""Interleaved A/B of the benchmark between two checkouts.

    python tools/ab.py --parent ../base --change . --workload batch \\
        --seeds 501-510 [--out ab.jsonl]

For each seed it runs the command that the change's ``BENCHMARK.json``
declares (``perfbench/run.py --workload W --seed S --seconds N --trace 0``,
N = its ``run_seconds``) once in each checkout, one after the other, and
switches which side goes first on every pair. Each run's result line,
host loadavg and per-operation seconds (from
``.bench_work/<workload>/record.json`` in that checkout) are appended to
``--out`` as they finish. The summary gives, per end-to-end metric:
medians and Q1-Q3 per side, the change's wins per pair, the median
change against the metric's bound, and ``UNRESOLVED`` when either side's
spread (Q3-Q1 over the median) is wider than the bound and not every
change run reads better than every parent run. Then it lists the median
seconds per operation.

The script only invokes the benchmark; it writes nothing under either
checkout's ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("parent", "change")


def parse_seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: Path, bench: dict, workload: str, seed: int) -> dict:
    cmd = list(bench["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    out = {"exit": p.returncode}
    if p.returncode == 0 and len(lines) >= 2:
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        out.update(
            result=result,
            loadavg=[record["loadavg_before"][0], record["loadavg_after"][0]],
        )
        rec = json.loads(
            (checkout / ".bench_work" / workload / "record.json").read_text()
        )
        ops: dict[str, list[float]] = {}
        for o in rec["operations"]:
            ops.setdefault(o["op"].split(":", 1)[-1], []).append(o["seconds"])
        out["ops"] = {k: statistics.median(v) for k, v in ops.items()}
    else:
        out["stderr_tail"] = p.stderr[-2000:]
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], bench: dict) -> str:
    pairs: dict[int, dict] = {}
    for r in runs:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    full = [p for p in pairs.values() if all(s in p and "result" in p[s] for s in SIDES)]
    bad = sum("result" not in r or not r["result"]["correct"] for r in runs)
    lines = [f"{len(full)} complete pairs; {bad} run(s) failed or incorrect"]
    if not full:
        return "\n".join(lines)
    lines.append(
        f"{'metric':<15}{'parent median [Q1-Q3]':>30}{'change median [Q1-Q3]':>30}"
        f"{'change':>9}{'wins':>7}{'bound':>7}  verdict"
    )
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [p[s]["result"]["metrics"][name]["value"] for p in full] for s in SIDES}
        q = {s: quartiles(vals[s]) for s in SIDES}
        rel = q["change"][1] / q["parent"][1] - 1
        worse = rel if lower else -rel
        wins = sum(
            (c < b) if lower else (c > b) for b, c in zip(vals["parent"], vals["change"])
        )
        spread = max((q[s][2] - q[s][0]) / q[s][1] for s in SIDES)
        all_better = (
            max(vals["change"]) < min(vals["parent"])
            if lower
            else min(vals["change"]) > max(vals["parent"])
        )
        if all_better:
            verdict = "every change run better"
        elif spread > m["bound"]:
            verdict = "UNRESOLVED (spread %.0f%%)" % (100 * spread)
        else:
            verdict = "WORSE than bound" if worse > m["bound"] else "within bound"
        cell = {s: f"{q[s][1]:.2f} [{q[s][0]:.2f}-{q[s][2]:.2f}]" for s in SIDES}
        lines.append(
            f"{name:<15}{cell['parent']:>30}{cell['change']:>30}"
            f"{100 * rel:>+8.1f}%{wins:>4}/{len(full):<2}{m['bound']:>7}  {verdict}"
        )
    loads = {s: [x for p in full for x in p[s]["loadavg"]] for s in SIDES}
    lines.append(
        "loadavg(1m) before/after runs: "
        + ", ".join(
            f"{s} median {statistics.median(loads[s]):.2f} max {max(loads[s]):.2f}"
            for s in SIDES
        )
    )
    ops = sorted({k for p in full for s in SIDES for k in p[s].get("ops", {})})
    lines.append(f"{'operation (median s)':<28}{'parent':>10}{'change':>10}")
    for op in ops:
        med = {
            s: statistics.median([p[s]["ops"][op] for p in full if op in p[s].get("ops", {})])
            for s in SIDES
        }
        lines.append(f"{op:<28}{med['parent']:>10.3f}{med['change']:>10.3f}")
    return "\n".join(lines)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=parse_seeds, required=True,
                    help="e.g. 501-510 or 1,3,5")
    ap.add_argument("--out", type=Path, help="append one JSON line per run")
    args = ap.parse_args(argv)
    bench = json.loads((args.change / "BENCHMARK.json").read_text())
    runs = []
    for i, seed in enumerate(args.seeds):
        for side in SIDES if i % 2 == 0 else SIDES[::-1]:
            checkout = getattr(args, side).resolve()
            r = {"seed": seed, "side": side, "workload": args.workload,
                 **run_once(checkout, bench, args.workload, seed)}
            runs.append(r)
            if args.out:
                with args.out.open("a") as f:
                    f.write(json.dumps(r) + "\n")
            m = r.get("result", {}).get("metrics", {})
            print(
                f"seed {seed} {side}: exit {r['exit']} "
                + " ".join(f"{k}={v['value']:.2f}" for k, v in m.items()),
                file=sys.stderr, flush=True,
            )
    print(summarize(runs, bench))


if __name__ == "__main__":
    main()
