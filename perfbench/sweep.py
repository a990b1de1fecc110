"""Run the benchmark over several seeds and summarise the spread.

    python3 perfbench/sweep.py --workloads flf_ingest table_commits query_mix \\
        --seeds 1-10 --seconds 8 --trace 0 --out perfbench/results/untraced.json

Runs one benchmark process at a time, from the repository root: seeds in
the outer loop, then workloads, then trace modes. For every workload and
trace mode it reports each metric's median, quartiles and inter-quartile
spread as a share of the median, pools the per-run latency samples into
one tail, and, when both modes ran, the tracing overhead (traced minus
untraced median of each end-to-end metric).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

from measure import quartile_spread, tail

ROOT = Path(__file__).resolve().parent.parent


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_one(workload: str, seed: int, seconds: float, trace: int, log_dir: Path) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    log = log_dir / f"{workload}-seed{seed}-trace{trace}.log"
    t0 = time.perf_counter()
    with open(log, "w") as err:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                              text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    rec = {"seed": seed, "trace": trace, "exit": proc.returncode,
           "process_s": time.perf_counter() - t0}
    if len(lines) >= 2:
        rec["detail"] = json.loads(lines[-2])
        rec["result"] = json.loads(lines[-1])
    return rec


def describe(values) -> dict:
    values = [v for v in values if v is not None]
    out = {"n": len(values)}
    if not values:
        return out
    out["median"] = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3)
        if out["median"]:
            out["spread"] = quartile_spread(values)
    return out


def summarise(runs: list[dict]) -> dict:
    ok = [r for r in runs if "result" in r]
    summary = {
        "runs": len(runs),
        "correct": all(r.get("result", {}).get("correct") for r in runs),
        "process_s": describe(r["process_s"] for r in runs),
        "end_to_end": {},
        "workload_metrics": {},
    }
    if not ok:
        return summary
    for name in ok[0]["detail"]["end_to_end"]:
        summary["end_to_end"][name] = describe(
            r["detail"]["end_to_end"][name]["value"] for r in ok)
    for name, first in ok[0]["detail"]["workload_metrics"].items():
        if name.endswith("_samples_s"):
            pooled = [x for r in ok for x in r["detail"]["workload_metrics"][name]["value"]]
            t = tail(pooled)
            summary["workload_metrics"][name.replace("_samples_s", "_pooled")] = {
                "n": len(pooled), "p50_s": statistics.median(pooled) if pooled else None,
                "tail_pct": t[0] if t else None, "tail_s": t[1] if t else None,
            }
        else:
            summary["workload_metrics"][name] = dict(
                describe(r["detail"]["workload_metrics"][name]["value"] for r in ok),
                unit=first["unit"])
    if ok[0]["trace"]:
        summary["per_layer"] = {
            name: describe(r["result"]["metrics"][name]["value"] for r in ok)
            for name in ok[0]["result"]["metrics"]
        }
        summary["module_layers"] = {
            name: describe(r["detail"]["module_layers"].get(name) for r in ok)
            for name in ok[0]["detail"]["module_layers"]
        }
    summary["shape"] = [r["detail"]["shape"] for r in ok]
    return summary


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, nargs="+", default=[0], choices=(0, 1))
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    log_dir = ROOT / ".perfbench_out" / "logs"
    log_dir.mkdir(parents=True, exist_ok=True)
    runs: dict[tuple[str, int], list[dict]] = {}
    for seed in args.seeds:
        for wl in args.workloads:
            for trace in args.trace:
                rec = run_one(wl, seed, args.seconds, trace, log_dir)
                runs.setdefault((wl, trace), []).append(rec)
                e2e = rec.get("detail", {}).get("end_to_end", {})
                print(wl, seed, trace, rec["exit"], f"{rec['process_s']:.1f}s",
                      {k: round(v["value"], 3) for k, v in e2e.items()}, flush=True)

    report = {"seconds": args.seconds, "seeds": args.seeds, "workloads": {}}
    for wl in args.workloads:
        entry = report["workloads"][wl] = {}
        for trace in args.trace:
            entry["traced" if trace else "untraced"] = summarise(runs[(wl, trace)])
        if len(args.trace) == 2 and all(entry[m]["end_to_end"] for m in ("traced", "untraced")):
            entry["tracing_overhead"] = {
                name: {
                    "traced_minus_untraced": entry["traced"]["end_to_end"][name]["median"]
                    - base["median"],
                    "share_of_untraced": (entry["traced"]["end_to_end"][name]["median"]
                                          - base["median"]) / base["median"],
                }
                for name, base in entry["untraced"]["end_to_end"].items()
            }
        entry["raw"] = runs_for_report(runs, wl, args.trace)
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    for wl, entry in report["workloads"].items():
        for mode in ("untraced", "traced"):
            if mode in entry:
                spreads = {k: round(v.get("spread", float("nan")), 4)
                           for k, v in entry[mode]["end_to_end"].items()}
                print(wl, mode, "correct" if entry[mode]["correct"] else "INCORRECT", spreads)
    return 0 if all(e[m]["correct"] for e in report["workloads"].values()
                    for m in ("untraced", "traced") if m in e) else 1


def runs_for_report(runs, wl, traces) -> list[dict]:
    """Per-run end-to-end values, trimmed of the bulky detail fields."""
    out = []
    for trace in traces:
        for r in runs[(wl, trace)]:
            out.append({
                "seed": r["seed"], "trace": trace, "exit": r["exit"],
                "process_s": r["process_s"],
                "correct": r.get("result", {}).get("correct"),
                "end_to_end": {k: v["value"] for k, v in
                               r.get("detail", {}).get("end_to_end", {}).items()},
                "rounds": [{k: v for k, v in rd.items() if k not in ("start", "end")}
                           for rd in r.get("detail", {}).get("rounds", [])],
                "loadavg": [r.get("detail", {}).get("shape", {}).get(k)
                            for k in ("loadavg_start", "loadavg_end")],
            })
    return out


if __name__ == "__main__":
    sys.exit(main())
