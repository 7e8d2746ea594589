"""Steadiness evidence for the benchmark.

    python3 perfbench/steadiness.py --out perfbench/evidence/set-a.json
    python3 perfbench/steadiness.py --out perfbench/evidence/set-b.json \
        --compare perfbench/evidence/set-a.json

Runs every workload of BENCHMARK.json once per seed 1..``--seeds``
(workloads interleaved), untraced, then two traced runs each (seeds 1, 2).
Reports per run the metrics beside the CPU calibration samples taken before
and after it; per metric the quartile spread (Q3 - Q1) / median against the
metric's bound; for traced runs the accounting ratio, whether every exact
count repeated and the tracing overhead; and with ``--compare`` how far each
median moved from an earlier set.  Exits 1 when a spread exceeds its bound,
a count differs, a run fails, or a median got worse than the earlier set by
more than its bound."""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.workloads import EXACT_COUNTS  # noqa: E402


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}")
    result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
    return {"seed": seed, "trace": trace, "wall_s": wall, "result": result, "record": record}


def _spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    seeds = range(1, args.seeds + 1)
    runs: dict[str, list] = {w: [] for w in workloads}
    traced: dict[str, list] = {w: [] for w in workloads}
    ok = True
    for seed in seeds:
        for w in workloads:
            r = _run(w, seed, bench["run_seconds"], 0)
            runs[w].append(r)
            cal = r["record"]["calibration_s"]
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["result"]["metrics"].items())
            print(f"{w:11s} seed={seed:<3d} wall={r['wall_s']:5.1f}s calib={cal['before']:.3f}/{cal['after']:.3f}s "
                  f"correct={r['result']['correct']} {vals}", flush=True)
            ok &= r["result"]["correct"]
    for w in workloads:
        for seed in (1, 2):
            r = _run(w, seed, bench["run_seconds"], 1)
            traced[w].append(r)
            cal = r["record"]["calibration_s"]
            print(f"{w:11s} seed={seed:<3d} traced wall={r['wall_s']:5.1f}s "
                  f"calib={cal['before']:.3f}/{cal['after']:.3f}s "
                  f"accounting={r['record']['accounting']['ratio']:.3f}", flush=True)
            ok &= r["result"]["correct"]

    summary: dict = {}
    earlier = json.loads(Path(args.compare).read_text())["summary"] if args.compare else {}
    for w in workloads:
        s = summary[w] = {"metrics": {}}
        for name, bound in bounds.items():
            values = [r["result"]["metrics"][name]["value"] for r in runs[w]]
            med, spread = statistics.median(values), _spread(values)
            m = s["metrics"][name] = {"median": med, "spread": spread, "bound": bound}
            verdict = "ok" if spread <= bound / 3 else ("within bound" if spread <= bound else "TOO NOISY")
            ok &= spread <= bound
            line = f"{w:11s} {name:20s} median={med:<10.4g} spread={spread:.3f} bound={bound} {verdict}"
            if name in earlier.get(w, {}).get("metrics", {}):
                change = med / earlier[w]["metrics"][name]["median"] - 1
                m["vs_earlier"] = change
                worse = change > bound  # every metric here is better lower
                ok &= not worse
                line += f" vs earlier {change:+.3f}{' WORSE' if worse else ''}"
            print(line)
        if traced[w]:
            layers = [r["result"]["metrics"] for r in traced[w]]
            counts = {c: sorted({m[c]["value"] for m in layers}) for c in EXACT_COUNTS}
            differ = {c: v for c, v in counts.items() if len(v) > 1}
            ok &= not differ
            untraced = s["metrics"]["call_p50_ms"]["median"]
            traced_call = statistics.median(m["trace.call_p50_ms"]["value"] for m in layers)
            s["traced"] = {
                "counts": {c: v[0] for c, v in counts.items()},
                "counts_differ": differ,
                "trace_overhead_call_p50_ms": traced_call / untraced - 1,
                "accounting_ratio": [r["record"]["accounting"]["ratio"] for r in traced[w]],
            }
            print(f"{w:11s} traced: counts {'identical' if not differ else 'DIFFER ' + str(differ)}, "
                  f"call_p50_ms overhead {s['traced']['trace_overhead_call_p50_ms']:+.3f}")
    out = {"benchmark": bench, "runs": runs, "traced": traced, "summary": summary, "ok": ok}
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(out, indent=1))
    print("steady" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
