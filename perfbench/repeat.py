"""Run the benchmark many times and summarise, or compare two sets.

    python3 perfbench/repeat.py run --runs 10 --out set_a.json
    python3 perfbench/repeat.py compare set_a.json set_b.json

``run`` makes ``--runs`` rounds; round i runs every workload once with
seed ``--seed0 + i``, in the order of BENCHMARK.json on even rounds and
reversed on odd ones. It prints, per workload and metric, the median,
the quartiles (``statistics.quantiles(n=4)``), the spread (quartile
distance over the median) and the min-max, then each run's host CPU
steal, and saves every run to ``--out``.

Every run is of ``run_seconds``, the length BENCHMARK.json fixes, so
saved sets are comparable.

``compare`` checks that two saved sets of the same code agree within
the bounds in BENCHMARK.json: every spread, ``setup_s``'s too, within
its metric's bound; the medians of the two sets apart by at most the
bound (as a share of the first set's median) in either direction, since
between sets of the same code a large gain is as much a disagreement as
a large loss; and the same share of failed operations. It exits 1 when a
check fails.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def one_run(workload: str, seed: int, trace: int) -> dict:
    bench = spec()
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}")
    info = {}
    for line in lines:
        if line.startswith("perfbench-info "):
            info = json.loads(line[len("perfbench-info "):])
    return {"workload": workload, "seed": seed, "trace": trace,
            "result": json.loads(lines[-1]), "info": info}


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "spread": (q3 - q1) / med if med else float("inf"), "n": len(values)}


def table(runs: list[dict]) -> dict:
    """{workload: {"metrics": {name: summary}, "failed_share": x, ...}}"""
    out: dict[str, dict] = {}
    for r in runs:
        w = out.setdefault(r["workload"], {"values": {}, "attempted": 0, "failed": 0,
                                           "correct": True, "steal": []})
        res = r["result"]
        w["attempted"] += res["attempted"]
        w["failed"] += res["failed"]
        w["correct"] &= res["correct"]
        w["steal"].append(r["info"].get("host_cpu_steal_s"))
        for name, m in res["metrics"].items():
            w["values"].setdefault(name, []).append(m["value"])
    for w in out.values():
        w["metrics"] = {k: summarise(v) for k, v in w.pop("values").items()}
        w["failed_share"] = w["failed"] / w["attempted"] if w["attempted"] else None
    return out


def show(tab: dict) -> None:
    for wl, w in tab.items():
        print(f"== {wl}: correct={w['correct']} failed {w['failed']}/{w['attempted']}")
        print(f"   {'metric':38s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}"
              f" {'min':>12s} {'max':>12s}")
        for name, s in w["metrics"].items():
            print(f"   {name:38s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f}"
                  f" {s['spread']:7.3f} {s['min']:12.4f} {s['max']:12.4f}")
        steal = " ".join(f"{x:.2f}" for x in w["steal"] if x is not None)
        print("   host CPU steal per run (s):", steal)


def compare(a: dict, b: dict) -> list[str]:
    bench = spec()
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    bad = []
    for wl in sorted(set(a) | set(b)):
        if wl not in a or wl not in b:
            bad.append(f"{wl}: missing from one set")
            continue
        if a[wl]["failed_share"] != b[wl]["failed_share"]:
            bad.append(f"{wl}: failed share {a[wl]['failed_share']} vs {b[wl]['failed_share']}")
        for name, m in bounds.items():
            sa, sb = a[wl]["metrics"].get(name), b[wl]["metrics"].get(name)
            if sa is None or sb is None:
                bad.append(f"{wl} {name}: not reported")
                continue
            for label, s in (("first", sa), ("second", sb)):
                if s["spread"] > m["bound"]:
                    bad.append(f"{wl} {name}: {label} spread {s['spread']:.3f} > {m['bound']}")
            change = (sb["median"] - sa["median"]) / sa["median"]
            verdict = "ok" if abs(change) <= m["bound"] else "DISAGREE"
            print(f"{wl:14s} {name:28s} {sa['median']:12.4f} -> {sb['median']:12.4f}"
                  f" ({change:+.3f}, bound {m['bound']}) {verdict}")
            if verdict != "ok":
                bad.append(f"{wl} {name}: medians apart by {change:+.3f}")
    return bad


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args(argv)
    if args.cmd == "compare":
        sets = [table(json.loads(Path(p).read_text())) for p in (args.first, args.second)]
        bad = compare(*sets)
        for line in bad:
            print("FAIL", line)
        return 1 if bad else 0
    names = [w["name"] for w in spec()["workloads"]]
    runs = []
    for i in range(args.runs):
        for wl in (names if i % 2 == 0 else names[::-1]):
            run = one_run(wl, args.seed0 + i, args.trace)
            runs.append(run)
            Path(args.out).write_text(json.dumps(runs, indent=1))
            print(f"run {i} {wl} seed {args.seed0 + i}: correct={run['result']['correct']}"
                  f" {run['result']['failed']}/{run['result']['attempted']} failed,"
                  f" steal {run['info'].get('host_cpu_steal_s', 0):.2f} s", flush=True)
    show(table(runs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
