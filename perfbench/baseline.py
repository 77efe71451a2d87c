"""Record a set of benchmark runs: each workload once per seed, then one
traced run per workload, summarised as JSON and a Markdown report.

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/baseline/set1

Spread is the distance between the first and third quartile of a
metric's values (``statistics.quantiles(n=4)``) as a share of their
median, the figure each ``bound`` in ``BENCHMARK.json`` is judged by.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.NamedTemporaryFile(suffix=".json", dir=work) as fh:
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--record", fh.name],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        run_s = time.perf_counter() - t0
        if p.returncode != 0:
            raise RuntimeError(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
        rec = json.load(fh)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    keep = {"seed": seed, "run_s": run_s, "host": rec["host"], "result": result,
            "peak_rss_mb": rec["peak_rss_mb"], "failed_frac": rec["failed_frac"],
            "iterations_s": [it.get("wall_s") for it in rec["iterations"]]}
    if trace:
        keep["top_layers"] = rec["top_layers"]
        if "suite" in rec:
            keep["suite_wall_s"] = rec["suite"]["wall_s"]
            keep["suite_top_layers"] = rec["suite_top_layers"]
    return keep


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    p.add_argument("--out", required=True, help="path prefix for .json and .md")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    first, last = map(int, a.seeds.split("-"))
    seeds = range(first, last + 1)
    report: dict = {"runs": {}, "traced": {}, "summary": {}}
    md = [f"# Benchmark set `{os.path.basename(a.out)}`", ""]
    t_set = time.perf_counter()
    for w in (x["name"] for x in spec["workloads"]):
        runs = report["runs"][w] = [one_run(w, s, spec["run_seconds"], 0) for s in seeds]
        traced = report["traced"][w] = one_run(w, last + 1, spec["run_seconds"], 1)
        md += [f"## {w}", "", "| metric | median | spread | bound |", "|---|---|---|---|"]
        for m in spec["end_to_end"]:
            med, spr = spread([r["result"]["metrics"][m["name"]]["value"] for r in runs])
            report["summary"][f"{w}.{m['name']}"] = {"median": med, "spread": spr}
            md.append(f"| {m['name']} ({m['unit']}) | {med:.4g} | {spr:.3f} | {m['bound']} |")
        rss, _ = spread([r["peak_rss_mb"] for r in runs])
        loads = [r["host"][k] for r in runs for k in ("load_1m_before", "load_1m_after")]
        steal, other = ([r["host"][k] for r in runs] for k in ("steal_frac", "foreign_cpu_frac"))
        h = runs[0]["host"]
        tm = traced["result"]["metrics"]
        md += ["", f"{len(runs)} runs, seeds {first}-{last}, all correct: "
               f"{all(r['result']['correct'] for r in runs)}; median peak RSS {rss:.0f} MB; "
               f"host nproc {h['nproc']}, {h['mem_total_gib']} GiB, driver {h['driver_mem']}; "
               f"1-min load before and after runs {min(loads):.2f}-{max(loads):.2f}; "
               f"CPU stolen {min(steal):.1%}-{max(steal):.1%}, used by other processes "
               f"{min(other):.1%}-{max(other):.1%}; a run took "
               f"{min(r['run_s'] for r in runs):.0f}-{max(r['run_s'] for r in runs):.0f} s, "
               f"the traced run {traced['run_s']:.0f} s.", "",
               f"Traced run (seed {last + 1}): tracing overhead "
               f"{tm['tracing.overhead_s']['value']:+.3f} s; layers cover "
               f"{tm['tracing.layer_share']['value']:.1%} of the traced iteration. "
               "Layers slowest first:", "",
               *traced["top_layers"], ""]
        if "suite_top_layers" in traced:
            md += [f"The same traced run then ran the query suite's first pass "
                   f"({traced['suite_wall_s']:.3f} s). Entries slowest first:", "",
                   *traced["suite_top_layers"], ""]
    report["set_s"] = time.perf_counter() - t_set
    md += [f"The set took {report['set_s']:.0f} s.", ""]
    with open(a.out + ".json", "w") as fh:
        json.dump(report, fh, indent=1, ensure_ascii=False)
    with open(a.out + ".md", "w") as fh:
        fh.write("\n".join(md))
    try:
        os.rmdir(os.path.join(ROOT, ".perfbench_work"))
    except OSError:
        pass


if __name__ == "__main__":
    main()
