"""Benchmark of the engine's two user-facing jobs on this host.

    python3 perfbench/run.py --workload match --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``): ``match`` is the ``pipeline.py --job
match`` flow, ``extract`` the resumable extraction job and its resume
call. The query suite, a fixed list of registered queries over the
modules the two jobs leave unmeasured, runs only in the traced run of
``match``.

One process, a closed loop with one client: after set-up (seeded input
generation, repeated and its median taken; session start; one warm-up
iteration) it runs one iteration at a time on ``local[nproc]`` until
``--seconds`` have passed, at least once. Outputs are checked after
every iteration, outside the timed region, against DuckDB oracles that
are computed before the session starts and are not part of set-up. Layer
times come from timing the benchmark's own calls into each layer's
public functions.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``. They
are CPU seconds of this process and its descendants (the JVM and the
Python workers), not wall time: on a virtual machine whose host is
shared, wall time follows the CPU time the hypervisor steals, which this
run does not control. Wall times are per-layer metrics.
``--trace 1`` runs one untraced iteration, restarts the session with
the Spark event log on and a job group around every layer call, runs one
traced iteration (for ``match``, then the query suite's first pass) and
prints the per-layer metrics, folding task time, shuffle and spill per
layer out of the event log. Layers a workload does not call read 0.

The last stdout line is the JSON result; the lines before it are a
readable report, with peak memory, the failed fraction and the host
record: nproc, memory, 1-minute load before and after, and the shares of
CPU time stolen by the hypervisor, waiting on I/O and used by processes
outside the run while it ran. ``--record FILE`` also writes the full run
record (host, every iteration, top-layers table) as JSON.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pdf_ocr_comparison_tool_spark"
SETUP_REPEATS = 3
DEADLINE_S = 160.0  # no new iteration once this much of the run has passed
SUITE_BY_S = 100.0  # no query suite pass (up to ~55 s) once this much has passed


def host_record() -> dict:
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    gib = kb / 2**20
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(gib, 2),
        # well below the host's memory, which other tenants share
        "driver_mem": f"{max(1, min(4, int(gib // 4)))}g",
        "load_1m_before": os.getloadavg()[0],
    }


def cpu_clock() -> dict:
    """Machine-wide CPU seconds from /proc/stat, and this process tree's
    own (children are counted once waited for)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    t = os.times()
    return {"total": sum(f) / hz, "iowait": f[4] / hz, "steal": f[7] / hz,
            "busy": (sum(f) - f[3] - f[4]) / hz,
            "own": t.user + t.system + t.children_user + t.children_system}


def contention(before: dict, after: dict) -> dict:
    """Shares of the machine's CPU time during the run: stolen by the
    hypervisor, waiting on I/O, and busy in processes outside this run."""
    d = {k: after[k] - before[k] for k in before}
    return {
        "steal_frac": d["steal"] / d["total"],
        "iowait_frac": d["iowait"] / d["total"],
        "foreign_cpu_frac": max(0.0, d["busy"] - d["steal"] - d["own"]) / d["total"],
    }


def start_session(work: str, host: dict, traced: bool):
    from pdf_ocr_comparison_tool_spark.session import get_spark

    conf = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", cores=str(host["nproc"]), extra_conf=conf)


def stop_jvm() -> None:
    """End the Spark JVM (and with it the Python workers) and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        SparkContext._gateway = SparkContext._jvm = None
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(timeout=60)


def iterate(wl, spark, sf_dir: str, out: str, L, **kw) -> dict:
    """One timed iteration and the storage/job probes after it."""
    from probes import storage, tree_cpu_s

    it: dict = {"errors": []}
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    try:
        wl.iteration(spark, sf_dir, out, L, **kw)
        it["wall_s"] = time.perf_counter() - t0
        it["cpu_s"] = tree_cpu_s() - c0
        spark.catalog.clearCache()
        it["persisted_rdds"], it["retained_mb"] = storage(spark.sparkContext)
        it["jobs"] = L.jobs()
    except Exception as e:  # a failed iteration is counted, not fatal
        traceback.print_exc()
        it["errors"].append(f"{type(e).__name__}: {e}")
    it["layers"], it["layer_cpu"], it["result"] = dict(L.times), dict(L.cpu), L.result
    return it


def check(wl, spark, sf_dir: str, out: str, it: dict, oracle: dict, n_input: int) -> None:
    if not it["errors"]:
        state = {"result": it.pop("result"), "n_input": n_input}
        try:
            it["errors"] = wl.check(spark, sf_dir, out, oracle, state)
        except Exception as e:  # as above: a failed check is counted
            traceback.print_exc()
            it["errors"] = [f"check {type(e).__name__}: {e}"]
        it.update(state)
    it.pop("result", None)
    it["ok"] = not it["errors"]


def _size(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def measure(a, work: str, host: dict) -> dict:
    from oracle import oracles
    from probes import Layers, TreeRss, fold_event_log, tree_cpu_s
    from workloads import SUITE, SUITE_PASS, WORKLOADS

    t_run = time.perf_counter()
    wl = WORKLOADS[a.workload]
    gen, gen_cpu = [], []
    for k in range(SETUP_REPEATS):
        sf_dir = f"{work}/input{k}"
        c0, t0 = tree_cpu_s(), time.perf_counter()
        n_input = wl.make_input(sf_dir, a.seed)
        gen.append(time.perf_counter() - t0)
        gen_cpu.append(tree_cpu_s() - c0)
        if k:
            shutil.rmtree(f"{work}/input{k - 1}")
    # before the session starts, outside every timed region
    t0 = time.perf_counter()
    oracle = oracles(wl.name, sf_dir, wl.oracle_queries)
    out = f"{work}/out"
    rec: dict = {"input_s": gen, "n_input": n_input, "oracle_s": time.perf_counter() - t0,
                 "input_bytes": _size(f"{sf_dir}/documents.parquet"), "iterations": []}
    suite = SUITE_PASS if a.trace and wl.name == "match" else None
    if suite:
        suite_dir = f"{work}/suite_input"
        suite.make_input(suite_dir, a.seed)
        suite_oracle = oracles(suite.name, suite_dir, suite.oracle_queries)
    try:
        with TreeRss() as rss:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            spark = start_session(work, host, traced=False)
            rec["session_s"] = time.perf_counter() - t0
            t1 = time.perf_counter()
            warm = iterate(wl, spark, sf_dir, out, Layers(spark.sparkContext, False, "warmup"))
            rec["warmup_s"] = time.perf_counter() - t1
            rec["setup_wall_s"] = rec["session_s"] + statistics.median(gen) + rec["warmup_s"]
            rec["setup_cpu_s"] = tree_cpu_s() - c0 + statistics.median(gen_cpu)
            check(wl, spark, sf_dir, out, warm, oracle, n_input)
            rec["warmup"] = warm
            rss.reset()
            t_loop = time.perf_counter()
            while True:
                n = len(rec["iterations"])
                it = iterate(wl, spark, sf_dir, out, Layers(spark.sparkContext, False, f"iter{n}"))
                check(wl, spark, sf_dir, out, it, oracle, n_input)
                rec["iterations"].append(it)
                now = time.perf_counter()
                # traced: one untraced iteration to compare with
                if (a.trace or now - t_loop >= a.seconds
                        or now - t_run + it.get("wall_s", 0.0) > DEADLINE_S):
                    break
            if a.trace:
                spark.stop()
                t0 = time.perf_counter()
                spark = start_session(work, host, traced=True)
                rec["restart_s"] = time.perf_counter() - t0
                L = Layers(spark.sparkContext, True, "")
                if wl.name == "extract":
                    wl.extraction_only(spark, sf_dir, L)
                    extraction = dict(L.times)
                    L = Layers(spark.sparkContext, True, "")
                it = iterate(wl, spark, sf_dir, out, L)
                check(wl, spark, sf_dir, out, it, oracle, n_input)
                it["group_jobs"] = {g: L.jobs(g) for g in L.groups}
                if wl.name == "extract":
                    it["layers"].update(extraction)
                    it["group_jobs"]["extraction.exec"] = L.jobs("extraction.exec")
                rec["traced"] = it
                if suite and time.perf_counter() - t_run > SUITE_BY_S:
                    print("perfbench: run too slow to fit the query suite; its metrics read 0")
                elif suite:
                    # the head sentinels run warm, so head against tail
                    # measures cross-query interference
                    warm = iterate(suite, spark, suite_dir, out,
                                   Layers(spark.sparkContext, False, "suite.warmup"),
                                   entries=SUITE[:2])
                    check(suite, spark, suite_dir, out, warm, suite_oracle, 0)
                    rec["suite_warmup"] = warm
                    L = Layers(spark.sparkContext, True, "")
                    it = iterate(suite, spark, suite_dir, out, L)
                    check(suite, spark, suite_dir, out, it, suite_oracle, 0)
                    it["group_jobs"] = {g: L.jobs(g) for g in L.groups}
                    rec["suite"] = it
            rec["peak_rss_mb"] = rss.peak_mb
            spark.stop()
    finally:
        stop_jvm()
    if a.trace:
        rec["events"] = fold_event_log(f"{work}/eventlog")
    return rec


def _item_time(wl, it: dict, cpu: bool) -> float:
    """Time an iteration's items took: the whole iteration, or for
    ``extract``, whose items are the docs its fresh-directory call
    commits, that call."""
    if wl.name == "extract":
        return it["layer_cpu" if cpu else "layers"]["checkpoint.commit"]
    return it["cpu_s" if cpu else "wall_s"]


def end_to_end(wl, rec: dict) -> dict:
    timed = [it for it in rec["iterations"] if "wall_s" in it]
    ok = [it for it in timed if it["ok"]]
    if not ok:
        raise RuntimeError(f"no iteration succeeded: {rec['iterations'][-1]['errors']}")
    return {
        "cpu_s": statistics.median(it["cpu_s"] for it in timed),
        "items_per_cpu_s": ok[-1]["items"] / statistics.median(
            _item_time(wl, it, cpu=True) for it in timed),
        "setup_s": rec["setup_cpu_s"],
    }


def per_layer(wl, rec: dict) -> dict:
    from pdf_ocr_comparison_tool_spark import config as C
    from workloads import SUITE

    t, ev = rec["traced"], rec["events"]
    passes = [t, *([rec["suite"]] if "suite" in rec else [])]
    for it in passes:
        if "wall_s" not in it:
            raise RuntimeError(f"traced iteration failed: {it['errors']}")
    m = {f"{layer}_s": secs for it in passes for layer, secs in it["layers"].items()}
    for layer in ("matching.exec", "extraction.exec"):
        g = ev.get(layer, {})
        m[f"{layer.split('.')[0]}.task_s"] = g.get("task_s", 0.0)
        if layer == "matching.exec":
            m["matching.shuffle_mb"] = g.get("shuffle_mb", 0.0)
            m["matching.spill_mb"] = g.get("spill_mb", 0.0)
    gj = {g: n for it in passes for g, n in it["group_jobs"].items()}
    for entry, _ in SUITE:
        m[f"suite.{entry}.jobs"] = sum(gj.get(f"suite.{entry}.{p}", 0) for p in ("call", "exec"))
    if wl.name == "match":
        sc = t["status_counts"]
        n = {k: sc.get(s, 0) for k, s in (
            ("exact", C.STATUS_EXACT), ("partial", C.STATUS_PARTIAL),
            ("low", C.STATUS_LOW), ("not_found", C.STATUS_NOT_FOUND))}
        m.update({f"matching.{k}": v for k, v in n.items()})
        m["matching.match_rate"] = (n["exact"] + n["partial"]) / sum(n.values())
    if wl.name == "extract":
        m["checkpoint.write_mb"] = t["write_bytes"] / 1e6
        m["checkpoint.files"] = t["write_files"]
        m["checkpoint.write_amp"] = t["write_bytes"] / rec["input_bytes"]
    last = passes[-1]  # storage is read after the run's last pass
    untraced = rec["iterations"][-1]
    m.update({
        "iteration.wall_s": untraced["wall_s"],
        "iteration.items_per_s": untraced["items"] / _item_time(wl, untraced, cpu=False),
        "setup.wall_s": rec["setup_wall_s"],
        "spark.persisted_rdds": last["persisted_rdds"],
        "spark.retained_mb": last["retained_mb"],
        "spark.jobs": t["jobs"],
        "spark.tasks_failed": sum(g["tasks_failed"] for g in ev.values()),
        "session.start_s": rec["session_s"],
        "process.peak_rss_mb": rec["peak_rss_mb"],
        "tracing.overhead_s": t["wall_s"] - untraced["wall_s"],
        "tracing.layer_share": sum(
            s for k, s in t["layers"].items() if k != "extraction.exec") / t["wall_s"],
    })
    return m


def top_layers(it: dict, ev: dict) -> list[str]:
    """Markdown table of one traced pass's layers, slowest first."""
    rows = ["| layer | wall s | share | task s | shuffle MB | spill MB | jobs |",
            "|---|---|---|---|---|---|---|"]
    for layer, secs in sorted(it["layers"].items(), key=lambda kv: -kv[1]):
        g = ev.get(layer, {})
        rows.append(
            f"| {layer} | {secs:.3f} | {secs / it['wall_s']:.1%} | {g.get('task_s', 0):.3f} "
            f"| {g.get('shuffle_mb', 0):.3f} | {g.get('spill_mb', 0):.3f} "
            f"| {it['group_jobs'].get(layer, 0)} |"
        )
    return rows


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("match", "extract"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", help="also write the full run record to this JSON file")
    a = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ is missing beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "eventlog"):
        os.makedirs(f"{work}/{d}")
    os.environ["TMPDIR"] = f"{work}/tmp"  # Python, py4j and DuckDB temp files
    host = host_record()
    os.environ["SPARK_DRIVER_MEM"] = host["driver_mem"]
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    wl = WORKLOADS[a.workload]
    clock = cpu_clock()
    try:
        rec = measure(a, work, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    host["load_1m_after"] = os.getloadavg()[0]
    host.update(contention(clock, cpu_clock()))
    runs = [rec["warmup"], *rec["iterations"],
            *(rec[k] for k in ("traced", "suite_warmup", "suite") if k in rec)]
    failed = sum(not it["ok"] for it in runs)
    kind = "per_layer" if a.trace else "end_to_end"
    values = per_layer(wl, rec) if a.trace else end_to_end(wl, rec)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[kind]}

    print(f"workload {wl.name}  seed {a.seed}  trace {a.trace}  nproc {host['nproc']}  "
          f"mem {host['mem_total_gib']} GiB  driver {host['driver_mem']}  "
          f"load {host['load_1m_before']:.2f} -> {host['load_1m_after']:.2f}  "
          f"steal {host['steal_frac']:.1%}  iowait {host['iowait_frac']:.1%}  "
          f"other processes {host['foreign_cpu_frac']:.1%}")
    walls = [(round(it["wall_s"], 3), round(it["cpu_s"], 3))
             for it in rec["iterations"] if "wall_s" in it]
    print(f"iterations (wall s, cpu s) {walls}  set-up {rec['setup_wall_s']:.3f} s wall  "
          f"items {rec['iterations'][-1].get('items')} {wl.item_unit}")
    for name, v in metrics.items():
        if not a.trace or v["value"]:
            print(f"  {name:40s} {v['value']:14.4f} {v['unit']}")
    print(f"  {'peak_rss_mb':40s} {rec['peak_rss_mb']:14.4f} MB")
    print(f"  {'failed_frac':40s} {failed / len(runs):14.4f} ratio")
    for it in runs:
        for err in it["errors"]:
            print(f"  check failed: {err}")
    print(f"check: {'ok' if not failed else 'FAILED'} ({len(runs) - failed}/{len(runs)} iterations correct)")
    if a.trace:
        print(f"tracing overhead {values['tracing.overhead_s']:+.3f} s; "
              f"layers cover {values['tracing.layer_share']:.1%} of the traced iteration")
        rec["top_layers"] = top_layers(rec["traced"], rec["events"])
        print("\n".join(rec["top_layers"]))
        if "suite" in rec:
            rec["suite_top_layers"] = top_layers(rec["suite"], rec["events"])
            print(f"query suite, traced first pass {rec['suite']['wall_s']:.3f} s:")
            print("\n".join(rec["suite_top_layers"]))
    if a.record:
        with open(a.record, "w") as fh:
            json.dump({"workload": wl.name, "seed": a.seed, "trace": a.trace, "host": host,
                       "metrics": metrics, "failed_frac": failed / len(runs), **rec},
                      fh, indent=1, default=str)
    print(json.dumps({"correct": not failed, "attempted": len(runs), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
