"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in a fresh process against the package in the
checkout this file sits in, checks its outputs, and prints one JSON
object as the last line of standard output:

    {"correct": true, "attempted": 4, "failed": 1, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layer entry points with spans and reports the per-layer metrics. The
spans are written to ``--out`` (default ``perfbench/out``) at exit.
``--smoke`` runs the workload at scale 0.001 with one set-up and one
round, all checks on.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    BENCH_DIR,
    PACKAGE,
    ROOT,
    Checker,
    Session,
    Tracer,
    data_files,
    dir_bytes,
    duck_over,
    prepare_env,
    rmtree,
)

#: Set-ups per run; ``setup_s`` is their median.
SETUP_REPS = 5
#: Nominal seconds of one round; a run makes max(1, seconds / nominal)
#: rounds, so the work of a run depends on --seconds only.
NOMINAL_ROUND_S = {"medallion_incremental": 40.0, "analytics_pass": 35.0}
#: Scale factor of the generated inputs.
SF = {"medallion_incremental": 0.002, "analytics_pass": 0.001}
#: Incremental batches per medallion round.
K_BATCHES = 1

E2E_UNITS = {
    "setup_s": "s",
    "refresh_s": "s",
    "bulk_s": "s",
    "output_bytes": "bytes",
}
OVERHEAD_OF = ("refresh_s", "bulk_s")

med = statistics.median


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric of every workload, with its unit. A
    workload reports 0 for a layer it never enters."""
    import medallion
    import queries

    names: list[tuple[str, str]] = []
    layer = [(f"{m}.s", "s") for m in medallion.LAYERS] + [
        (f"{m}.jobs", "count") for m in medallion.LAYERS
    ]
    layer += [
        ("operators.writer.bytes", "bytes"),
        ("pipeline.self_s", "s"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
    ]
    for prefix in ("initial", "incremental"):
        names += [(f"{prefix}.{n}", u) for n, u in layer]
    names += [("lake.files", "count"), ("lake.write_amplification", "ratio")]
    for q in queries.QUERIES:
        names += [(f"{q}.s", "s"), (f"{q}.jobs", "count")]
    names += [
        ("plans.build_s", "s"),
        ("plans.exec_s", "s"),
        ("pass.spark.jobs", "count"),
        ("pass.spark.stages", "count"),
        ("pass.spark.tasks", "count"),
        ("plans.gold.marts.jobs", "count"),
        ("plans.gold.marts.writer_s", "s"),
        ("stream.p50_s", "s"),
        ("calls.p50_s", "s"),
        ("session.jvm_start_s", "s"),
        ("session.peak_rss_mb", "MB"),
    ]
    names += [(f"traced.{m}", E2E_UNITS[m]) for m in OVERHEAD_OF]
    names += [(f"overhead.{m}", E2E_UNITS[m]) for m in OVERHEAD_OF]
    return names


# -- workloads -----------------------------------------------------------


def run_medallion(sess: Session, work, args, rounds: int, setups: list[float]):
    import medallion

    m = medallion.Medallion(sess, work / "medallion", args.seed, args.sf, K_BATCHES)
    for i in range(args.setup_reps):
        if i:
            sess.spark.stop()  # tear-down of the previous set-up, untimed
        t0 = T_PROCESS if i == 0 else time.perf_counter()
        sess.start()
        m.setup()
        setups.append(time.perf_counter() - t0)
        log(f"setup {setups[-1]:.2f}")
    tracer = Tracer(sess.spark)
    if args.trace:
        medallion.install_trace(tracer)
    checker = Checker()
    con = medallion.expected_db(m.inputs)
    outs, replays_ok = [], []
    for _ in range(rounds):
        # Untimed. Run before the timed runs, it also takes the JVM's
        # cold start (class loading, JIT compilation) out of them.
        replays_ok.append(m.landing_replay())
        log(f"landing_replay ok={replays_ok[-1]}")
        out = m.one_round(tracer)
        log("runs " + " ".join(f"{t:.2f}" for t in out["times"]))
        m.check(out, checker, con)
        log("checked")
        outs.append(out)
    tracer.uninstall()
    attempted = rounds * (len(m.roots) + 1)
    failed = replays_ok.count(False)

    times = [t for o in outs for t in o["times"]]
    inc = [t for o in outs for t in o["times"][1:]]
    initial = [o["times"][0] for o in outs]
    lake = outs[-1]["lake"]
    e2e = {
        "refresh_s": med(inc),
        "bulk_s": med(initial),
        "output_bytes": dir_bytes(lake),
    }
    layers: dict[str, float] = {"calls.p50_s": med(times)}
    if args.trace:
        runs = [s for s in tracer.spans if s["name"] == "pipeline.run" and s["parent"] is None]
        per_run = [medallion.run_layers(tracer, s) for s in runs]
        n = len(m.roots)
        first = [r for i, r in enumerate(per_run) if i % n == 0]
        rest = [r for i, r in enumerate(per_run) if i % n != 0]
        for prefix, group in (("initial", first), ("incremental", rest)):
            for key in group[0]:
                layers[f"{prefix}.{key}"] = med([g[key] for g in group])
        inc_written = sum(w for o in outs for w in o["written"][1:])
        inc_landed = rounds * sum(dir_bytes(r) for r in m.roots[1:])
        layers["lake.files"] = data_files(lake)
        layers["lake.write_amplification"] = inc_written / inc_landed
        costs = [o["cost"] for o in outs]
        layers["overhead.refresh_s"] = med([c for cs in costs for c in cs[1:]])
        layers["overhead.bulk_s"] = med([cs[0] for cs in costs])
    return e2e, layers, checker, attempted, failed, tracer


def run_analytics(sess: Session, work, args, rounds: int, setups: list[float]):
    import datagen
    import queries

    data = work / "data"
    a = queries.Analytics(sess, work, data)
    for i in range(args.setup_reps):
        if i:
            sess.spark.stop()  # tear-down of the previous set-up, untimed
        t0 = T_PROCESS if i == 0 else time.perf_counter()
        sess.start()
        rmtree(data)
        datagen.write(datagen.generate(args.seed, args.sf), data)
        # warm-up: the first job of a session pays worker start-up
        a.fns["revenue_rollup_sets"](sess.spark, str(data)).collect()
        setups.append(time.perf_counter() - t0)
        log(f"setup {setups[-1]:.2f}")
    tracer = Tracer(sess.spark)
    if args.trace:
        queries.install_trace(tracer)
    checker = Checker()
    con = duck_over(data)
    outs = []
    for _ in range(rounds):
        out = a.one_pass(tracer)
        log(f"pass {out['pass_s']:.2f} marts {out['marts_s']:.2f} " + " ".join(
            f"{q}={out['build'][q] + out['exec'][q]:.2f}" for q in a.queries))
        a.check(out, checker, con)
        log("checked")
        outs.append(out)
    tracer.uninstall()
    attempted = rounds * (len(a.queries) + 1)

    lat = [o["build"][q] + o["exec"][q] for o in outs for q in a.queries]
    e2e = {
        "refresh_s": med([o["pass_s"] for o in outs]),
        "bulk_s": med([o["marts_s"] for o in outs]),
        "output_bytes": med([dir_bytes(o["marts_root"]) for o in outs]),
    }
    layers: dict[str, float] = {"calls.p50_s": med(lat)}
    stream = [o["build"][q] + o["exec"][q] for o in outs for q in a.queries if q.startswith("stream_")]
    layers["stream.p50_s"] = med(stream)
    if args.trace:
        qspans = [s for s in tracer.spans if s["name"] == "query"]
        for q in a.queries:
            mine = [s for s in qspans if s["query"] == q]
            layers[f"{q}.s"] = med([tracer.dur(s) for s in mine])
            layers[f"{q}.jobs"] = med([tracer.jobs(s) for s in mine])
        by_pass: list[dict] = [dict(build=0.0, exec=0.0, jobs=0, stages=0, tasks=0) for _ in outs]
        npq = len(a.queries)
        for i, s in enumerate(qspans):
            p = by_pass[i // npq]
            for c in tracer.children(s):
                p["build" if c["name"] == "plans.build" else "exec"] += tracer.dur(c)
            p["jobs"] += tracer.jobs(s)
            p["stages"] += s["stage1"] - s["stage0"]
            p["tasks"] += s["tasks"]
        marts = [s for s in tracer.spans if s["name"] == "plans.gold.marts"]
        for i, s in enumerate(marts):
            by_pass[i]["jobs"] += tracer.jobs(s)
            by_pass[i]["stages"] += s["stage1"] - s["stage0"]
            by_pass[i]["tasks"] += s["tasks"]
        layers["plans.build_s"] = med([p["build"] for p in by_pass])
        layers["plans.exec_s"] = med([p["exec"] for p in by_pass])
        for k in ("jobs", "stages", "tasks"):
            layers[f"pass.spark.{k}"] = med([p[k] for p in by_pass])
        layers["plans.gold.marts.jobs"] = med([tracer.jobs(s) for s in marts])
        layers["plans.gold.marts.writer_s"] = med(
            [sum(tracer.dur(c) for c in tracer.descendants(s, "operators.writer")) for s in marts]
        )
        layers["overhead.refresh_s"] = med([o["pass_cost"] for o in outs])
        layers["overhead.bulk_s"] = med([o["marts_cost"] for o in outs])
    return e2e, layers, checker, attempted, 0, tracer


WORKLOADS = {"medallion_incremental": run_medallion, "analytics_pass": run_analytics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--out", default=str(BENCH_DIR / "out"))
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    args.sf = 0.001 if args.smoke else SF[args.workload]
    args.setup_reps = 1 if args.smoke else SETUP_REPS
    rounds = 1 if args.smoke else max(1, round(args.seconds / NOMINAL_ROUND_S[args.workload]))

    work = BENCH_DIR / ".work" / f"{args.workload}-{os.getpid()}"
    prepare_env(work)
    sess = Session(work)
    setups: list[float] = []
    try:
        e2e, layers, checker, attempted, failed, tracer = WORKLOADS[args.workload](
            sess, work, args, rounds, setups
        )
        e2e["setup_s"] = med(setups)
        layers["session.peak_rss_mb"] = sess.peak_rss_mb()
        layers["session.jvm_start_s"] = sess.jvm_start_s
        if args.trace:
            from pathlib import Path

            tracer.dump(Path(args.out) / f"spans-{args.workload}-{args.seed}.jsonl")
    finally:
        sess.stop()
        rmtree(work)
        log("stopped")

    for f in checker.failures:
        print(f"CHECK FAILED {f}", file=sys.stderr)
    for f in checker.fragile:
        print(f"fragile (agrees within 1e-9 only): {f}", file=sys.stderr)
    if args.trace:
        for m in OVERHEAD_OF:
            layers[f"traced.{m}"] = e2e[m]
        metrics = {
            n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in per_layer_names()
        }
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
    print(
        json.dumps(
            {
                "correct": checker.ok,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
