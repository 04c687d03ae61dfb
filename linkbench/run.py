"""Link-graph benchmark: one seeded corpus-to-answer job per run.

Run from the repository root (any working directory works):

    python3 linkbench/run.py --workload supersteps_corpus --seed 42 --seconds 10 --trace 0

Each run is one driver process that starts a fresh JVM on
``local[<cores>]`` with empty shuffle and checkpoint directories. It

1. starts the session and sets up the graph from the seed
   ``SETUP_ROUNDS`` times (corpus -> import edges -> degree-ordered
   graph), keeping the last graph;
2. runs closed-loop passes of the workload's operator calls, one call
   at a time: first the workload's warm-up passes, which the metrics
   leave out, then passes until ``--seconds`` have passed and the
   workload's minimum number of passes has run (a pass always
   completes);
3. checks every call's answer against an independent oracle, outside
   the timed region;
4. prints every metric by name with its unit, then one JSON line:
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same job with a span around every call into the package and a forced
materialisation at each layer boundary; it reports the per-layer
metrics, writes the spans and the per-layer table under
``.linkbench/traces/``, and prints the tracing overhead: its own
``job_s`` minus the median ``job_s`` of the untraced runs recorded in
this checkout for the same workload, seed, window and code (a hash of
the package and benchmark sources). Without such a record it says so
and prints no overhead; run ``--trace 0`` with the same arguments first.
Every run writes its metrics, samples, code hash and Spark conf under
``.linkbench/results/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(ROOT, ".linkbench")
SETUP_ROUNDS = 2
DRIVER_HEAP = "4g"
WORKLOAD_NAMES = ("supersteps_corpus", "motifs_corpus")
OPERATOR_LAYERS = ("pagerank", "components", "labelprop", "triangles", "cliques")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(workdir: str) -> None:
    """Everything the JVM and its Python workers write goes under the
    run's own work directory, and the workers can import the package
    whatever the working directory is."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP


def start_session(workload: str, workdir: str):
    from simdgraphprocessing_spark import get_spark

    return get_spark(
        app_name=f"linkbench-{workload}",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every child has exited."""
    from pyspark import SparkContext

    from procs import wait_tree_gone

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_tree_gone()


def spark_conf(spark) -> dict:
    skip = ("spark.app.id", "spark.app.startTime", "spark.driver.host", "spark.driver.port",
            "spark.app.submitTime", "spark.sql.warehouse.dir", "spark.local.dir",
            "spark.driver.extraJavaOptions")
    return {k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
            if k.startswith("spark.") and k not in skip}


def code_fingerprint() -> str:
    """Hash of the package and benchmark sources, stored with every
    result so a traced run compares only with runs of the same code."""
    h = hashlib.sha256()
    for sub in ("simdgraphprocessing_spark", "linkbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, sub, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def recorded_untraced(args, code: str) -> list[float]:
    """``job_s`` of the correct untraced runs recorded for this workload,
    seed, window and code."""
    out = []
    for path in glob.glob(os.path.join(OUT_DIR, "results", f"{args.workload}-s{args.seed}-t0-*.json")):
        with open(path) as fh:
            r = json.load(fh)
        if r["seconds"] == args.seconds and r.get("code") == code and r["correct"]:
            out.append(r["metrics"]["job_s"]["value"])
    return out


def export_edges(edges, workdir: str):
    """The graph's edge table as numpy arrays plus a parquet copy, for
    the oracles (after the measuring window)."""
    import pyarrow.parquet as pq

    tbl = edges.select("src", "dst").toArrow()
    path = os.path.join(workdir, "edges.parquet")
    pq.write_table(tbl, path)
    return tbl.column("src").to_numpy(), tbl.column("dst").to_numpy(), path


def check_calls(workload, passes, src, dst, parquet: str, probe: dict | None):
    """Compare every call's answer, and the kernel probe's triangle
    total, with the oracles; returns (attempted, failed, notes)."""
    import oracles

    attempted = failed = 0
    notes = []

    def verdict(ok: bool, what: str) -> None:
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            notes.append(f"MISMATCH {what}")

    notes = workload.check(passes, src, dst, parquet, verdict) + notes
    if probe is not None:
        want = oracles.motif_counts(parquet, cliques=False)["triangles"]
        verdict(probe["triangles"] == want, f"kernel probe: {probe['triangles']} != {want} triangles")
    return attempted, failed, notes


def median(vals):
    return statistics.median(vals) if vals else 0.0


def measured(w, passes):
    """The passes the metrics use: those after the workload's warm-up
    passes (all of them if a failed pass cut the loop short)."""
    return passes[w.warmup_passes:] or passes


def end_to_end(w, session_s, rounds, passes) -> tuple[dict, dict]:
    """(metrics, per-operator samples) over the measured passes."""
    passes = measured(w, passes)
    op_walls = [sum(c.wall for c in calls) for calls in passes]
    rates = [sum(c.work_rows for c in calls) / sum(c.wall for c in calls) for calls in passes]
    setup_s = session_s + median(rounds)
    op_s = median(op_walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "job_s": (setup_s + op_s, "s"),
        "op_s": (op_s, "s"),
        "edges_per_s": (median(rates), "1/s"),
    }
    per_op = {}
    for calls in passes:
        for c in calls:
            per_op.setdefault(f"{c.op}_s", []).append(c.wall)
    return metrics, per_op


def per_layer(w, tracer, session_s, peak_rss_mb, rounds, passes, counts, probe) -> tuple[dict, dict]:
    """The traced run's ``<layer>.<field>`` metrics: (those both
    workloads report, the printed workload-specific ones)."""
    from spans import STAGE_FIELDS, zero_stages

    m = {"session.start_s": (session_s, "s"), "session.peak_rss_mb": (peak_rss_mb, "MB")}
    for name, key in (("corpus.make_corpus", "corpus.make_s"),
                      ("corpus.extract_edges", "corpus.extract_s"),
                      ("graph.normalize_edges", "graph.normalize_s"),
                      ("graph.degree_rank_ids", "graph.degree_rank_s"),
                      ("graph.reassign_ids", "graph.reassign_s")):
        m[key] = (tracer.median_self(name), "s")
    for key in ("corpus.edge_rows", "graph.edge_rows", "graph.vertices"):
        m[key] = (counts[key], "count")

    op_pass_ids = [s["id"] for s in tracer.spans if s["name"] == "op.pass"]
    passes = measured(w, passes)
    pass_ids = set(op_pass_ids[len(op_pass_ids) - len(passes):])

    def stage_sum(layers, parents=None):
        tot, wall = zero_stages(), 0.0
        for s in tracer.spans:
            if s["layer"] not in layers or (parents is not None and s["parent"] not in parents):
                continue
            wall += tracer.self_time(s)
            for f in STAGE_FIELDS:
                tot[f] += s["stages"][f]
        return tot, wall

    n_cores = tracer.cores
    for layer in ("corpus", "graph"):
        tot, wall = stage_sum((layer,))
        m[f"{layer}.stages"] = (tot["stages"] / len(rounds), "count")
        m[f"{layer}.executor_run_s"] = (tot["executor_run_s"] / len(rounds), "s")
        m[f"{layer}.shuffle_write_mb"] = (tot["shuffle_write_mb"] / len(rounds), "MB")
        m[f"{layer}.busy_ratio"] = (tot["executor_run_s"] / (wall * n_cores), "ratio")
    tot, wall = stage_sum(OPERATOR_LAYERS, pass_ids)
    n = len(passes)
    m["op.stages"] = (tot["stages"] / n, "count")
    m["op.tasks"] = (tot["tasks"] / n, "count")
    m["op.executor_run_s"] = (tot["executor_run_s"] / n, "s")
    m["op.gc_s"] = (tot["gc_s"] / n, "s")
    m["op.shuffle_write_mb"] = (tot["shuffle_write_mb"] / n, "MB")
    m["op.shuffle_read_mb"] = (tot["shuffle_read_mb"] / n, "MB")
    m["op.result_mb"] = (tot["result_mb"] / n, "MB")
    m["op.busy_ratio"] = (tot["executor_run_s"] / (wall * n_cores), "ratio")

    steps = [w for calls in passes for c in calls for w in c.steps]
    m["op.steps"] = (len(steps) / n, "count")
    m["op.step_s_first"] = (median([c.steps[0] for calls in passes for c in calls[:1]]), "s")
    m["op.step_s_median"] = (median(steps), "s")
    m["op.step_s_max"] = (max(steps), "s")

    m["triangles.csr_build_s"] = (probe["triangles.csr_build_s"], "s")
    m["triangles.csr_values"] = (probe["triangles.csr_values"], "count")
    m["kernels.pairs_per_s"] = (probe["kernels.pairs_per_s"], "1/s")
    m["kernels.hit_ratio"] = (probe["kernels.hit_ratio"], "ratio")
    m["kernels.bytes_computed"] = (probe["kernels.bytes_computed"], "B")

    # printed only: zero on a healthy run, or on one of the workloads
    extra = {"op.failed_tasks": (tot["failed_tasks"], "count"),
             "op.spill_mb": (tot["spill_mb"] / n, "MB")}
    if any(s["name"] == "pagerank.build_shuffle_plan" for s in tracer.spans):
        extra["pagerank.plan_build_s"] = (tracer.median_self("pagerank.build_shuffle_plan"), "s")
    resume = {c.op: c for c in passes[-1]}.get("labelprop_resume")
    if resume is not None:
        extra["iteration.supersteps"] = (sum(len(c.steps) for c in passes[-1]), "count")
        extra["iteration.ckpt_mb"] = (resume.info["ckpt_mb"], "MB")
        extra["iteration.resumed_from"] = (resume.info["resumed_from"] or 0, "count")
        extra["iteration.recomputed_steps"] = (resume.info["recomputed_steps"], "count")
    return m, extra


def write_json(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, default=str)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("simdgraphprocessing_spark") is None:
        print(f"linkbench: package simdgraphprocessing_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    workdir = os.path.join(OUT_DIR, "work", run_id)
    prepare_env(workdir)

    from workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    try:
        return measure(args, w, run_id, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def measure(args, w, run_id: str, workdir: str) -> int:
    from procs import PeakRss
    from spans import Tracer, format_table
    from workloads import kernel_probe, set_up

    rss = PeakRss().start()
    spark = None
    try:
        spark = start_session(args.workload, workdir)
        session_s = time.perf_counter() - T_PROCESS
        tracer = Tracer(spark, run_id, enabled=bool(args.trace), cores=cores())
        conf = spark_conf(spark)

        edges, rounds, counts = None, [], None
        for _ in range(SETUP_ROUNDS):
            if edges is not None:
                edges.unpersist()
            t0 = time.perf_counter()
            with tracer.span("setup.round"):
                edges, c = set_up(spark, tracer, w.n_files, args.seed)
            rounds.append(time.perf_counter() - t0)
            if counts is not None and c["graph.edge_rows"] != counts["graph.edge_rows"]:
                raise SystemExit("set-up is not deterministic: edge rows differ between rounds")
            counts = c
        rows = counts["graph.edge_rows"]

        passes, attempted, failed = [], 0, 0
        t_loop = time.perf_counter()
        while True:
            try:
                with tracer.span("op.pass"):
                    passes.append(w.run_pass(tracer, edges, rows, workdir, len(passes)))
            except Exception:  # a broken pass is a failed call; keep what passed
                import traceback

                traceback.print_exc()
                attempted += 1
                failed += 1
                break
            if len(passes) == w.warmup_passes:  # the window opens after the warm-up
                t_loop = time.perf_counter()
            if time.perf_counter() - t_loop >= args.seconds and len(passes) >= w.min_passes:
                break
        peak_rss_mb = rss.stop()
        if not passes:
            return 1

        probe = kernel_probe(tracer, edges) if args.trace else None
        tracer.finish()
        src, dst, parquet = export_edges(edges, workdir)
    finally:
        rss.stop()
        if spark is not None:
            stop_session(spark)

    a, f, notes = check_calls(w, passes, src, dst, parquet, probe)
    attempted, failed = attempted + a, failed + f

    e2e, per_op = end_to_end(w, session_s, rounds, passes)
    job_s = e2e["job_s"][0]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{rows} edge rows, {len(rounds)} set-ups, {len(passes)} passes in {args.seconds:g} s window, "
          f"{len(measured(w, passes))} measured")
    print(f"spark: {conf.get('spark.master')} driver.memory={conf.get('spark.driver.memory')} "
          f"shuffle.partitions={conf.get('spark.sql.shuffle.partitions')}")
    for note in notes:
        print(note)
    for name, vals in per_op.items():
        print(f"{name} = {median(vals):.4f} s (median of n={len(vals)})")
    print(f"setup_rounds_s = {', '.join(f'{r:.4f}' for r in rounds)}")
    print(f"peak_rss_mb = {peak_rss_mb:.1f} MB (driver, JVM and Python workers)")
    code = code_fingerprint()
    if args.trace:
        metrics, extra = per_layer(w, tracer, session_s, peak_rss_mb, rounds, passes, counts, probe)
        for line in format_table(tracer.layer_table()):
            print(line)
        untraced = recorded_untraced(args, code)
        if untraced:
            extra["tracing.overhead_s"] = (job_s - median(untraced), "s")
            print(f"traced job_s = {job_s:.4f} s, untraced job_s = {median(untraced):.4f} s "
                  f"(median of {len(untraced)} recorded runs of this seed, window and code)")
        else:
            print(f"traced job_s = {job_s:.4f} s; no tracing overhead: no untraced run of this "
                  f"seed, window and code is recorded (run --trace 0 with the same arguments first)")
        for name, (value, unit) in extra.items():
            print(f"{name} = {value} {unit}")
        tracer.write(os.path.join(OUT_DIR, "traces", f"{run_id}.json"),
                     {"workload": args.workload, "seed": args.seed, "code": code, "conf": conf,
                      "metrics": {k: v for k, (v, _) in {**metrics, **extra}.items()}})
    else:
        metrics = e2e
    print(f"failed_op_ratio = {failed / max(attempted, 1):.4f} ({failed} of {attempted} calls)")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value} {unit}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    write_json(os.path.join(OUT_DIR, "results", f"{run_id}.json"),
               {**result, "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "code": code, "conf": conf, "setup_rounds_s": rounds,
                "peak_rss_mb": peak_rss_mb,
                "per_op_s": per_op, "notes": notes})
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
