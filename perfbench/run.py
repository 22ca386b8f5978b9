"""pbf_spark benchmark: one workload, one process, Spark local[nproc / 2].

    python3 perfbench/run.py --workload ingest|spatial \\
        [--seed N] [--seconds S] [--trace 0|1] [--fixture-seed 42]

Run from the repository root. Untraced (``--trace 0``) it prints the
end-to-end metrics; traced (``--trace 1``) it also runs traced jobs and
prints the per-layer metrics. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}; a human-readable
table goes before it. Any failed output check makes the exit code 1. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SETUP_REPS = 3
TRACED_JOBS = 2
# a job whose bracketing memcpy probe reads below this share of the run's
# median job probe ran inside a host memory-stall storm: it is set aside
# from the medians, counted and reported
PROBE_FLOOR = 0.70
DRIVER_HEAP = "2g"


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _session(work: Path, name: str):
    from pbf_spark.session import get_spark

    # every task slot drives a Python worker as well, so k slots keep about
    # 2k processes busy: k = half the usable cores keeps that within them
    # (on a 4-vCPU VM, spatial jobs at k = 4 took 8.3 s against 7.3 s at 2)
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    # everything Spark writes (shuffle, spill, job output, JVM temp files)
    # stays under the run's work directory inside the checkout, on its disk;
    # the engine's own default for shuffle and spill is tmpfs
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # a 2 GB driver heap instead of the engine's 16 GB default: at 16 GB
    # the collector grew the JVM to 5-7.7 GB on these small inputs, and the
    # benchmark shares its machine's memory
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    return get_spark(
        app_name=f"perfbench-{name}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    ), cores


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def run(args) -> int:
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(BENCH_DIR))
    import host
    import inputs
    import tracing
    import wirebench
    import workloads

    spec = _spec()
    work = BENCH_DIR / ".work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    failures: list[str] = []
    attempted = 0
    info: dict = {"workload": args.workload, "seed": args.seed, "fixture_seed": args.fixture_seed}

    base, manifest, info["fixture_gen_s"] = inputs.ensure_base_fixture(args.fixture_seed)
    probe = host.MemcpyProbe()
    stalls0 = host.stall_counters()

    t0 = time.perf_counter()
    spark, info["cores"] = _session(work, args.workload)
    info["session_start_s"] = time.perf_counter() - t0
    try:
        tracer = tracing.Tracer(spark.sparkContext, enabled=False)
        ctx = workloads.Ctx(spark, tracer, work, args.seed, base, manifest)
        wl = workloads.WORKLOADS[args.workload](ctx)

        t0 = time.perf_counter()
        wl.prepare()
        info["input_prep_s"] = time.perf_counter() - t0

        setup_times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
        info["setup_reps_s"] = setup_times

        t0 = time.perf_counter()
        wl.expect()
        info["reference_answers_s"] = time.perf_counter() - t0

        # warm-up: the first (cold) job pays Python-worker start, codegen and
        # JIT and is part of setup_s; the workload's further warm-up jobs
        # make the timed jobs run warm. Their time is printed, not counted
        # in setup_s.
        warm = []
        while len(warm) < wl.warmup_jobs:
            attempted += wl.ops_per_job
            dt, bad = _checked_job(wl, -1 - len(warm))
            warm.append(dt)
            failures += bad
        info["warmup_jobs_s"] = warm
        setup_s = info["session_start_s"] + statistics.median(setup_times) + warm[0]

        # timed window, tracing off
        rows = []
        with host.PeakRss() as rss:
            t_end = time.perf_counter() + args.seconds
            i = 0
            while time.perf_counter() < t_end or i < wl.min_jobs:
                p0 = probe()
                io0, steal0 = host.stall_counters()
                dt, bad = _checked_job(wl, i)
                io1, steal1 = host.stall_counters()
                p1 = probe()
                attempted += wl.ops_per_job
                failures += bad
                if not bad:
                    rows.append({"job": i, "job_s": dt, "probe_gbps": min(p0, p1),
                                 "io_stall_s": io1 - io0, "steal_s": steal1 - steal0})
                i += 1
        if not rows:
            raise RuntimeError(f"every timed job failed: {failures}")
        typical = statistics.median(r["probe_gbps"] for r in rows)
        for r in rows:
            r["set_aside"] = r["probe_gbps"] < PROBE_FLOOR * typical
        kept = [r["job_s"] for r in rows if not r["set_aside"]] or [r["job_s"] for r in rows]
        job_s = statistics.median(kept)
        info["jobs"] = rows
        info["peak_jvm_rss_mb"] = rss.jvm / 2**20
        info["jobs_set_aside"] = sum(r["set_aside"] for r in rows)
        info["job_s_quartiles"] = _quartiles(kept)
        units = wl.units()
        end_to_end = {
            "setup_s": setup_s,
            "job_s": job_s,
            "throughput": units / job_s,
            "peak_worker_rss_mb": rss.workers / 2**20,
        }
        info["throughput_unit"] = f"{wl.unit}/s ({units} per job)"
        info["failed_ratio"] = len(failures) / max(attempted, 1)

        metrics = end_to_end
        if args.trace:
            layers, trace_extra = _traced(args, wl, tracer, work, job_s, rows, tracing, wirebench, workloads)
            layers["mem.jvm_rss_mb"] = info["peak_jvm_rss_mb"]
            attempted += trace_extra.pop("attempted")
            failures += trace_extra.pop("failures")
            info["trace"] = trace_extra
            info["failed_ratio"] = len(failures) / max(attempted, 1)
            metrics = layers
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    info["run_io_stall_s"], info["run_steal_s"] = (b - a for a, b in zip(stalls0, host.stall_counters()))

    units_of = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    _print_table(info, end_to_end, failures, attempted)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": float(v), "unit": units_of[k]} for k, v in metrics.items()},
    }))
    return 1 if failures else 0


def _checked_job(wl, i: int) -> tuple[float, list[str]]:
    """→ (wall seconds of job ``i``, failed checks). An exception raised by
    the engine is a failed job, not the end of the run."""
    t0 = time.perf_counter()
    try:
        res = wl.job(i)
    except Exception as e:  # noqa: BLE001 — boundary: report and go on
        traceback.print_exc()
        return time.perf_counter() - t0, [f"{wl.name} job {i}: {type(e).__name__}: {e}"]
    dt = time.perf_counter() - t0
    return dt, wl.check(res)


def _traced(args, wl, tracer, work, untraced_job_s, rows, tracing, wirebench, workloads):
    """Traced jobs after the untraced window; → (per-layer metrics, extra)."""
    spec = _spec()
    tracer.enabled = True
    attempted, failures, traced_s, job_spans, counters = 0, [], [], [], []
    for j in range(TRACED_JOBS):
        with tracer.job(j, "job") as js:
            res = wl.job(1000 + j)
        traced_s.append(js.dur)
        job_spans.append(js)
        attempted += wl.ops_per_job
        counters.append(wl.counters(res))
        failures += wl.check(res)
    query_s, query_groups = {}, []
    if args.workload == "ingest":
        # one checked, traced pass over every declared query. The catalog is
        # not a workload of BENCHMARK.json (its runs do not fit the time
        # budget for all runs beside ingest and spatial), so its layer is
        # measured here, after the ingest jobs it must not disturb.
        cat = workloads.Catalog(wl.ctx)
        cat.prepare()
        cat.expect()
        for name in cat.all_queries:
            with tracer.span(f"queries.{name}") as s:
                pdf = cat.run_query(name)
            query_s[f"queries.{name}_s"] = s.dur
            query_groups.append(s.group)
            attempted += 1
            failures += cat.check_query(name, pdf)
    tracer.enabled = False

    reader = tracing.StatusStoreReader(wl.ctx.spark)
    groups, stages = reader.jobs_by_group(), reader.stages()
    per_job, engine = [], []
    for jn, js in enumerate(job_spans):
        spans = tracer.descendants(js)
        eng, _ = tracing.engine_split(reader, groups, stages, [s.group for s in spans])
        engine.append(eng)
        by_name = {s.name: s for s in spans}

        def dur(name):
            return by_name[name].dur if name in by_name else 0.0

        m = {
            "iceberg_lite.read_s": dur("iceberg_lite.read_table"),
            "iceberg_lite.commit_s": dur("iceberg_lite.commit"),
            "parquet.write_s": dur("parquet.write_entities"),
            "lineage.append_s": dur("lineage.append_lineage"),
            "pbf_sink.write_s": dur("pbf_sink.write_pbf"),
            "pbf_file.index_s": dur("pbf_file.read_blob_table"),
            "pbf_file.read_decode_s": dur("pbf_file.read_decode"),
            "spatial.pip_s": dur("spatial.point_in_polygon_join"),
            "knn.s": dur("knn.knn_join"),
            "tiles.s": dur("tiles.materialize_tiles"),
            "ways.s": dur("ways.assemble_way_geometries"),
            "trace.gap_s": tracer.self_time(js),
        }
        if "pbf_sink.write_pbf" in by_name:
            m["pbf_sink.encode_tasks"] = _heaviest_stage_tasks(groups, stages, by_name["pbf_sink.write_pbf"].group)
        if "spatial.point_in_polygon_join" in by_name:
            pip_sql = tracing.engine_split(reader, groups, stages, [by_name["spatial.point_in_polygon_join"].group])[1]
            # the prefilter join's output = the candidates the ray cast refines
            cand = max((v for k, v in pip_sql.items() if k.startswith("max:") and "Join|number of output rows" in k), default=0.0)
            m["spatial.refine_hit_ratio"] = counters[jn]["spatial.pip_rows"] / cand if cand else 0.0
        if "knn.knn_join" in by_name:
            knn_eng, knn_sql = tracing.engine_split(reader, groups, stages, [by_name["knn.knn_join"].group])
            m["knn.jobs"] = knn_eng["spark.jobs"]
            # candidate pairs = rows the distance UDF evaluated, over all rounds
            pairs = knn_sql.get("ArrowEvalPython:haversine_udf|number of output rows", 0.0)
            m["knn.hit_ratio"] = workloads.KNN_K * len(wl.qpts) / pairs if pairs > 0 else 0.0
        for name in by_name:
            if name.startswith("queries."):
                m[f"{name}_s"] = dur(name)
        per_job.append(m)

    layers = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
    layers.update(tracing.median_dict(engine))
    layers.update(tracing.median_dict(per_job))
    layers.update(tracing.median_dict(counters))
    layers.update(query_s)
    if query_groups:
        layers["queries.exchanges"] = tracing.engine_split(reader, groups, stages, query_groups)[0]["queries.exchanges"]
    layers.update(wirebench.wire_layer(wl.wire_sample()))
    if hasattr(wl, "index_build_s"):
        layers["spatial.index_build_s"] = wl.index_build_s
    traced_job_s = statistics.median(traced_s)
    layers["trace.overhead_s"] = traced_job_s - untraced_job_s
    layers["host.memcpy_gbps"] = statistics.median(r["probe_gbps"] for r in rows)
    layers = {k: v for k, v in layers.items() if k in {m["name"] for m in spec["per_layer"]}}

    self_times: dict[str, float] = {}
    for js in job_spans:
        for s in tracer.descendants(js):
            self_times[s.name] = self_times.get(s.name, 0.0) + tracer.self_time(s) / len(job_spans)
    extra = {
        "attempted": attempted,
        "failures": failures,
        "traced_job_s": traced_job_s,
        "self_time_s": self_times,
        "covered_share": 1.0 - statistics.median(p["trace.gap_s"] / j.dur for p, j in zip(per_job, job_spans)),
    }
    tracer.dump(work.parent / f"trace-{args.workload}-s{args.seed}.json", {"per_layer": layers, **{k: v for k, v in extra.items() if k != "failures"}})
    return layers, extra


def _heaviest_stage_tasks(groups, stages, group) -> float:
    ids = groups.get(group, (set(), set()))[1]
    st = [stages[i] for i in ids if i in stages]
    return float(max(st, key=lambda s: s["run_s"])["tasks"]) if st else 0.0


def _print_table(info: dict, e2e: dict, failures: list[str], attempted: int) -> None:
    print(f"# workload {info['workload']}  seed {info['seed']}  fixture seed {info['fixture_seed']}  local[{info['cores']}]")
    print(f"#   fixture generation {info['fixture_gen_s']:.2f} s (excluded from setup_s), input prep {info['input_prep_s']:.2f} s")
    warm = info["warmup_jobs_s"]
    print(f"#   session start {info['session_start_s']:.2f} s, setup reps {[round(x, 3) for x in info['setup_reps_s']]}, cold warm-up job {warm[0]:.2f} s")
    print(f"#   further warm-up jobs (not in setup_s): {[round(x, 3) for x in warm[1:]]}")
    print(f"#   reference answers for the checks {info['reference_answers_s']:.2f} s (excluded from setup_s)")
    for r in info["jobs"]:
        print(f"#   job {r['job']:3d}  {r['job_s']:.3f} s  memcpy {r['probe_gbps']:.1f} GB/s  io stall {r['io_stall_s']:.2f} s"
              f"  cpu steal {r['steal_s']:.2f} s{'  SET ASIDE (host stall)' if r['set_aside'] else ''}")
    print(f"#   jobs set aside: {info['jobs_set_aside']}; job_s quartiles {info['job_s_quartiles'][0]:.3f} / {info['job_s_quartiles'][1]:.3f} s")
    units = {"setup_s": "s", "job_s": "s", "throughput": info["throughput_unit"], "peak_worker_rss_mb": "MB"}
    for k, v in e2e.items():
        print(f"#   {k:14s} {v:14.4f} {units[k]}")
    print(f"#   {'JVM peak RSS':18s} {info['peak_jvm_rss_mb']:10.1f} MB (per-layer mem.jvm_rss_mb)")
    print(f"#   host over the whole run: io stall {info['run_io_stall_s']:.2f} s, cpu steal {info['run_steal_s']:.2f} s")
    print(f"#   {'failed_ratio':14s} {info['failed_ratio']:14.4f} ({len(failures)} of {attempted} operations)")
    if "trace" in info:
        tr = info["trace"]
        print(f"#   traced job_s {tr['traced_job_s']:.3f} s; spans cover {tr['covered_share']:.1%} of job wall time")
        for name, s in sorted(tr["self_time_s"].items(), key=lambda kv: -kv[1]):
            print(f"#     self {name:40s} {s:8.3f} s")
    for f in failures:
        print(f"# FAILED: {f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["ingest", "spatial"])
    ap.add_argument("--seed", type=int, default=42, help="input seed: which blobs, the re-emitted slice, the checked sample, the catalog rows")
    ap.add_argument("--seconds", type=float, default=10.0, help="length of the timed window")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fixture-seed", type=int, default=42, help="seed of the cached base fixture (42 is golden)")
    args = ap.parse_args()
    if not (ROOT / "pbf_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no pbf_spark package beside {BENCH_DIR.name}/ — run from a full checkout", file=sys.stderr)
        return 2
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 3


if __name__ == "__main__":
    sys.exit(main())
