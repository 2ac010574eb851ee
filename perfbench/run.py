"""Benchmark of the batch dedup job, end to end and layer by layer.

    python3 perfbench/run.py --workload batch_mixed --seed 42 --seconds 1 --trace 0

Run from the repository root. With ``--trace 0`` the workload runs as a
closed loop with one client: ``jobs/run_dedup.py``'s ``main()`` with default
flags is called again each time the previous call returns, until
``--seconds`` have passed. Every call's outputs are checked against the
pairs planted by ``datagen``. With ``--trace 1`` the run instead times each
layer under its own Spark job group (see layers.py) and reads the layers'
task metrics from the Spark event log.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer metrics). Lines before it print every metric by name, with
its unit and context. See README.md for the workloads and the metrics.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))

import host  # noqa: E402
import layers  # noqa: E402
import stage  # noqa: E402
import tracing as tr  # noqa: E402

WORKLOADS = ("batch_mixed", "batch_unique")
# datagen size per workload; batch_unique keeps only the unique and
# near_miss rows (~48%), so both fixtures hold about 2,000 clips
N_CLIPS = {"batch_mixed": 2000, "batch_unique": 4000}
WATCH_COMMITS = 2       # traced run: fixed watch-mode commit sequence
WATCH_COMMIT_ROWS = 100
TRACE_REFERENCE_JOBS = 1

END_TO_END = {"setup_s": "s", "clips_per_cpu_s": "clips/cpu-s", "peak_rss_mb": "MB"}

_LAYER_UNITS = {"wall_s": "s", "task_s": "s", "session_s": "s",
                "warmup_s": "s", "bootstrap_s": "s", "edge_yield": "ratio",
                "shuffle_write_bytes": "bytes", "bytes_read": "bytes",
                "bytes_written": "bytes", "state_bytes": "bytes"}
PER_LAYER_NAMES = (
    "setup.wall_s", "setup.task_s", "setup.session_s", "setup.warmup_s", "setup.bootstrap_s",
    "sources.scan.wall_s", "sources.scan.task_s", "sources.scan.bytes_read",
    "functions.signatures.wall_s", "functions.signatures.task_s",
    "functions.signatures.shuffle_write_bytes", "functions.signatures.rows",
    "functions.signatures.null_sim_sig",
    "operators.lsh.wall_s", "operators.lsh.task_s", "operators.lsh.shuffle_write_bytes",
    "operators.lsh.shuffle_write_records", "operators.lsh.edges", "operators.lsh.edge_yield",
    "operators.lsh.max_bucket", "operators.lsh.capped_dropped_rows",
    "operators.containment.wall_s", "operators.containment.task_s",
    "operators.containment.shuffle_write_bytes", "operators.containment.edges",
    "operators.components.wall_s", "operators.components.task_s",
    "operators.components.edges", "operators.components.iterations",
    "operators.keeper.wall_s", "operators.keeper.task_s",
    "operators.keeper.shuffle_write_bytes", "operators.keeper.labeled_rows",
    "operators.keeper.clusters",
    "sources.sinks.wall_s", "sources.sinks.task_s", "sources.sinks.bytes_written",
    "sources.snapshots.wall_s", "sources.snapshots.task_s",
    "streaming.watch.wall_s", "streaming.watch.task_s", "streaming.watch.shuffle_write_bytes",
    "streaming.watch.new_rows", "streaming.watch.alerts", "streaming.watch.spark_jobs",
    "streaming.watch.state_files", "streaming.watch.state_bytes",
)
PER_LAYER = {n: _LAYER_UNITS.get(n.rsplit(".", 1)[1], "count") for n in PER_LAYER_NAMES}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=42,
                   help="datagen seed; quote results at 42, check claims again at 7")
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; None below 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    r = n - 10
    return 100.0 * r / n, sorted(samples)[r - 1]


def describe_timing(name: str, samples: list[float], what: str) -> str:
    t = tail(samples)
    tail_txt = (f"p{t[0]:.0f} {t[1]:.3f} s" if t else
                f"n/a (needs >= 11 {what}s for ten beyond it)")
    return (f"{name}: median {statistics.median(samples):.3f} s, tail {tail_txt}, "
            f"n={len(samples)} {what}s")


def load_run_dedup(root: Path):
    spec = importlib.util.spec_from_file_location("run_dedup", root / "jobs" / "run_dedup.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Jobs:
    """Runs and checks ``run_dedup.main()`` calls on one staged fixture. The
    first call's report row and pair count are the reference every later
    call of this invocation must reproduce."""

    def __init__(self, run_dedup, fx, work: Path):
        self.rd, self.fx, self.work = run_dedup, fx, work
        self.ops: list[dict] = []
        self.reference = None

    def run(self) -> dict:
        out = self.work / "out" / f"job{len(self.ops)}"
        op: dict = {"ok": False}
        try:
            with contextlib.redirect_stdout(sys.stderr):
                c0, t0 = host.job_cpu_s(), time.perf_counter()
                summary = self.rd.main(["--input", str(self.fx.path), "--output", str(out), "--local"])
                op["wall"] = time.perf_counter() - t0
                op["cpu"] = host.job_cpu_s() - c0
            op["report"], op["pairs"] = summary["report"], stage.parquet_rows(out / "pairs")
            op["quality"] = stage.batch_quality(out / "actions", self.fx)
            self.check(op)
        except Exception:
            op["error"] = traceback.format_exc(limit=3)
            print(op["error"], file=sys.stderr)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        self.ops.append(op)
        return op

    def check(self, op: dict) -> None:
        key = (op["report"], op["pairs"])
        if self.reference is None:
            self.reference = key
        op["ok"] = stage.quality_ok(op["quality"]) and key == self.reference


def result_line(correct: bool, attempted: int, failed: int, values: dict, spec: dict) -> str:
    """The final stdout line: every metric of ``spec`` (name -> unit)."""
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": values[k], "unit": u} for k, u in spec.items()}})


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not ((root / "file_deduplicator_spark" / "__init__.py").is_file()
            and (root / "jobs" / "run_dedup.py").is_file()):
        print("perfbench: run from the repository root; the file_deduplicator_spark "
              "package or jobs/run_dedup.py is missing", file=sys.stderr)
        return 2

    work = root / ".bench_work" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    host.configure_env(root, work)
    sys.path.insert(0, str(root))

    fx = stage.stage(root / ".bench_cache", args.workload, N_CLIPS[args.workload], args.seed)
    # sampled from here, so datagen's memory on a cache miss is not counted
    sampler = host.RssSampler()
    sampler.start()
    run_dedup = load_run_dedup(root)
    from file_deduplicator_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        (work / "events").mkdir(parents=True)
        conf.update(tr.EVENT_LOG_CONF, **{"spark.eventLog.dir": str(work / "events")})
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    tracer = tr.Tracer(spark) if args.trace else None

    jobs = Jobs(run_dedup, fx, work)
    setup_s = time.monotonic() - T_START - fx.datagen_s
    warmup_s = None
    layer_out: dict = {}
    if not args.trace:
        # closed loop, one client; the first job of the process is timed too
        t_end = time.monotonic() + args.seconds
        while True:
            jobs.run()
            if time.monotonic() >= t_end:
                break
        timed = jobs.ops
    else:
        # the warm-up pass pays the one-time JIT, codegen and worker start-up,
        # so the reference job and the traced chain both run warm
        with tracer.span("setup", "warmup"):
            warmup_s = jobs.run().get("wall", 0.0)
        for _ in range(TRACE_REFERENCE_JOBS):
            jobs.run()
        timed = jobs.ops[1:]
        layer_out = traced(spark, tracer, run_dedup, fx, work, args.seed, jobs)
    # stopped before the CPU probe starts its own processes
    peak_rss = sampler.stop()
    probe = host.cpu_probe(root, host.nproc())
    host.stop_spark(spark)
    if layer_out:
        # the event log is complete once the session has stopped
        finish_layers(layer_out, tracer, work)

    walls = [op["wall"] for op in timed if op["ok"]]
    attempted = len(jobs.ops) + layer_out.get("attempted", 0)
    failed = sum(not op["ok"] for op in jobs.ops) + layer_out.get("failed", 0)
    quality = (timed or jobs.ops)[-1].get("quality") or {}

    v = host.versions()
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"seconds={args.seconds:g}")
    print(f"host: nproc={host.nproc()} ram_mb={host.ram_mb()} heap_mb={host.heap_mb()} "
          f"master=local[{host.nproc()}] shuffle_partitions={host.nproc()} "
          + " ".join(f"{k}={x}" for k, x in v.items()))
    print(f"cpu_probe ({host.nproc()} procs, context only): {probe}")
    print(f"fixture: rows={fx.rows} planted_pairs={len(fx.expected)} "
          f"forbidden_pairs={len(fx.forbidden)} datagen_s={fx.datagen_s:.2f}"
          f"{' (cached)' if not fx.datagen_s else ' (excluded from setup_s)'}")
    print(f"setup: session_s={session_s:.3f} setup_s={setup_s:.3f}"
          + (f" warmup_s={warmup_s:.3f}" if warmup_s is not None else ""))
    if jobs.reference:
        same = all(op.get("report") is not None and (op["report"], op["pairs"]) == jobs.reference
                   for op in jobs.ops)
        print(f"outputs: report={json.dumps(jobs.reference[0], sort_keys=True)} "
              f"pairs={jobs.reference[1]} identical_across_{len(jobs.ops)}_jobs={same}")

    correct = failed == 0 and bool(walls)
    values: dict = {}
    spec: dict = {}
    if args.trace:
        if layer_out.get("metrics"):
            layer_out["metrics"]["setup.session_s"] = session_s
            layer_out["metrics"]["setup.warmup_s"] = warmup_s
            print_layers(layer_out, walls)
            values, spec = layer_out["metrics"], PER_LAYER
        correct = correct and layer_out.get("ok", False)
    elif walls:
        cpus = [op["cpu"] for op in timed if op["ok"]]
        values = {"setup_s": setup_s, "clips_per_cpu_s": fx.rows / statistics.median(cpus),
                  "peak_rss_mb": peak_rss}
        spec = END_TO_END
        print_end_to_end(values, walls, cpus, fx.rows, quality, failed, attempted)
    shutil.rmtree(work, ignore_errors=True)
    print(result_line(correct, attempted, failed, values, spec))
    return 0


def print_end_to_end(values: dict, walls: list[float], cpus: list[float], rows: int,
                     quality: dict, failed: int, attempted: int) -> None:
    """All eight end-to-end metrics, by name and unit, plus the CPU-clock
    throughput the JSON carries; the watch-commit ones print as n/a for a
    batch workload."""
    recall = quality.get("pair_recall")
    print(f"metric setup_s = {values['setup_s']:.3f} s")
    print(f"metric clips_per_s = {rows / statistics.median(walls):.2f} clips/s "
          f"({describe_timing('job wall', walls, 'job')}; {rows} input rows; "
          "not in the JSON, see README.md)")
    print(f"metric clips_per_cpu_s = {values['clips_per_cpu_s']:.3f} clips/cpu-s "
          f"(job CPU: median {statistics.median(cpus):.2f} s of driver, JVM and Python workers)")
    print("metric commit_p50_s = n/a s (batch workload; the traced run times watch commits)")
    print("metric commit_tail_s = n/a s (batch workload)")
    print(f"metric pair_recall = {fmt(recall) if recall is not None else 'n/a (no planted pairs)'}"
          f" ratio {json.dumps(quality.get('recall_by_kind', {}), sort_keys=True)}")
    print(f"metric false_pair_rate = {fmt(quality.get('false_pair_rate'))} ratio "
          f"(of {quality.get('forbidden_pairs')} forbidden pairs)")
    print(f"metric peak_rss_mb = {values['peak_rss_mb']:.1f} MB")
    print(f"metric error_rate = {failed / max(attempted, 1):.4g} ratio "
          f"({failed} failed of {attempted} attempted)")


def traced(spark, tracer, run_dedup, fx, work: Path, seed: int, jobs: Jobs) -> dict:
    """Layer-by-layer batch chain plus a watch-mode commit sequence on the
    same fixture; returns the per-layer metric table and its checks."""
    out: dict = {"attempted": 2, "failed": 0, "checks": {}}
    t0 = time.perf_counter()
    chain_out = work / "traced"
    try:
        res = layers.batch_chain(spark, tracer, fx.path, chain_out, run_dedup)
        chain_s = time.perf_counter() - t0
        pairs = stage.parquet_rows(chain_out / "pairs")
        q = stage.batch_quality(chain_out / "actions", fx)
        ok = (res["report"], pairs) == jobs.reference and stage.quality_ok(q)
        out["checks"]["batch"] = {"ok": ok, "report": res["report"], "pairs": pairs}
        out["chain_s"], out["extra"] = chain_s, res["extra"]
    except Exception:
        traceback.print_exc()
        ok, out["extra"] = False, {}
        out["checks"]["batch"] = {"ok": False}
    out["failed"] += not ok
    try:
        boot, commits = stage.commit_slices(fx, seed, work / "commits", WATCH_COMMITS, WATCH_COMMIT_ROWS)
        w = layers.watch_sequence(spark, tracer, boot, commits, work)
        wq = stage.watch_quality(w["alerts_dir"], fx)
        wok = stage.quality_ok(wq)
        out["watch"], out["checks"]["watch"] = w, {"ok": wok, "quality": wq}
    except Exception:
        traceback.print_exc()
        wok, out["watch"] = False, None
        out["checks"]["watch"] = {"ok": False}
    out["failed"] += not wok
    out["ok"] = ok and wok
    return out


def finish_layers(out: dict, tracer, work: Path) -> None:
    groups = tr.parse_event_log(work / "events")
    m = tr.layer_metrics(tracer.walls, groups)
    m.update({k: v for k, v in out["extra"].items() if k != "operators.components.mode"})
    lsh = groups.get("operators.lsh") or {}
    m["sources.scan.bytes_read"] = (groups.get("sources.scan") or {}).get("bytes_read", 0)
    m["sources.sinks.bytes_written"] = (groups.get("sources.sinks") or {}).get("bytes_written", 0)
    m["operators.lsh.shuffle_write_records"] = lsh.get("shuffle_write_records", 0)
    m["operators.lsh.edge_yield"] = (m.get("operators.lsh.edges", 0)
                                     / max(lsh.get("shuffle_write_records", 0), 1))
    w = out.get("watch") or {}
    m["streaming.watch.spark_jobs"] = ((groups.get("streaming.watch") or {}).get("jobs", 0)
                                       / max(len(w.get("commit_s", ())), 1))
    m["setup.bootstrap_s"] = w.get("bootstrap_s", 0.0)
    for k in ("new_rows", "alerts", "state_files", "state_bytes"):
        m[f"streaming.watch.{k}"] = w.get(k, 0)
    out["metrics"], out["groups"] = m, groups


def print_layers(out: dict, walls: list[float]) -> None:
    m = out["metrics"]
    groups = out["groups"]
    for layer in tr.LAYERS:
        g = groups.get(layer) or {}
        cols = " ".join(f"{k[len(layer) + 1:]}={fmt(v)}"
                        for k, v in m.items() if k.startswith(layer + "."))
        print(f"layer {layer}: {cols} spark_jobs_total={g.get('jobs', 0)}")
    print(f"layer operators.components: mode={out['extra'].get('operators.components.mode')}")
    chain = [la for la in tr.LAYERS if la not in ("setup", "sources.snapshots", "streaming.watch")]
    total = sum(m[f"{la}.wall_s"] for la in chain)
    if total:
        print("layer shares of the traced batch chain (wall): "
              + " ".join(f"{la}={m[f'{la}.wall_s'] / total:.1%}" for la in chain))
    w = out.get("watch")
    if w:
        print("metric commit_p50_s = "
              f"{statistics.median(w['commit_s']):.3f} s ({describe_timing('commit', w['commit_s'], 'commit')};"
              " event log on)")
        print(f"watch checks: {json.dumps(out['checks']['watch'].get('quality'), sort_keys=True)}")
    if "chain_s" in out and walls:
        print(f"tracing overhead: traced chain {out['chain_s']:.3f} s - untraced job median "
              f"{statistics.median(walls):.3f} s = {out['chain_s'] - statistics.median(walls):+.3f} s")
    b = out["checks"].get("batch", {})
    print(f"traced outputs equal untraced: {b.get('ok')} report={json.dumps(b.get('report'), sort_keys=True)} "
          f"pairs={b.get('pairs')}")


if __name__ == "__main__":
    sys.exit(main())
