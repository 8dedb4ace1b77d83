"""Tile-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload points_deep --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` times the workload with
tracing off and prints the end-to-end metrics. ``--trace 1`` runs Spark
with an uncompressed event log, times one op with tracing off, calls
every layer inside a span tagged as a Spark job group, times one traced
op, and prints the per-layer metrics rolled up from the log. The last
stdout line is the result object; a per-run record (metrics, spans,
layer rollup, drift control) is written under ``.perfbench_out/``. See
perfbench/README.md for the workloads and the layer -> metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path
from statistics import median, quantiles

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MIN_OPS = 2
WARM_GETS = 200
GET_ROUNDS = 10
GETS_PER_ROUND = 400
LOADS = 7
SETUP_REPEATS = 3


def _env(work: Path) -> None:
    # Python workers import sparktiles from the checkout; every temp file
    # of Spark, the JVM and Python lands under the run's work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM (the launcher too): temp files under work, no perf-data
    # file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    # pinned, like the slots: the heap must not come from the caller's shell
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    (work / "tmp").mkdir(parents=True, exist_ok=True)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        from workloads import WORKLOADS

        self.cls = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.out = ROOT / ".perfbench_out"
        self.work = self.out / f"work-{os.getpid()}"
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.first_digest = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"FAILED: {what}", file=sys.stderr)

    # -- phases -------------------------------------------------------------
    def setup(self, spark, tracer):
        """Session already up; generate inputs SETUP_REPEATS times (median
        reported), keep the last, build the one-time state, then run one
        checked warm-up op where the workload asks for it (the first op of
        a JVM runs 1.5-2x slower)."""
        wl = self.cls(spark, self.seed, self.work, tracer)
        prep = []
        for i in range(SETUP_REPEATS):
            if i:
                wl.drop_inputs()
            t0 = time.perf_counter()
            wl.prepare_inputs()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.one_time_setup()
        once = time.perf_counter() - t0
        warm = None
        if wl.warm_up_op:
            warm, store = self.op_checked(wl)
            shutil.rmtree(store, ignore_errors=True)
        self.setup_parts = {"prepare_inputs_s": prep, "one_time_s": once,
                            "warmup_op_s": warm}
        return wl, median(prep) + once + (warm or 0.0)

    def op_checked(self, wl):
        from workloads import check_store

        store = wl.new_store()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            wl.op(store)
        except Exception as e:  # counted, the run goes on
            traceback.print_exc()
            self.fail(f"op raised {type(e).__name__}: {e}")
            return None, store
        wall = time.perf_counter() - t0
        self.attempted += 1
        ok, digest, why = check_store(wl, store, self.first_digest)
        if not ok:
            self.fail(why)
        self.first_digest = self.first_digest or digest
        self.digest = digest
        return wall, store

    def timed_ops(self, wl):
        """Ops until --seconds have passed, at least MIN_OPS."""
        walls, prev = [], None
        t_end = time.perf_counter() + self.seconds
        while len(walls) < MIN_OPS or time.perf_counter() < t_end:
            wall, store = self.op_checked(wl)
            if prev is not None:
                shutil.rmtree(prev, ignore_errors=True)
            prev = store
            if wall is not None:
                walls.append(wall)
            elif self.failed >= MIN_OPS:
                break
        return walls, prev

    def read_back(self, wl, store: Path, tracer) -> dict:
        """load_store LOADS times in this process, then WARM_GETS untimed
        GETs and GET_ROUNDS closed loops of GETs from one client in this
        process against the store served by ``python -m sparktiles.serve``.
        Rate and median latency are taken per round and reported as the
        median over rounds, so a stall of the VM that slows a few rounds
        does not move them."""
        from sparktiles import serve
        from serveload import run_load
        from workloads import universe

        want = universe(wl.maxzoom)
        loads = []
        for _ in range(LOADS):
            with tracer.span("serve.load_store"):
                t0 = time.perf_counter()
                tiles, _minz, _maxz = serve.load_store(str(store))
                loads.append(time.perf_counter() - t0)
            self.attempted += 1
            if len(tiles) != want:
                self.fail(f"load_store returned {len(tiles)} tiles, want {want}")
            del tiles
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            [sys.executable, "-u", "-m", "sparktiles.serve", "--store", str(store),
             "--port", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
        try:
            ready = proc.stdout.readline()  # "serving N tiles from S on http://H:P"
            serve_start_s = time.perf_counter() - t0
            self.attempted += 1
            if not ready.startswith(f"serving {want} tiles"):
                raise RuntimeError(f"server did not start: {ready!r}")
            port = int(ready.rsplit(":", 1)[1])
            seed = self.seed * (GET_ROUNDS + 1)
            warm = run_load(port, seed, WARM_GETS, wl.maxzoom)
            with tracer.span("serve.get"):
                rounds = [run_load(port, seed + 1 + r, GETS_PER_ROUND, wl.maxzoom)
                          for r in range(GET_ROUNDS)]
        finally:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            proc.stdout.close()
        st = {k: sum(r[k] for r in rounds + [warm]) for k in ("attempted", "failed")}
        st.update({k: sum(r[k] for r in rounds) for k in ("200", "204", "304")})
        self.attempted += st["attempted"]
        if st["failed"]:
            self.fail(f"{st['failed']} GETs failed or mismatched")
            self.failed += st["failed"] - 1
        lat = [ms for r in rounds for ms in r["latencies_ms"]]
        rps = [len(r["latencies_ms"]) / r["wall_s"] for r in rounds]
        p50 = [median(r["latencies_ms"]) for r in rounds]
        return {
            "store_load_s": median(loads), "store_load_samples": loads,
            "tiles_loaded": want, "serve_start_s": serve_start_s,
            "serve_rps": median(rps), "serve_rps_rounds": rps,
            "tile_get_p50_ms": median(p50), "tile_get_p50_rounds_ms": p50,
            "tile_get_p99_ms": quantiles(lat, n=100)[98],
            "tile_get_samples": len(lat),
            "status_200": st["200"], "status_204": st["204"], "status_304": st["304"],
            "get_failed": st["failed"],
        }

    # -- modes --------------------------------------------------------------
    def untraced(self) -> dict:
        from harness import RssSampler, Tracer, drift_control, start_spark, stop_jvm
        from pyspark import SparkContext

        t0 = time.perf_counter()
        spark = start_spark(self.work)
        session_s = time.perf_counter() - t0
        rec: dict = {}
        try:
            with RssSampler(SparkContext._gateway.proc.pid) as rss:
                tracer = Tracer()
                wl, setup_rest = self.setup(spark, tracer)
                rec["setup_s"] = session_s + setup_rest
                rec["session_start_s"] = session_s
                rec.update(self.setup_parts)
                rec["control"] = drift_control(spark, spark.sparkContext.defaultParallelism)
                t0 = time.perf_counter()
                walls, store = self.timed_ops(wl)
                rss_mb = rss.between(t0, time.perf_counter())
                if not walls:
                    raise RuntimeError("no op succeeded: " + "; ".join(self.problems))
                rec["build_s"] = median(walls)
                rec["build_samples"] = walls
                # recorded, not gated: the map rows are the universe, so
                # this is a constant over build_s
                rec["tiles_per_s"] = self.digest[0] / rec["build_s"]
                rec["tiles"] = self.digest[0]
                rec["digest"] = self.digest
                rec["digest_recorded"] = wl.reference() is not None
            # p90 of the samples over the timed ops: a near-peak that one
            # short-lived spike of extra Python workers does not move
            rec["peak_rss_mb"] = quantiles(rss_mb, n=10)[8]
            rec["rss_max_timed_mb"] = max(rss_mb)
            rec["rss_max_run_mb"] = max(mb for _, mb in rss.samples)
        finally:
            stop_jvm(spark)
        rec.update(self.read_back(wl, store, tracer))
        return rec

    def traced(self) -> dict:
        """One session with an uncompressed event log: set-up, a cold op and
        a warm op with tracing off (the untraced ``build_s``), the layer
        calls, then one op with every span tagging its Spark jobs."""
        from eventlog import rollup_dir
        from harness import Tracer, drift_control, start_spark, stop_jvm

        events = self.work / "events"
        spark = start_spark(self.work, event_dir=events)
        tracer = Tracer(spark.sparkContext, enabled=True)
        try:
            with tracer.span("setup"):
                wl = self.cls(spark, self.seed, self.work, tracer)
                wl.prepare_inputs()
                wl.one_time_setup()
            tracer.enabled = False
            walls = [self.op_checked(wl)[0] for _ in range(2)]
            tracer.enabled = True
            control = drift_control(spark, spark.sparkContext.defaultParallelism)
            wl.trace_layers()
            tr_build_s, store = self.op_checked(wl)
            if None in walls or tr_build_s is None:
                raise RuntimeError("op failed: " + "; ".join(self.problems))
            root = "incremental" if wl.name == "retile" else "pipeline.build_fast"
            selfs = tracer.self_times(root)
        finally:
            stop_jvm(spark)
        tracer.sc = None  # the read-back runs no Spark
        serve_rec = self.read_back(wl, store, tracer)
        layers = rollup_dir(events)
        self.control = control
        return self.layer_metrics(wl, tracer, layers, tr_build_s, walls[1],
                                  serve_rec, control, selfs)

    def layer_metrics(self, wl, tr, layers, tr_build_s, untraced_build_s, serve_rec,
                      control, selfs) -> dict:
        from harness import cpu_slots

        def g(group, key):
            return float(layers.get(group, {}).get(key, 0))

        c = tr.counts
        build_wall = tr.wall("pipeline.build_fast")
        slots = cpu_slots()
        enc_wall = tr.wall("mvt.encode")
        assign_wall = tr.wall("pyramid.assign")
        m = {
            "geoparse.wall_s": tr.wall("geoparse"),
            "geoparse.rows_out": c.get("geoparse.rows_out", 0),
            "geoparse.task_run_s": g("geoparse", "task_run_s"),
            "geoparse.task_cpu_s": g("geoparse", "task_cpu_s"),
            "geoparse.failed_tasks": g("geoparse", "failed_tasks"),
            "pyramid.assign.wall_s": assign_wall,
            "pyramid.assign.rows_out": c.get("pyramid.assign.rows_out", 0),
            "pyramid.assign.rows_per_s":
                c.get("pyramid.assign.rows_out", 0) / assign_wall if assign_wall else 0.0,
            "pyramid.assign.kept_ratio":
                (c.get("pyramid.assign.kept_rows", 0) / c["pyramid.assign.rows_out"]
                 if c.get("pyramid.assign.kept_rows") else 1.0),
            "pyramid.assign.failed_tasks": g("pyramid.assign", "failed_tasks"),
            "mvt.encode.wall_s": enc_wall,
            "mvt.encode.tiles_out": c.get("mvt.encode.tiles_out", 0),
            "mvt.encode.task_run_s": g("mvt.encode", "task_run_s"),
            "mvt.encode.task_cpu_s": g("mvt.encode", "task_cpu_s"),
            "mvt.encode.shuffle_write_bytes": g("mvt.encode", "shuffle_write_bytes"),
            "mvt.encode.spill_bytes": g("mvt.encode", "spill_bytes"),
            "mvt.encode.task_skew": g("mvt.encode", "task_skew"),
            "mvt.encode.failed_tasks": g("mvt.encode", "failed_tasks"),
            "pipeline.build_fast.wall_s": build_wall,
            "pipeline.build_fast.jobs": g("pipeline.build_fast", "jobs"),
            "pipeline.build_fast.tasks": g("pipeline.build_fast", "tasks"),
            "pipeline.build_fast.core_busy_share":
                g("pipeline.build_fast", "task_run_s") / (build_wall * slots)
                if build_wall else 0.0,
            "pipeline.build_fast.failed_tasks": g("pipeline.build_fast", "failed_tasks"),
            "pipeline.bookkeeping_s": max(build_wall - enc_wall, 0.0) if build_wall else 0.0,
            "incremental.diff.wall_s": tr.wall("incremental.diff"),
            "incremental.changed_urls": c.get("incremental.changed_urls", 0),
            "incremental.invalidated_tiles": c.get("incremental.invalidated_tiles", 0),
            "incremental.regenerate.wall_s": tr.wall("incremental.regenerate"),
            "incremental.merge.wall_s": tr.wall("incremental.merge"),
            "incremental.failed_tasks": sum(
                g(k, "failed_tasks") for k in layers if k.startswith("incremental")),
            "serve.load_store.wall_s": serve_rec["store_load_s"],
            "serve.tiles_loaded": serve_rec["tiles_loaded"],
            "serve.status_200": serve_rec["status_200"],
            "serve.status_204": serve_rec["status_204"],
            "serve.status_304": serve_rec["status_304"],
            "serve.failed_requests": serve_rec["get_failed"],
            "serve.rps": serve_rec["serve_rps"],
            "serve.get_p50_ms": serve_rec["tile_get_p50_ms"],
            "serve.get_p99_ms": serve_rec["tile_get_p99_ms"],
            "trace.build_s": tr_build_s,
            "trace.untraced_build_s": untraced_build_s,
            "trace.overhead_share": tr_build_s / untraced_build_s - 1.0,
            "control.membw_gbps": control["membw_gbps"],
            "control.spark_job_s": control["spark_job_s"],
            "bench.error_rate": self.failed / max(self.attempted, 1),
        }
        if wl.name != "retile":
            # a build's blocking path: the encode, then the bookkeeping
            split = {"mvt.encode": enc_wall, "pipeline.bookkeeping": m["pipeline.bookkeeping_s"]}
            total = build_wall
        else:
            split = selfs
            total = sum(split.values())
        top = max(split, key=split.get)
        self.top_layer = {"layer": top, "share": split[top] / total if total else 0.0,
                          "split_s": split, "total_s": total}
        self.spans = tr.spans
        self.rollup = layers
        return m

    def record(self, rec: dict) -> None:
        self.out.mkdir(exist_ok=True)
        name = f"{self.cls.name}-seed{self.seed}-trace{int(self.trace)}.json"
        (self.out / name).write_text(json.dumps(rec, indent=1, default=str) + "\n")


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json lists."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    from harness import cpu_slots

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    _env(run.work)
    try:
        if args.trace:
            layer = run.traced()
            metrics = {k: {"value": layer[k], "unit": u}
                       for k, u in metric_units("per_layer").items()}
            rec = dict(control=run.control, layers=layer, top_layer=run.top_layer,
                       spans=run.spans, rollup=run.rollup)
            print(f"top layer of {args.workload}: {run.top_layer['layer']} "
                  f"({run.top_layer['share']:.0%} of {run.top_layer['total_s']:.2f} s)")
        else:
            rec = run.untraced()
            metrics = {k: {"value": rec[k], "unit": u}
                       for k, u in metric_units("end_to_end").items()}
        rec.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                   slots=cpu_slots(), attempted=run.attempted,
                   failed=run.failed, problems=run.problems,
                   error_rate=run.failed / max(run.attempted, 1))
        run.record(rec)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    print(f"control: membw {rec['control']['membw_gbps']:.2f} GB/s, "
          f"spark job {rec['control']['spark_job_s']:.3f} s; "
          f"error_rate {rec['error_rate']:.4f} ({run.failed}/{run.attempted})")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
