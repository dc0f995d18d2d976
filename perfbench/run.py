#!/usr/bin/env python3
"""Benchmark of raster_tools_spark through its public operator API.

One closed loop: this driver process submits one job at a time to
``local[<cpus>]`` and nothing else runs.  Workloads (see DESIGN.md):
``tiles_pip``, ``zonal_pixels``, ``retile_resume``.

    python3 perfbench/run.py --workload tiles_pip --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke            # tiny inputs, every workload and mode
    python3 perfbench/run.py --pin 0-15 [--workload W]  # (re)compute digests.json

``--trace 0`` prints every end-to-end metric of BENCHMARK.json;
``--trace 1`` re-runs the loop with Spark's event log on and prints
every per-layer metric.  Human-readable lines come first, then one
``{"host": ...}`` line, then the result JSON as the last line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
# a fixed-size heap (-Xms = -Xmx) settles the JVM's RSS within the first
# iterations, so peak_rss_mb follows the program, not heap growth policy
DRIVER_MEMORY = "2g"
SETUPS = 4  # set-ups per untraced run; setup_s is their median


def _load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class Session:
    """The SparkSession lifecycle; every session of a run shares one JVM."""

    def __init__(self, work: str, cpus: int):
        self.work = work
        self.cpus = cpus
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")

    def start(self, trace: bool):
        from raster_tools_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            })
        self.spark = get_spark(master=f"local[{self.cpus}]",
                               app_name="perfbench", extra_conf=conf)
        return self.spark

    def phase(self, name: str) -> None:
        import probes

        self.spark.sparkContext.setLocalProperty(probes.PHASE_PROP, name)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def event_log(self) -> str:
        logs = [p for p in glob.glob(os.path.join(self.event_dir, "*"))
                if not p.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        return logs[0]

    def shutdown(self) -> None:
        """Stop the session, end the JVM and wait for every process it
        started (Python workers included)."""
        self.stop()
        import probes
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        jvm_tree = probes.tree_pids(root=proc.pid)
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        probes.wait_gone(jvm_tree)


def _attempt(wl, phase):
    """One iteration; an exception counts as a failed attempt."""
    t0 = time.perf_counter()
    try:
        return wl.iterate(phase), None
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return None, time.perf_counter() - t0


def measure(wl, session, seconds: float):
    """Cold iteration, the once-per-run final check (which also warms
    the session), then closed-loop iterations for ``seconds``."""
    import probes

    phase = session.phase
    cold, cold_fail_s = _attempt(wl, phase)
    phase("check")
    try:
        final = wl.final_check()
    except Exception as exc:
        traceback.print_exc(file=sys.stderr)
        final = [f"final check raised {exc!r}"]
    its = []
    with probes.RssPeak() as rss:
        t0 = time.perf_counter()
        while not its or time.perf_counter() - t0 < seconds:
            if its:
                rss.mark()
            its.append(_attempt(wl, phase)[0])
    phase("check")
    return cold, cold_fail_s, final, its, rss.peaks_mb


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def _low_tail(xs):
    """Lowest-throughput percentile with ten samples beyond it."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None
    return (1 - 10 / len(xs)) * 100, xs[10]


def host_context(inputs, gen_s, load_start):
    import pyspark

    commit = "unknown (not a git checkout)"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True).stdout.strip()
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "commit": commit, "n_images": inputs.n_images,
        "tiles_axis": inputs.tiles_axis, "n_polygons": inputs.n_polygons,
        "payload_bytes": inputs.payload_bytes,
        "input_generation_s": round(gen_s, 3),
    }


def run(args) -> int:
    import inputs as inputs_mod
    import probes
    from workloads import WORKLOADS

    e2e_units, layer_units = _load_spec()
    load_start = os.getloadavg()
    cpus = len(os.sched_getaffinity(0))
    cls = WORKLOADS[args.workload]
    inputs, gen_s = inputs_mod.ensure(CACHE, args.seed, args.size,
                                      cls.table)
    print(f"perfbench {args.workload} seed={args.seed} size={args.size} "
          f"images={inputs.n_images} trace={args.trace} "
          f"(inputs ready in {gen_s:.1f} s, not timed)")
    wl = cls(inputs, args.size, args.seed, args.work)
    session = Session(args.work, cpus)
    traced = None
    try:
        t0 = time.perf_counter()
        spark = session.start(trace=False)
        t_session = time.perf_counter() - t0
        wl.open(spark)
        setups = [time.perf_counter() - t0]
        t_open = setups[0] - t_session
        cold, cold_fail_s, final, its, rss_peaks = measure(
            wl, session, args.seconds)
        if args.trace:
            session.stop()
            wl.open(session.start(trace=True))
            # warm the new session's workers; its jobs stay out of "iter"
            _attempt(wl, lambda _: session.phase("warmup"))
            traced = _traced(wl, session, args.seconds)
            session.stop()
            traced["events"] = probes.layer_totals(session.event_log())
            traced["session"] = (t_session, t_open)
        else:
            for _ in range(SETUPS - 1):
                session.stop()
                t1 = time.perf_counter()
                wl.open(session.start(trace=False))
                setups.append(time.perf_counter() - t1)
    finally:
        session.shutdown()
    # output checks and kernel timings: driver-only, after the timed loop
    attempted = [cold] + its + (traced["its"] if traced else [])
    errors = [["iteration raised"] if it is None else wl.check(it.out)
              for it in attempted]
    kernels = wl.kernels() if args.trace else {}

    failed = sum(1 for e in errors if e)
    for i, e in enumerate(errors):
        for msg in e:
            print(f"  CHECK FAILED (iteration {i}): {msg}")
    for msg in final:
        print(f"  CHECK FAILED (final): {msg}")
    correct = failed == 0 and not final
    # the first third of the loop still warms the JIT and the workers'
    # caches (iterations there run up to 40% slower); it is checked but
    # left out of the steady-state figures
    steady = slice(len(its) // 3, None)
    ok = [it for it in its[steady] if it is not None]
    n = inputs.n_images
    ips = [n / it.wall_s for it in ok]
    values = {
        "setup_s": statistics.median(setups),
        "cold_job_s": cold.wall_s if cold else cold_fail_s,
        "images_per_s": _median(ips),
        "cpu_s_per_kimage": _median([it.cpu_s / (n / 1000) for it in ok]),
        "peak_rss_mb": _median(rss_peaks[steady]),
    }
    extra = {
        "failed_frac": failed / len(attempted),
        "resume_s": _median([it.extra.get("resume_s") for it in ok], None),
        "write_amp": _median([it.extra.get("write_amp") for it in ok], None),
    }
    tail = _low_tail(ips)
    print(f"  session start {t_session:.3f} s (cold JVM); set-ups "
          + ", ".join(f"{s:.3f}" for s in setups) + " s")
    print("  iteration wall s: cold "
          + (f"{cold.wall_s:.3f}" if cold else "failed") + "; "
          + " ".join(f"{it.wall_s:.3f}" if it else "failed" for it in its))
    print(f"  images_per_s: median of {len(ips)} iterations; low tail "
          + (f"p{tail[0]:.0f} = {tail[1]:.1f}" if tail else
             f"n/a (needs 11 samples, have {len(ips)})"))
    for name, v in {**values, **extra}.items():
        unit = e2e_units.get(name, {"failed_frac": "ratio", "resume_s": "s",
                                    "write_amp": "ratio"}.get(name))
        shown = "n/a (retile_resume only)" if v is None else f"{v:.6g} {unit}"
        print(f"  {name:<18} {shown}")
    if args.trace:
        metrics = _layers(wl, inputs, traced, values["images_per_s"],
                          kernels)
        for name, v in metrics.items():
            print(f"  {name:<34} {v:.6g} {layer_units.get(name, '?')}")
        for desc, good in split_checks(wl.name, metrics, inputs):
            print(f"  layer split: {'ok ' if good else 'FAILED'} {desc}")
        units = layer_units
    else:
        metrics, units = values, e2e_units
    missing = set(units) ^ set(metrics)
    if missing:
        raise RuntimeError(f"metric names differ from BENCHMARK.json: "
                           f"{sorted(missing)}")
    print(json.dumps({"host": host_context(inputs, gen_s, load_start)}))
    print(json.dumps({
        "correct": correct,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }))
    return 0


def _traced(wl, session, seconds):
    """Traced iterations, then prefix pipelines to the noop sink."""
    its = []
    t0 = time.perf_counter()
    while not its or time.perf_counter() - t0 < seconds:
        its.append(_attempt(wl, session.phase)[0])
    session.phase("prefix")
    prefix_s = {}
    for name, build in wl.prefixes().items():
        times = []
        for _ in range(3):
            t1 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t1)
        prefix_s[name] = statistics.median(times)
    session.phase("check")
    return {"its": its, "prefix_s": prefix_s}


_OP_LAYER = {"tiles_pip": "pip.pip_join.s",
             "zonal_pixels": "zonal.zonal_stats.s",
             "retile_resume": "retile.retile.s"}


def _layers(wl, inputs, traced, untraced_ips, kernels):
    ok = [it for it in traced["its"] if it is not None]
    k = max(len(ok), 1)
    ev = {name: v / k for name, v in traced["events"].get("iter", {}).items()}
    ev["stage.skew_max"] = traced["events"].get("iter", {}).get(
        "stage.skew_max", 1.0)
    p = traced["prefix_s"]
    job_s = _median([it.wall_s for it in ok])
    traced_ips = _median([inputs.n_images / it.wall_s for it in ok])
    m = dict.fromkeys([
        "pip.pip_join.s", "pip.candidates", "pip.pairs", "pip.refine_yield",
        "geom.pip_us_per_point", "grid.covering_ms_per_poly",
        "zonal.zonal_stats.s", "zonal.pairs", "geom.rasterize_ms_per_pair",
        "codecs.decode_png_ms_per_image", "codecs.decode_jpeg_ms_per_image",
        "retile.retile.s", "codecs.png_encode_ms_per_tile",
        "manifest.write.s", "write.files", "write.bytes", "write.amp",
        "manifest.units", "manifest.resume.s", "manifest.pending_on_replay",
    ], 0.0)
    m.update(kernels)
    m["session.get_spark_s"], m["session.open_inputs_s"] = traced["session"]
    m["scan.s"] = p["scan"]
    m["tile.assign_cells.s"] = p["assign"] - p["scan"]
    m[_OP_LAYER[wl.name]] = p["op"] - p["assign"]
    for name in ("arrow.to_python_bytes",
                 "arrow.from_python_bytes", "shuffle.write_bytes",
                 "shuffle.records", "shuffle.write_s", "shuffle.fetch_wait_s",
                 "python.worker_init_s", "python.worker_run_s",
                 "executor.run_s", "executor.cpu_s", "jvm.gc_s", "codegen.s",
                 "spill.bytes", "checkpoint.bytes", "stage.tasks",
                 "stage.skew_max"):
        m[name] = ev.get(name, 0.0)
    if wl.name == "tiles_pip":
        m["pip.candidates"] = ev.get("join.rows", 0.0)
        m["pip.pairs"] = ev.get("map_in_pandas.rows", 0.0)
        m["pip.refine_yield"] = m["pip.pairs"] / max(m["pip.candidates"], 1)
    elif wl.name == "zonal_pixels":
        m["zonal.pairs"] = ev.get("join.rows", 0.0)
    else:
        m["manifest.write.s"] = job_s - p["op"]
        m["manifest.resume.s"] = _median(
            [it.extra["resume_s"] for it in ok])
        m["write.amp"] = _median([it.extra["write_amp"] for it in ok])
        for name in ("write.files", "write.bytes", "manifest.units",
                     "manifest.pending_on_replay"):
            m[name] = _median([it.extra[name] for it in ok])
    # codegen.s and python.worker_init_s stay out of the sum: a codegen
    # stage's duration includes the time it waits on its inputs (Python
    # ones too), and worker init is clocked in the worker, not the task
    covered = sum(m[n] for n in ("python.worker_run_s", "shuffle.write_s",
                                 "shuffle.fetch_wait_s", "jvm.gc_s"))
    m["unattributed_frac"] = max(
        0.0, 1 - covered / m["executor.run_s"]) if m["executor.run_s"] else 0.0
    m["images_per_s.untraced"] = untraced_ips
    m["images_per_s.traced"] = traced_ips
    m["trace.overhead_frac"] = untraced_ips / traced_ips - 1 if traced_ips \
        else 0.0
    return m


def split_checks(workload, m, inputs):
    """The layer split each workload was chosen for."""
    checks = [(f"write.files > 0 only on retile_resume "
               f"({m['write.files']:.0f})",
               (m["write.files"] > 0) == (workload == "retile_resume")),
              (f"manifest.pending_on_replay == 0 "
               f"({m['manifest.pending_on_replay']:.0f})",
               m["manifest.pending_on_replay"] == 0)]
    if workload == "tiles_pip":
        # candidate rows carry ids, centers and polygon WKB; any payload
        # column would send at least the whole payload
        share = m["arrow.to_python_bytes"] / inputs.payload_bytes
        checks.append((f"no image payload crosses into Python "
                       f"(to_python_bytes = {share:.2%} of payload)",
                       share < 0.05))
    if workload == "zonal_pixels" and inputs.n_images >= 1000:
        # partial rows are O(tasks x features), the payload O(images): the
        # ratio only holds once the table is not tiny
        share = m["shuffle.write_bytes"] / inputs.payload_bytes
        checks.append((f"shuffle.write_bytes < 1% of the scanned payload "
                       f"({share:.2%})", share < 0.01))
    return checks


def pin(args) -> int:
    """Compute the output digest of every workload (or of
    ``args.workload`` alone) at each seed in ``args.pin`` (e.g. ``0-15``
    or ``1,4``) and store them in digests.json.  Refuses to pin a digest
    whose independent checks fail."""
    import inputs as inputs_mod
    from workloads import DIGESTS, WORKLOADS, pinned_digests

    lo, _, hi = args.pin.partition("-")
    seeds = (range(int(lo), int(hi) + 1) if hi
             else [int(s) for s in args.pin.split(",")])
    cpus = len(os.sched_getaffinity(0))
    digests = pinned_digests()
    classes = ([WORKLOADS[args.workload]] if args.workload
               else list(WORKLOADS.values()))
    session = Session(args.work, cpus)
    bad = 0
    try:
        session.start(trace=False)
        for seed in seeds:
            for cls in classes:
                inputs, _ = inputs_mod.ensure(CACHE, seed, args.size,
                                              cls.table)
                wl = cls(inputs, args.size, seed, args.work)
                wl.pinned = None
                wl.open(session.spark)
                it = wl.iterate(session.phase)
                errs = wl.check(it.out) + wl.final_check()
                print(f"{wl.key}: {wl.first_digest} "
                      f"{'; '.join(errs) or 'checks ok'}", flush=True)
                if errs:
                    bad += 1
                else:
                    digests[wl.key] = wl.first_digest
    finally:
        session.shutdown()
    with open(DIGESTS, "w") as f:
        json.dump(dict(sorted(digests.items())), f, indent=1)
        f.write("\n")
    return 1 if bad else 0


def smoke() -> int:
    """Tiny inputs, every workload in both modes: every metric of
    BENCHMARK.json (and the printed-only end-to-end lines) is emitted with
    its unit, and every output check and layer-split check passes."""
    from workloads import WORKLOADS

    e2e_units, layer_units = _load_spec()
    problems = []
    for name in WORKLOADS:
        for trace, units in ((0, e2e_units), (1, layer_units)):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   name, "--seed", "1", "--seconds", "1", "--trace",
                   str(trace), "--size", "tiny"]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, capture_output=True, text=True,
                               timeout=600)
            lines = p.stdout.strip().splitlines()
            where = f"{name} trace={trace}"
            print(f"{where}: exit {p.returncode} in "
                  f"{time.perf_counter() - t0:.0f} s", flush=True)
            if p.returncode != 0 or not lines:
                problems.append(f"{where}: exit {p.returncode}\n"
                                f"{p.stderr[-3000:]}")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{where}: correct={res['correct']} "
                                f"failed={res['failed']}/{res['attempted']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != units:
                problems.append(f"{where}: metrics/units differ from "
                                f"BENCHMARK.json: {set(got) ^ set(units)}")
            text = "\n".join(lines)
            if trace == 0:
                for metric in ("failed_frac", "resume_s", "write_amp",
                               *e2e_units):
                    if f"  {metric} " not in text:
                        problems.append(f"{where}: no {metric} line")
            else:
                problems += [f"{where}: {ln.strip()}" for ln in lines
                             if "layer split: FAILED" in ln]
            problems += [f"{where}: {ln.strip()}" for ln in lines
                         if "CHECK FAILED" in ln]
    for p in problems:
        print("SMOKE FAILED:", p)
    print("smoke ok" if not problems else f"{len(problems)} smoke failures")
    return 1 if problems else 0


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--pin", metavar="SEEDS")
    args = ap.parse_args(argv)
    if not (args.smoke or args.pin or args.workload):
        ap.error("--workload is required")
    if not 0 <= args.seed < 2 ** 31:
        ap.error("--seed must be in [0, 2^31)")
    if not os.path.isfile(os.path.join(ROOT, "raster_tools_spark",
                                       "__init__.py")):
        print(f"perfbench: no raster_tools_spark package in {ROOT}; run "
              f"from the root of a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    if args.smoke:
        return smoke()
    args.work = os.path.join(HERE, ".work", str(os.getpid()))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(args.work, d), exist_ok=True)
    os.makedirs(CACHE, exist_ok=True)
    # keep every temporary file of the JVM and Python inside the checkout
    os.environ["TMPDIR"] = os.path.join(args.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(args.work, "spark-local")
    try:
        return pin(args) if args.pin else run(args)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
