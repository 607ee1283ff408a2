"""Lab-chain benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload lab_stream --seed 1 --seconds 10 --trace 0

Starts the engine with ``session.get_spark`` at ``local[N]`` (N = usable
cores, at most 4), runs the workload as a closed loop with concurrency 1
— a cold pass, then warm passes for ``--seconds`` — checks every output
against its reference, and prints one JSON object as the last line:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer ones (see perfbench/README.md). The line before it carries
sample counts, ``local[N]``, the input digest and every check result.

Everything the run writes stays under ``.perfbench_work/`` at the root
of the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
MAX_CPUS = 4
#: set-ups measured for ``setup_s``, in the already-running JVM
RESETUPS = 3
#: stop starting passes after this many seconds, so a run ends well
#: inside its 180 s limit even on a slow machine
PASS_DEADLINE_S = 120


def sandbox(cpus: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    checkout, before pyspark is imported."""
    tmp, local = WORK / "tmp", WORK / "spark-local"
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_GRAFT_CPUS": str(cpus),
        # a 2g heap, not get_spark's 16g default: the inputs are small and
        # the benchmark shares a 16 GB machine; GC and spill thresholds
        # therefore differ from the default configuration
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'} "
            f"--conf spark.hadoop.hadoop.tmp.dir={tmp} pyspark-shell"),
    })
    time.tzset()
    tempfile.tempdir = None
    os.chdir(WORK)


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Runner:
    """One benchmark process: its Spark session, passes and failure counts."""

    def __init__(self, args, workload):
        self.args, self.wl = args, workload
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> dict[str, float]:
        """get_spark + ship_package + input registration + one touch action."""
        from quickstart_streaming_agents_spark.session import get_spark, ship_package

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        ship_package(self.spark)
        t2 = time.perf_counter()
        self.wl.register(self.spark)
        t3 = time.perf_counter()
        return {"session.get_spark_s": t1 - t0, "session.ship_package_s": t2 - t1,
                "sources.register_s": t3 - t2, "total": t3 - t0}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- passes -----------------------------------------------------------------

    def run_pass(self, tag: str, trace: bool, listener=None):
        from layers import tree_cpu_s

        if listener is not None:
            self.spark.streams.addListener(listener)
        cpu0 = tree_cpu_s()
        p = self.wl.run_pass(self.spark, trace, tag, corrupt=self.args.corrupt,
                             listener=listener)
        p.cpu_s = tree_cpu_s() - cpu0
        if listener is not None:
            self.spark.streams.removeListener(listener)
        p.tag = tag
        for op in p.ops:
            self.attempted += 1
            if op.error:
                self.failed += 1
                self.errors.append(f"{tag}/{op.name}: {op.error}")
        return p

    def check(self, passes) -> dict[str, str]:
        """Compare every checked output of every pass with its reference."""
        import check

        results = {}
        try:
            ref = self.wl.references(self.spark)
        except Exception as e:  # noqa: BLE001 — counted, reported
            ref = {}
            self.errors.append(f"references: {type(e).__name__}: {e}"[:300])
        for p in passes:
            for name in self.wl.queries:
                if name not in p.outputs:
                    continue  # the operation itself failed, already counted
                self.attempted += 1
                got = p.outputs[name]
                if name not in ref:
                    why = "no reference"
                else:
                    why = check.compare(got, ref[name])
                if why:
                    self.failed += 1
                    self.errors.append(f"{p.tag}/{name}: output mismatch: {why}")
                results[f"{p.tag}/{name}"] = why or "ok"
        return results


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("lab_stream", "rag_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="wall time of warm passes to measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="lab_stream input size; 'tiny' is for the self-tests")
    ap.add_argument("--corrupt", default=None,
                    help="self-test: drop one row of this output before checking")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    WORK.mkdir(exist_ok=True)
    sandbox(cpus)
    sys.path[:0] = [str(ROOT), str(HERE)]
    import quickstart_streaming_agents_spark  # noqa: F401 — fails fast without the engine

    import layers
    import workloads

    wl = workloads.make(args.workload, args.seed, WORK, args.scale)
    t_gen = time.perf_counter()
    digest = wl.prepare_inputs()
    gen_s = time.perf_counter() - t_gen

    r = Runner(args, wl)
    with layers.RssSampler() as rss:
        first = r.setup()
        fresh_setup_s = time.perf_counter() - T_START - gen_s
        setups = []
        cold = r.run_pass("cold", trace=False)
        warm, traced = [], []
        listener = layers.make_listener() if args.trace else None
        # a traced run alternates an untraced and a traced pass, so both
        # sides of the overhead figure sit at the same point of warm-up
        kinds = (False, True) if args.trace else (False,)
        t_warm, i = time.perf_counter(), 0
        while True:
            for on in kinds:
                p = r.run_pass(f"warm{i}", trace=on, listener=listener if on else None)
                (traced if on else warm).append(p)
                i += 1
            now = time.perf_counter()
            if now - t_warm >= args.seconds or now - T_START >= PASS_DEADLINE_S:
                break
        phases = {"setup_cold_warm": time.perf_counter() - T_START}
        checks = r.check([cold] + warm + traced)
        phases["check"] = time.perf_counter() - T_START
        extra = {}
        if args.trace:
            extra = provider_times(traced)
            r.stop()
            os.environ["SPARK_GRAFT_CPUS"] = "1"
            r.setup()
            extra["scaling.pass_s_1core"] = r.run_pass("local1", trace=False).wall_s
            os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        else:
            for _ in range(RESETUPS):
                r.stop()
                setups.append(r.setup()["total"])
        phases["extra"] = time.perf_counter() - T_START
        shutdown(r)
        phases["shutdown"] = time.perf_counter() - T_START
    if args.trace:
        metrics = layer_metrics(wl, first, cold, warm, traced, extra, rss.peak_mb, r)
    else:
        metrics = end_to_end(wl, setups, cold, warm)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": f"local[{cpus}]", "input_sha256": digest, "input_gen_s": gen_s,
        "fresh_setup_s": fresh_setup_s, "setup_s": setups,
        "samples": {"setup_s": len(setups), "cold_pass_s": 1, "pass_s": len(warm),
                    "cpu_s": len(warm),
                    "batch_ms": sum(len(p.batch_ms) for p in warm)},
        "warm_pass_s": [p.wall_s for p in warm],
        "op_s": {op.name: [round(o.wall_s, 4) for p in [cold] + warm for o in p.ops
                           if o.name == op.name] for op in cold.ops},
        "traced_pass_s": [p.wall_s for p in traced],
        "fail_ratio": r.failed / max(1, r.attempted),
        "run_s": time.perf_counter() - T_START, "phases": phases,
        "errors": r.errors[:20],
        "checks": checks,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    shutil.rmtree(WORK / "run", ignore_errors=True)
    return 0


def shutdown(r: Runner) -> None:
    """Stop Spark and the JVM and wait for every process this run started."""
    import layers
    from pyspark import SparkContext

    pids = [p for p in layers.descendants() if p != os.getpid()]
    r.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in layers.wait_gone(pids):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    layers.wait_gone(pids, timeout_s=10)


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl, setups, cold, warm) -> dict[str, tuple[float, str]]:
    pass_s = _med([p.wall_s for p in warm])
    batch_ms = [b for p in warm for b in p.batch_ms]
    return {
        "setup_s": (_med(setups), "s"),
        "cold_pass_s": (cold.wall_s, "s"),
        "pass_s": (pass_s, "s"),
        "events_per_s": (wl.events / pass_s if pass_s else 0.0, "events/s"),
        "batch_p50_ms": (quantile(batch_ms, 0.5) if batch_ms else 0.0, "ms"),
        "batch_p90_ms": (quantile(batch_ms, 0.9) if batch_ms else 0.0, "ms"),
        "cpu_s": (_med([p.cpu_s for p in warm]), "s"),
    }


def provider_times(traced) -> dict[str, float]:
    """Self time per prompt of the fake providers, called directly on the
    distinct prompts the traced passes sent (median of five calls)."""
    from quickstart_streaming_agents_spark.providers import fake_embedding, fake_textgen
    from quickstart_streaming_agents_spark.registries import DEFAULT_CATALOG

    prompts = sorted({x for p in traced for op in p.ops
                      for x in op.layer.get("prompts", [])})
    out = {"providers.textgen_us": 0.0, "providers.embedding_us": 0.0}
    if not prompts:
        return out
    for key, fn, model in (
            ("providers.textgen_us", fake_textgen, "fake_textgen"),
            ("providers.embedding_us", fake_embedding, "fake_embedding")):
        m = DEFAULT_CATALOG.models[model]
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn(prompts, m)
            ts.append(time.perf_counter() - t0)
        out[key] = statistics.median(ts) / len(prompts) * 1e6
    return out


def layer_metrics(wl, first, cold, warm, traced, extra, peak_mb, r):
    import names

    m: dict[str, tuple[float, str]] = {}
    for k in ("session.get_spark_s", "session.ship_package_s", "sources.register_s"):
        m[k] = (first[k], "s")

    def ops(name):
        return [op for p in traced for op in p.ops if op.name == name and not op.error]

    for q in names.QUERIES:
        got = ops(q)
        last = got[-1].layer if got else {}
        m[f"q.{q}.build_s"] = (_med([o.build_s for o in got]), "s")
        m[f"q.{q}.exec_s"] = (_med([o.wall_s - o.build_s for o in got]), "s")
        for k in ("jobs", "shuffle_bytes", "spill_bytes", "python_rows"):
            m[f"q.{q}.{k}"] = (last.get(k, 0), names.UNITS[k])
    mlc = ops("ml_predict_cached")
    ratio = 0.0
    if mlc and mlc[-1].layer.get("prompts"):
        ratio = mlc[-1].layer["infer_rows"] / len(mlc[-1].layer["prompts"])
    m["ml.calls_per_distinct_prompt"] = (ratio, "ratio")
    init = [sum(op.layer.get("python_init_ms", 0) for op in p.ops) for p in traced]
    comp = [sum(op.layer.get("python_compute_ms", 0) for op in p.ops) for p in traced]
    m["python.init_ms"] = (_med(init), "ms")
    m["python.compute_ms"] = (_med(comp), "ms")
    m["providers.textgen_us"] = (extra.get("providers.textgen_us", 0.0), "us")
    m["providers.embedding_us"] = (extra.get("providers.embedding_us", 0.0), "us")
    for s in names.STAGES:
        got = ops(s)
        m[f"stream.{s}.wall_s"] = (_med([o.wall_s for o in got]), "s")
        for k in names.STAGE_KEYS:
            vals = [o.layer.get(k, 0) for o in got]
            v = vals[-1] if k in names.EXACT_STAGE_KEYS and vals else _med(vals)
            m[f"stream.{s}.{k}"] = (v, names.UNITS[k])
    m["proc.peak_rss_mb"] = (peak_mb, "MB")
    m["scaling.pass_s_1core"] = (extra.get("scaling.pass_s_1core", 0.0), "s")
    m["trace.overhead_s"] = (_med([p.wall_s for p in traced]) - _med([p.wall_s for p in warm]), "s")
    m["fail_ratio"] = (r.failed / max(1, r.attempted), "ratio")
    return m


if __name__ == "__main__":
    sys.exit(main())
