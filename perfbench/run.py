"""Benchmark of the unify_spark validation engine, one workload per call.

    python3 perfbench/run.py --workload fused_full --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process is one closed-loop client that
runs `validate` iterations back to back on a local[2] Spark session, on
inputs generated from --seed, and checks every iteration's verdict. The last
line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}; --trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics (spans, Spark counters, layer-floor probes) and writes the spans to
perfbench/.traces/. A human-readable summary goes to stderr. Everything the
run writes stays under perfbench/ and is removed at exit, except the spans.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Two task slots: each Python-UDF task holds a JVM thread plus a Python
# worker, so local[2] keeps both tiers on physical cores of a 4-core host.
MASTER = "local[2]"
DRIVER_MEM = "2g"
# Warm-up iterations before timing; the first is cold (Python worker spawn,
# JIT, codegen). The daily workload's day-1 run, made in its set-up, is its
# warm-up; it does not profile, and the first profiling iteration after it
# was measured no slower than the second (25.9 s then 24.9 s; 24.0 s then
# 27.3 s).
WARMUP = {"fused_full": 1, "daily_incremental": 0}
# Fewest timed iterations per run, untraced and traced (a traced run
# alternates untraced and traced iterations). Single fused walls (about 7 s)
# vary by up to 15% on a shared host, so a run takes the median of three. A
# daily wall (20-30 s) spans some 50 Spark jobs; one is measured, because a
# second would not fit the time budget of 22 runs per workload.
MIN_ITERATIONS = {"fused_full": (3, 4), "daily_incremental": (1, 2)}


def descendants(root: int) -> dict[int, int]:
    """{pid: parent pid} of every live descendant of `root`, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = {}, [root]
    while todo:
        parent = todo.pop()
        kids = children.get(parent, [])
        out.update(dict.fromkeys(kids, parent))
        todo.extend(kids)
    return out


class RssSampler:
    """Summed RSS of this process and all its descendants, sampled from /proc
    every `interval` seconds while an iteration runs. Each sample is split
    into this process (the client that runs `validate`), the JVM and the
    Python workers.

    A process the JVM is spawning (Hadoop runs chmod, rm and bash for local
    files) shares the JVM's memory until it calls exec, and its statm reads
    the JVM's whole RSS. Such a child, still named "java", is not counted.
    Counted, it made one iteration's peak 6,176 MB where its median sample
    was 3,444 MB: the JVM's 2.7 GB counted twice."""

    PARTS = ("client", "jvm", "python_workers")

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> tuple[float, float, float]:
        """(client, JVM, Python workers) resident MB."""
        me = os.getpid()
        parents = descendants(me)
        comm = {}
        for pid in [me, *parents]:
            with contextlib.suppress(OSError), open(f"/proc/{pid}/comm") as f:
                comm[pid] = f.read().strip()
        parts = [0, 0, 0]
        for pid in comm:
            if pid != me and comm[pid] == "java" and comm.get(parents[pid]) == "java":
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            parts[0 if pid == me else 1 if comm[pid] == "java" else 2] += rss
        return tuple(p / 1e6 for p in parts)

    def start(self) -> None:
        self._samples = [self.sample()]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._samples.append(self.sample())

    def stop(self) -> list[tuple[float, float, float]]:
        """Every sample since start()."""
        self._stop.set()
        self._thread.join()
        return [*self._samples, self.sample()]


def configure_env(work: str) -> None:
    """Point the engine, Spark and Python workers at the checkout: workers
    import unify_spark from ROOT, and every scratch file lands under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # cli's get_spark() reuses the session; these keep its master and
        # shuffle width equal to ours on any host
        "SPARK_GRAFT_CPUS": MASTER[6:-1],
        "SPARK_GRAFT_MASTER": MASTER,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    })


def start_session(work: str):
    from unify_spark.session import get_spark

    return get_spark("perfbench", master=MASTER, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # The whole heap is committed and touched at start, so the JVM's RSS
        # does not depend on when G1 chose to grow it. C1-only JIT: with C2
        # the planner's code was still compiling six iterations in (walls
        # falling 11 s -> 5.4 s); with C1 walls are flat after one warm-up.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
            f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            f" -Dderby.system.home={os.path.join(work, 'tmp')}"),
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and every Python worker to exit."""
    from pyspark import SparkContext

    before = set(descendants(os.getpid()))
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while before and time.time() < deadline:
        before = {p for p in before if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in before:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """{name: unit} of the end-to-end and of the per-layer metrics, as
    BENCHMARK.json names them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def layer_metrics(spark, spans: list[dict], wl, report: dict, out: str) -> dict[str, float]:
    """Per-layer figures of one traced iteration, from its spans and the
    Spark counters that fall inside them."""
    from spans import PYTHON_NODES, job_counts, metric_sum, sql_executions, union_seconds
    from workloads import TABLE_FILES, dir_size

    it = next(s for s in spans if s["name"] == "iteration")
    runners = [s for s in spans if "jobs" in s]  # outermost runner spans
    others = [s for s in spans if s["name"] != "iteration" and not s["name"].startswith("runner.")]

    def dur(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def within(span_list, ex):
        return [nodes for t, nodes in ex if any(s["start"] <= t <= s["end"] for s in span_list)]

    self_s = 0.0
    for r in runners:
        inside = [(max(o["start"], r["start"]), min(o["end"], r["end"])) for o in others
                  if o["start"] < r["end"] and o["end"] > r["start"]]
        self_s += r["end"] - r["start"] - union_seconds(inside)
    tasks, failed = job_counts(spark, [j for r in runners for j in r["jobs"]])
    ex_all = sql_executions(spark, it["start"], it["end"])
    ex_runner = within(runners, ex_all)
    ex_profile = within([s for s in spans if s["name"] == "profile.run"], ex_all)
    is_python = lambda n: n.startswith(PYTHON_NODES)  # noqa: E731
    is_scan = lambda n: n.startswith("Scan parquet")  # noqa: E731
    sent = metric_sum(ex_runner, is_python, "data sent to Python workers")
    out_bytes, out_files = dir_size(out)
    incremental = report.get("incremental")
    return {
        "runner.self_s": self_s,
        "runner.jobs": float(sum(len(r["jobs"]) for r in runners)),
        "runner.tasks": float(tasks),
        "runner.failed_tasks": float(failed),
        "runner.shuffle_mb": metric_sum(ex_runner, lambda n: True, "shuffle bytes written") / 1e6,
        "runner.spill_mb": metric_sum(ex_runner, lambda n: True, "spill size") / 1e6,
        "payload.python_mb_sent": sent / 1e6,
        "payload.python_worker_s": metric_sum(ex_runner, is_python, "time to run Python workers"),
        "payload.python_bytes_per_payload_byte": sent / wl.payload_bytes,
        "sources.scan_mb": metric_sum([n for _, n in ex_all], is_scan, "size of files read") / 1e6,
        "audit.append_s": dur("audit.append"),
        "audit.appends": float(sum(1 for s in spans if s["name"] == "audit.append")),
        "audit.read_s": dur("audit.read"),
        "incremental.fingerprint_s": dur("incremental.fingerprint"),
        "incremental.plan_s": dur("incremental.plan"),
        "incremental.recompute_frac": wl.recompute_frac(report) if incremental else 1.0,
        "profile.run_s": dur("profile.run"),
        "profile.scans_per_table": (
            sum(1 for nodes in ex_profile for n, _ in nodes if is_scan(n)) / len(TABLE_FILES)
            if ex_profile else 0.0),
        "history.append_s": dur("history.append"),
        "sinks.output_mb": out_bytes / 1e6,
        "sinks.output_files": float(out_files),
    }


def memory_metrics(plain: list[dict]) -> dict[str, float]:
    """Each process group's share of an iteration's peak summed RSS,
    median over the untraced iterations."""
    peaks = [max(r["rss"], key=sum) for r in plain]
    return {f"memory.{part}_rss_mb": statistics.median(x[i] for x in peaks)
            for i, part in enumerate(RssSampler.PARTS)}


def measure(args, work: str) -> dict:
    import workloads
    from spans import Tracer

    end_to_end, per_layer = metric_units()
    configure_env(work)
    spark = start_session(work)
    print(f"[perfbench] session up at {time.perf_counter() - T0:.3f}s", file=sys.stderr)
    try:
        wl = workloads.WORKLOADS[args.workload]()
        timings: dict[str, float] = {}
        wl.prepare(work, args.seed, args.size, timings)
        for k in range(WARMUP[args.workload]):
            out = os.path.join(work, "out", f"warmup{k}")
            wl.iterate(out, f"warmup{k}")
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(out + "-metrics", ignore_errors=True)
        # fixture generation is excluded: it stands for data that already exists
        setup_s = time.perf_counter() - T0 - timings["generate_s"]
        print(f"[perfbench] set-up {setup_s:.3f}s (+ {timings['generate_s']:.3f}s generating "
              "inputs)", file=sys.stderr)

        tracer = Tracer(spark) if args.trace else None
        sampler = RssSampler()
        iters: list[dict] = []
        t_start = time.perf_counter()
        while (len(iters) < MIN_ITERATIONS[args.workload][args.trace]
               or time.perf_counter() - t_start < args.seconds):
            i = len(iters)
            traced = bool(tracer) and i % 2 == 1
            out = os.path.join(work, "out", f"it{i}")
            rec = {"traced": traced, "ok": False}
            if traced:
                tracer.run_id = f"{args.workload}-seed{args.seed}-it{i}"
                n_spans = len(tracer.spans)
                tracer.install()
            sampler.start()
            try:
                with tracer.span("iteration") if traced else contextlib.nullcontext():
                    rec["wall"], report = wl.iterate(out, f"it{i}")
                rec["ok"] = True
            except workloads.CheckFailed as e:
                print(f"[perfbench] iteration {i}: check failed: {e}", file=sys.stderr)
            except Exception:  # noqa: BLE001 - an engine failure is a failed iteration
                print(f"[perfbench] iteration {i}: error\n{traceback.format_exc()}",
                      file=sys.stderr)
            finally:
                rec["rss"] = sampler.stop()
                if traced:
                    tracer.uninstall()
            if rec["ok"]:
                rec["clips_per_s"] = wl.n_clips / rec["wall"]
                if traced:
                    rec["layers"] = layer_metrics(spark, tracer.spans[n_spans:], wl, report, out)
            iters.append(rec)
            print(f"[perfbench] iteration {i}: traced={traced} ok={rec['ok']} "
                  f"wall={rec.get('wall', float('nan')):.3f}s "
                  f"peak_rss={max(map(sum, rec['rss'])):.0f}MB", file=sys.stderr)
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(out + "-metrics", ignore_errors=True)

        ok = [r for r in iters if r["ok"]]
        result = {"attempted": len(iters), "failed": len(iters) - len(ok)}
        plain = [r for r in ok if not r["traced"]]
        traced_ok = [r for r in ok if r["traced"]]
        if not plain or (tracer and not traced_ok):
            return {**result, "metrics": {}}
        if not tracer:
            values = {
                "clips_per_s": statistics.median([r["clips_per_s"] for r in plain]),
                "setup_s": setup_s,
                "peak_rss_mb": statistics.median(max(map(sum, r["rss"])) for r in plain),
            }
            metrics = {k: {"value": v, "unit": end_to_end[k]} for k, v in values.items()}
        else:
            from probes import floor_probes

            metrics = {}
            for k in traced_ok[0]["layers"]:
                metrics[k] = statistics.median([r["layers"][k] for r in traced_ok])
            metrics["trace.overhead_frac"] = (
                1 - statistics.median([r["clips_per_s"] for r in traced_ok])
                / statistics.median([r["clips_per_s"] for r in plain]))
            metrics.update(memory_metrics(plain))
            metrics.update(floor_probes(spark, wl.data, workloads.PAYLOAD_CAP_MS))
            metrics = {k: {"value": v, "unit": per_layer[k]} for k, v in metrics.items()}
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            tracer.write(os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.jsonl"))
        return {**result, "metrics": metrics, "samples": len(plain)}
    finally:
        t = time.perf_counter()
        stop_session(spark)
        print(f"[perfbench] session stopped in {time.perf_counter() - t:.3f}s", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["bench", "tiny"], default="bench",
                   help="input size; 'tiny' is for the self-test")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "unify_spark", "__init__.py")):
        print(f"[perfbench] no unify_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    real_stdout = sys.stdout
    try:
        with contextlib.redirect_stdout(sys.stderr):
            res = measure(args, work)
    except Exception:  # noqa: BLE001 - a set-up failure fails the run, reported below
        print(f"[perfbench] set-up failed\n{traceback.format_exc()}", file=sys.stderr)
        res = {"attempted": 1, "failed": 1, "metrics": {}}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    expected = set(metric_units()[args.trace])
    correct = res["failed"] == 0 and set(res["metrics"]) == expected
    print(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} "
          f"samples={res.get('samples', 0)} fail_rate={res['failed'] / res['attempted']:.3f} "
          f"({res['failed']}/{res['attempted']})", file=sys.stderr)
    for k, m in sorted(res["metrics"].items()):
        print(f"[perfbench]   {k} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    line = {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": res["metrics"]}
    print(json.dumps(line), file=real_stdout, flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
