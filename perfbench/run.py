"""The benchmark's one command.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One run:

1. controls the environment (``SPARK_GRAFT_CPUS`` = the usable cores,
   ``PYTHONPATH`` = the checkout, every temporary and Spark scratch
   directory inside a per-run directory under ``.perfbench/``), then
   starts one ``local[cpus]`` session; a set-up runs from the first
   statement of this file until the session's first trivial action
   returns, and ``setup_s`` is the median of this set-up and
   ``SETUP_SAMPLES - 1`` more, each in a fresh process
   (``--setup-only``) after the measured session has stopped;
2. generates the inputs from ``--seed`` (``gen.py``), so the program
   receives only that directory;
3. runs a cold pass with every result checked, then a fixed number of
   steady passes sized so that they take about ``--seconds`` seconds;
   with ``--trace 1`` the steady passes are traced and give the
   per-layer metrics, and an untraced pass before and after them gives
   the tracing overhead;
4. stops the session, prints every metric with its unit, writes the
   full record to ``.perfbench/results/`` and prints the summary as the
   last line.

Exit status 0 means the run completed; ``correct`` in the last line
says whether every result matched its oracle.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
STATE = os.path.join(CHECKOUT, ".perfbench")

# Size of the relational and events tables, a multiple of the sf0.01
# test tables. At this size the TPC-H shapes spend most of their action
# time outside the executors (q1 about 30 %; at sf0.1 about 85 %). The
# corpus tables keep their sf0.1 row counts (``gen.CORPUS_ROWS``), where
# the text and vector operators spend about half or more of their action
# time in the executors, as at sf0.1.
SCALE = 0.25
LAKEHOUSE_ROUNDS = 1
# Steady passes per run = seconds / nominal pass time, fixed per
# workload so every run measures the same amount of work and every
# percentile is taken over the same number of samples: at the default
# 12 seconds, two steady passes of analytics and one of lakehouse,
# which keeps the driver's runs of both workloads within its time limit.
NOMINAL_PASS_S = {"analytics": 6.0, "lakehouse": 10.5}
MIN_STEADY_PASSES = 1
DRIVER_MEM = "2g"
SETUP_SAMPLES = 2


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _control_env(run_dir: str, cpus: int) -> None:
    """Everything a run starts inherits these: the JVM, its Python
    workers and the set-up probes."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            # the engine sizes the JVM heap to half the host's free memory
            # by default; a fixed heap makes memory and GC comparable
            # across hosts
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": CHECKOUT + (os.pathsep + pp if pp else ""),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            # Python workers hash strings the same way in every run
            "PYTHONHASHSEED": "0",
        }
    )
    import tempfile

    tempfile.tempdir = None
    if CHECKOUT not in sys.path:
        sys.path.insert(0, CHECKOUT)
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    os.chdir(run_dir)  # stray files (spark-warehouse, derby.log) land here


def _start_session(cpus: int):
    """Import the engine and start its session; returns (spark, seconds
    spent inside ``session.get_spark``)."""
    import __spark_entry__  # noqa: F401  the package a user imports
    from map_reduce_rpc_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=str(cpus))
    start_s = time.perf_counter() - t
    spark.range(1).collect()
    return spark, start_s


def _stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and so every Python worker it
    forked) has exited, also when the session is already broken."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        proc = gw.proc
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        gw.shutdown()


def _setup_samples(n: int) -> list[float]:
    """``n`` more set-ups, one at a time, each in a fresh process."""
    out = []
    for _ in range(n):
        cmd = [sys.executable, os.path.abspath(__file__), "--setup-only"]
        with subprocess.Popen(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True) as p:
            try:
                stdout, stderr = p.communicate(timeout=120)
            except BaseException:
                p.terminate()  # the probe stops its JVM on SIGTERM
                p.wait()
                raise
        if p.returncode != 0:
            raise RuntimeError(f"set-up probe failed: {stderr[-2000:]}")
        out.append(json.loads(stdout.strip().splitlines()[-1])["setup_s"])
    return out


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def _code_sha() -> str:
    """SHA-256 over the engine's source files, which identifies the
    program also in a copy of the tree that has no git metadata."""
    digest = hashlib.sha256()
    files = [os.path.join(CHECKOUT, "__spark_entry__.py")]
    for d, dirs, names in os.walk(os.path.join(CHECKOUT, "map_reduce_rpc_spark")):
        dirs.sort()
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        with open(f, "rb") as fh:
            digest.update(os.path.relpath(f, CHECKOUT).encode() + b"\0" + fh.read())
    return digest.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        p = subprocess.run(
            ["git", "-C", CHECKOUT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return p.stdout.strip() if p.returncode == 0 else None


def _run_pass(c, fn, index: int, traced: bool, check: bool) -> dict:
    n_ops, paused = len(c.ops), c.paused
    c.rec.enabled = traced
    w0, t0 = time.time(), time.perf_counter()
    extra = fn(c, index, check)
    wall = time.perf_counter() - t0 - (c.paused - paused)
    w1 = time.time()
    c.rec.enabled = False
    c.streams.wait_idle()
    record = {
        "index": index,
        "traced": traced,
        "checked": check,
        "wall_s": wall,
        "interval": (w0, w1),
        "ops": c.ops[n_ops:],
        "microbatches": c.streams.take(),
        **extra,
    }
    if traced:
        c.rec.collect_jobs()
    return record


def _measure(spark, args, run_dir: str) -> dict:
    """Inputs, passes and checks of one run; returns the raw record."""
    import __spark_entry__
    import checks
    import gen
    import workloads
    from map_reduce_rpc_spark.sources import txlog
    from tracing import Recorder, StreamRecorder, TracedLogStore

    inputs = os.path.join(run_dir, "inputs")
    fingerprint = gen.generate(inputs, args.seed, SCALE, LAKEHOUSE_ROUNDS)
    spark.conf.set("spark.sql.streaming.checkpointLocation", os.path.join(run_dir, "checkpoints"))
    oracles = checks.OracleCache(
        checks.duck_connect(inputs),
        __spark_entry__.oracle_sql(),
        os.path.join(STATE, "oracle-cache", fingerprint),
    )
    rec = Recorder(spark)
    streams = StreamRecorder()
    spark.streams.addListener(streams)
    if args.trace:
        rec.install()
        txlog.set_log_store(TracedLogStore(rec, txlog.get_log_store()))
    client = workloads.Client(spark, inputs, os.path.join(run_dir, "work"), rec, streams, oracles)
    fn = workloads.WORKLOADS[args.workload]
    steady = max(MIN_STEADY_PASSES, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    # traced runs: the steady passes traced, between two untraced passes
    # that the tracing overhead is measured against (first and last, so
    # the JVM's warm-up drift cancels)
    schedule = [False] + ([False] + [True] * steady + [False] if args.trace else [False] * steady)
    passes = [_run_pass(client, fn, i, traced, check=i == 0) for i, traced in enumerate(schedule)]
    return {
        "fingerprint": fingerprint,
        "steady_passes": steady,
        "passes": passes,
        "attempted": client.attempted,
        "failures": client.failures,
        "recorder": rec,
        "java": spark._jvm.System.getProperty("java.version"),
    }


def _report(record: dict, out: dict, info: dict) -> None:
    for name, (value, unit) in out.items():
        extra = info.get(name)
        note = f"  (p{extra['percentile']} of n={extra['n']})" if extra else ""
        if name == "setup_s":
            note = "  (median of " + ", ".join(f"{x:.3f}" for x in info["setup_samples_s"]) + ")"
        print(f"{name:40s} {value:>16.6g} {unit}{note}")
    for op, msg in record["failures"]:
        print(f"FAILED {op}: {msg}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=("analytics", "lakehouse"))
    ap.add_argument(
        "--setup-only",
        action="store_true",
        help="only start the session, print its set-up time as JSON and stop",
    )
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not args.setup_only and args.workload is None:
        ap.error("--workload is required")
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = _cpus()
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return _setup_only(cpus, run_dir) if args.setup_only else _run(args, cpus, run_dir)
    finally:
        os.chdir(CHECKOUT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _setup_only(cpus: int, run_dir: str) -> int:
    _control_env(run_dir, cpus)
    spark, _ = _start_session(cpus)
    setup_s = time.perf_counter() - T0
    _stop_session(spark)
    print(json.dumps({"setup_s": setup_s}))
    return 0


def _run(args, cpus: int, run_dir: str) -> int:
    _control_env(run_dir, cpus)
    loadavg = os.getloadavg()
    try:
        spark, session_start_s = _start_session(cpus)
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {CHECKOUT}: {exc}", file=sys.stderr)
        return 2
    setups = [time.perf_counter() - T0]
    try:
        record = _measure(spark, args, run_dir)
        peak_rss = _peak_rss_mb(spark)
    finally:
        _stop_session(spark)
    setups += _setup_samples(SETUP_SAMPLES - 1)

    import metrics
    import pyspark

    passes, failed = record["passes"], len(record["failures"])
    info: dict = {"setup_samples_s": setups}
    computed = metrics.end_to_end(passes, statistics.median(setups), peak_rss, info)
    computed |= metrics.workload_results(passes, record["attempted"], failed, info)
    if args.trace:
        computed |= metrics.per_layer(passes, record["recorder"], cpus, session_start_s)
    stamps = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "scale": SCALE,
        "input_fingerprint": record["fingerprint"],
        "git_sha": _git_sha(),
        "code_sha": _code_sha(),
        "loadavg_start": loadavg,
        "pyspark": pyspark.__version__,
        "java": record["java"],
        "python": sys.version.split()[0],
        "steady_passes": record["steady_passes"],
    }
    for k, v in stamps.items():
        print(f"# {k}: {v}")
    _report(record, computed, info)
    path = _write_record(args, stamps, computed, info, record)
    print(f"# record: {os.path.relpath(path, CHECKOUT)}")
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    summary = {
        "correct": failed == 0,
        "attempted": record["attempted"],
        "failed": failed,
        "metrics": {m["name"]: dict(zip(("value", "unit"), computed[m["name"]])) for m in declared},
    }
    print(json.dumps(summary))
    return 0


def _write_record(args, stamps: dict, computed: dict, info: dict, record: dict) -> str:
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    path = os.path.join(STATE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    passes = [
        {"index": p["index"], "traced": p["traced"], "wall_s": p["wall_s"], "ops": [(o["name"], o["latency_s"]) for o in p["ops"]]}
        for p in record["passes"]
    ]
    with open(path, "w") as fh:
        json.dump(
            {
                "stamps": stamps,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in computed.items()},
                "info": info,
                "failures": record["failures"],
                "passes": passes,
                "spans": record["recorder"].spans,
            },
            fh,
            indent=1,
        )
    return path


if __name__ == "__main__":
    sys.exit(main())
