#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload etl_studies --seed 1 --seconds 30 --trace 0

Workloads (see perfbench/README.md): ``etl_studies`` runs the ``fhir-etl``
CLI in-process over a generated study; ``graph_stream_dedup`` runs registry
graph, streaming and dedup queries over generated tables. A run measures
one pass of its workload, which takes about 30 s on a 4-core host;
``--seconds`` is recorded with the result and does not lengthen the pass.
``--trace 1`` reports the per-layer metrics instead of the end-to-end ones.

Each run gets its own TMPDIR, Spark local dirs, warehouse, derby home,
inputs and sink under ``.perfbench_work/`` in the repository, removed at
exit. Output: an environment record line, then, as the last line, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kf_task_fhir_etl_spark"


def host_settings() -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_gb = int(f.readline().split()[1]) / 2**20
    # a quarter of RAM, 1-4 GiB: room for the JVM's off-heap and the workers
    heap_gb = max(1, min(4, int(ram_gb // 4)))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g", "ram_gb": f"{ram_gb:.1f}"}


def isolate(work: str, settings: dict[str, str]) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` (fresh per run) and pin the session settings."""
    dirs = {d: os.path.join(work, d) for d in ("tmp", "spark-local", "warehouse", "derby")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        # Spark's Python workers import the package from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=settings["SPARK_GRAFT_CPUS"],
        SPARK_GRAFT_DRIVER_MEM=settings["SPARK_GRAFT_DRIVER_MEM"],
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
            "--conf", "spark.ui.retainedJobs=5000", "--conf", "spark.ui.retainedStages=20000",
            "--driver-java-options",
            # no hsperfdata file, which the JVM would write to /tmp
            shlex.quote(f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['derby']} -XX:-UsePerfData"),
            "pyspark-shell",
        ]),
    )
    tempfile.tempdir = None  # re-read TMPDIR


def code_rev() -> str:
    """The git revision when there is one, else a digest of the package."""
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=True
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        h = hashlib.sha1()
        for base, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(base, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
        return "src-sha1:" + h.hexdigest()[:12]


def environment(args, settings: dict[str, str]) -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    return {
        "code_rev": code_rev(), "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": int(settings["SPARK_GRAFT_CPUS"]),
        "ram_gb": float(settings["ram_gb"]), "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown", "python": platform.python_version(),
        **{k: v for k, v in settings.items() if k.startswith("SPARK_GRAFT")},
    }


def stop_spark() -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    each to end (the gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    import probes

    children = probes.descendants(gateway.proc.pid)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is going away regardless
        pass
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True, help="recorded only: a run measures one pass")
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    settings = host_settings()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{args.seed}")
    isolate(work, settings)
    try:
        run = workloads.Run(args.seed, bool(args.trace), work, T_START)
        result = workloads.WORKLOADS[args.workload](run)
        env = environment(args, settings)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    print(json.dumps({"env": env, "wall": run.walls}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
