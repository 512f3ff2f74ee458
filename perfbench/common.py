"""Workspace, Spark lifecycle and small statistics shared by the benchmark."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
# every file a run writes lives under this directory of the checkout
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench")
CORES = min(os.cpu_count() or 4, 4)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_spark(work: str, event_log_dir: str | None = None):
    """A local session whose scratch space (shuffle, JVM temp) stays in
    ``work``. ``event_log_dir`` turns on Spark's event log (traced runs)."""
    from nifi_processors_spark.session import get_spark

    # no JVM started from here (launcher included) writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    conf = {
        "spark.local.dir": os.path.join(work, "sparktmp"),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log_dir,
                     "spark.eventLog.compress": "false"})
    return get_spark("perfbench", cores=CORES, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) < 2:
        v = float(xs[0]) if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3
