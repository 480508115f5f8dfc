"""The benchmark's own Spark session, sized to the machine it runs on.

Every setting is listed in :func:`settings`, so two commits measured on
the same machine run with identical confs.  Spark's scratch space, the
JVM temp dir and the optional event log all live under the run's work
directory, which the runner removes when the run ends.
"""

from __future__ import annotations

import os
import platform
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def settings(work: str, event_log_dir: str | None = None) -> dict[str, str]:
    n = cores()
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "jsonld_ex_spark-perfbench",
        # 4 GiB fits a 15 GiB machine with room for the Python workers;
        # the largest input here is a few hundred MB in the JVM
        "spark.driver.memory": "4g",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        # no hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/jvm-tmp",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the same query-engine settings bench.py uses, sized to n cores
        "spark.sql.shuffle.partitions": str(max(n * 4, 16)),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def start(work: str, event_log_dir: str | None = None):
    """Start (or, in a live JVM, restart) Spark with :func:`settings`."""
    from pyspark.sql import SparkSession

    for sub in ("jvm-tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
    # the launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = settings(work, event_log_dir)
    b = SparkSession.builder
    for key, value in conf.items():
        b = b.config(key, value)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants() -> list[int]:
    """Pids of every live process below this one (the Spark JVM and the
    Python workers it forks), from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
    out: list[int] = []
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def shutdown() -> None:
    """Stop Spark, end the Spark JVM and wait until every process it
    started has exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    sc = SparkContext._active_spark_context
    try:
        if sc is not None:
            sc.stop()
    except Py4JError:
        pass  # an interrupted call left the gateway unusable; the JVM ends below
    gateway.shutdown()
    # the JVM exits when its stdin closes
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def environment() -> dict[str, str]:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": str(cores()),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "duckdb": duckdb.__version__,
    }
