"""The benchmark's Spark session: ``local[N]`` with N the usable cores,
shuffle partitions equal to N, the JVM heap sized from the machine's RAM,
and every scratch path inside the run's output directory."""

from __future__ import annotations

import os


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_size() -> str:
    """A sixth of physical RAM, clamped to 1-4 GB: the Python workers and
    the rest of a shared machine need the remainder."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // (6 << 20)))}g"


def session_conf(out: str, cores: int, event_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = heap_size()
    conf = {
        "spark.driver.memory": mem,
        # the whole heap is faulted in at start-up, so first-touch page
        # faults land in set-up rather than in measured rounds
        "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
    }
    # explicit either way: a later session in the same JVM inherits the
    # first session's settings unless it overrides them
    conf["spark.eventLog.enabled"] = "true" if event_dir else "false"
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
            "spark.eventLog.compress": "false",
        })
    return conf


def start(out: str, cores: int, event_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for k, v in session_conf(out, cores, event_dir).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
