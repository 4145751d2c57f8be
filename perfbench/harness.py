"""Process-level plumbing shared by the workloads: the work directory,
the Spark session's lifecycle, job counting, memory high-water marks and
the run's result accounting."""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field


@dataclass
class Outcome:
    """Attempted/failed tally over timed operations and output checks."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def check(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems[:5])
        return not problems

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"operation failed: {what}")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Session:
    """Owns the engine's SparkSession (built through ``session.get_session``)
    and the JVM behind it; ``close`` stops both and waits for the JVM."""

    def __init__(self, work: str, n_cpus: int):
        self.work = work
        self.n_cpus = n_cpus
        self.spark = None
        self._jvm_pid: int | None = None

    def start(self, n_cpus: int | None = None):
        from atlassian_confluence_data_pipeline_spark.session import get_session

        self.spark = get_session(
            app_name="perfbench",
            cpus=n_cpus or self.n_cpus,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
                "spark.local.dir": f"{self.work}/spark-local",
                "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            },
        )
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            self._jvm_pid = proc.pid
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    def rss_parts_mb(self) -> tuple[float, float]:
        """Resident-set high-water marks of the driver (this process) and
        of the JVM."""
        jvm = _vm_hwm_kb(str(self._jvm_pid)) if self._jvm_pid is not None else 0
        return _vm_hwm_kb("self") / 1024.0, jvm / 1024.0

    def jobs_in_group(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _vm_hwm_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path

