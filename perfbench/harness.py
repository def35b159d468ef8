"""Spark session lifecycle and timing helpers shared by the workloads.

Every file the run creates lives under ``work_dir`` inside the
checkout: Spark's local and warehouse directories, the JVM's and
Python's temp directories, the generated inputs and the pipeline's
outputs. ``Session.close`` stops the SparkContext and waits for the
JVM and its Python workers to exit.
"""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """Owns the SparkSession and the JVM behind it."""

    def __init__(self, work_dir: str, traced: bool) -> None:
        self.spark = None
        self.jvm_pid: int | None = None
        self._proc = None
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        # every JVM (the spark-submit launcher too): temp files in the
        # checkout, no hsperfdata file under the system /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        tempfile.tempdir = tmp
        # Python workers import the program from the checkout root
        root = os.getcwd()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        )
        self.conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            # the REST status API (shuffle bytes) needs the UI
            self.conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })

    def start(self):
        """Start a SparkContext through the program's session factory.
        Returns its duration."""
        from rfb_data_pipeline_spark import session as program_session

        t0 = time.perf_counter()
        n = cores()
        self.spark = program_session.get_spark(
            "perfbench", master=f"local[{n}]", shuffle_partitions=n,
            extra_conf=self.conf,
        )
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        gateway = self.spark.sparkContext._gateway
        self._proc = getattr(gateway, "proc", None)
        self.jvm_pid = self._proc.pid if self._proc is not None else None
        return elapsed

    def stop(self) -> None:
        """Stop the current SparkContext, if any; the JVM stays up."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this process."""
        pids = ["self"] + ([str(self.jvm_pid)] if self.jvm_pid is not None else [])
        return sum(_vm_hwm_kb(p) for p in pids) / 1024.0

    def shuffle_write_bytes(self, after_stage: int) -> tuple[int, int]:
        """(shuffle bytes written, tasks) by stages with id > after_stage,
        from the REST status API (traced runs only)."""
        stages = self._stages()
        rows = [s for s in stages if s["stageId"] > after_stage]
        return (
            sum(int(s.get("shuffleWriteBytes", 0)) for s in rows),
            sum(int(s.get("numCompleteTasks", 0)) for s in rows),
        )

    def last_stage_id(self) -> int:
        return max((s["stageId"] for s in self._stages()), default=-1)

    def _stages(self) -> list[dict]:
        import json
        import urllib.request

        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
        with urllib.request.urlopen(url, timeout=30) as resp:  # localhost only
            return json.loads(resp.read())

    def close(self) -> None:
        # the JVM's Python workers exit once the JVM is gone; wait for them too
        workers = _descendants(self.jvm_pid) if self.jvm_pid is not None else []
        self.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            if self._proc.stdin is not None:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while workers and time.monotonic() < deadline:
            workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in workers:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_peak_rss() -> None:
    """Reset this process's peak RSS (VmHWM), so the benchmark's own
    input generation and DuckDB oracle do not count as the program's."""
    try:
        with open("/proc/self/clear_refs", "w", encoding="ascii") as f:
            f.write("5")
    except OSError:
        pass

