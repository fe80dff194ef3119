"""Process set-up shared by every workload: directories, environment,
the Spark session, and the resident-memory sampler."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time

from perfbench.stats import descendants, nproc, tree_pss_bytes

# Everything a run writes lives under the checkout.
WORK = ".perfbench_work"
OUT = ".perfbench_out"
LOCK = ".perfbench.lock"
# Driver heap, fixed in size (initial = maximum) so that heap resizing
# under load does not move the memory figure from run to run.
DRIVER_MEM = "1g"


def prepare_dirs(root: str) -> str:
    """A fresh work directory for this run; returns its absolute path."""
    work = os.path.join(root, WORK)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.makedirs(os.path.join(root, OUT), exist_ok=True)
    return work


def prepare_env(root: str, work: str) -> None:
    """Environment the Spark JVM and its Python workers inherit: the
    checkout importable, temporary files inside the work directory."""
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)


def build_session(work: str, extra: dict[str, str] | None = None):
    """``get_session`` on ``local[nproc]`` with ``nproc`` shuffle partitions."""
    from scats_transis_kinesis_spark.session import get_session

    n = nproc()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
    }
    conf.update(extra or {})
    return get_session(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_jvm(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the JVM it launched and wait until the JVM
    and every process under it (the Python workers) have exited."""
    proc = spark.sparkContext._gateway.proc
    if proc.poll() is not None:
        return
    tree = descendants(proc.pid)
    spark.stop()
    proc.terminate()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def noop(df) -> None:
    """Run ``df`` to completion without collecting or writing it."""
    df.write.mode("overwrite").format("noop").save()


class RssSampler:
    """Peak memory (proportional set size) of a process tree, sampled
    every 100 ms."""

    def __init__(self, pid: int, period_s: float = 0.1) -> None:
        self.pid = pid
        self.period_s = period_s
        self.peak = 0
        self.root_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        own, total = tree_pss_bytes(self.pid)
        self.root_peak = max(self.root_peak, own)
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
