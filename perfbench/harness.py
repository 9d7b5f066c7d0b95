"""Process-level plumbing: the production Spark session started from the
benchmark side, and its orderly shutdown."""

from __future__ import annotations

import os
import shlex
import statistics
import time

def cores() -> int:
    """The cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log: bool):
    """``pipeline.build_session`` with its defaults apart from ``cores``.

    Everything Spark and the JVM write goes under ``work``. The event log
    (traced runs only) is switched on through ``PYSPARK_SUBMIT_ARGS``, so the
    session builder itself stays the production one."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    from sbb_ocr_postcorrection_spark.pipeline import build_session

    spark = build_session(app="perfbench", cores=cores())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant of it."""
    kids = _children_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except Exception:  # noqa: BLE001 - any wait failure ends in a kill
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in tree):
        if time.monotonic() > deadline:
            for p in tree:
                if _alive(p):
                    os.kill(p, 9)
        time.sleep(0.05)


def summary(values: list[float]) -> dict:
    """Median, quartiles and sample count of one metric's samples."""
    vals = sorted(values)
    q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3
    return {"n": len(vals), "median": statistics.median(vals),
            "q1": q[0], "q3": q[2], "min": vals[0], "max": vals[-1]}
