"""SparkSession factory with the engine's baseline configuration.

Spec: BASELINE.json:6 — "AQE-tuned shuffle partitions"; BASELINE.json:15 —
vectorized pandas/Arrow UDFs (Arrow must be enabled). All tuning lives here so
every entry point (pytest, bench, spark-submit CLI, driver contract) runs with
identical semantics.

Scale note: these confs are written for a real multi-executor cluster at
10^12-file scale — AQE re-plans shuffle partition counts at runtime, skew-join
splits pathological partitions, and partition coalescing keeps small stages
from drowning in task overhead. On local[N] the same confs apply unchanged.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

# One knob: shuffle parallelism scales with cores (cluster: with executors).
DEFAULT_SHUFFLE_PARTITIONS = 32
# Shuffle budget a tmpfs local dir must have room for, in /dev/shm and in
# physical RAM beside the driver heap.
TMPFS_SHUFFLE_BYTES = 8 << 30


def _tree_newest_mtime(root: Path) -> float:
    """Newest mtime of ``root`` or anything beneath it — the liveness signal
    for reaping leftover local dirs (tmpfs walk, RAM-speed; stale leftovers
    are small by definition)."""
    newest = root.stat().st_mtime
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            try:
                mt = os.stat(os.path.join(dirpath, name)).st_mtime
            except OSError:
                continue
            if mt > newest:
                newest = mt
    return newest


def _reap_stale_local_dirs(shm_root: Path, max_age_s: float = 86400) -> None:
    """Reclaim local-dir leftovers from crashed sessions under ``shm_root``.

    ``pid-<pid>`` dirs (this factory's layout) are owned by exactly one
    driver process: the pid being gone IS the liveness signal, so they are
    reaped immediately — a crashed 40 GB shuffle footprint is freed by the
    next session instead of starving the box for a day (measured: two
    crashed-run leftovers held 75 GB of tmpfs and OOM-killed the next JVM).
    A PermissionError from ``os.kill(pid, 0)`` means alive-under-another-uid
    → keep. Dirs without the prefix (older layout / foreign writers) fall
    back to deepest-file-mtime > ``max_age_s`` — the TOP-LEVEL dir mtime is
    not a liveness signal (a live session's blockmgr dir mtime freezes at
    startup while writes land in nested hash subdirs).
    """
    import time

    if not shm_root.is_dir():
        return
    def _remove(path: Path) -> None:
        # rmtree on a plain file raises NotADirectoryError (and with
        # ignore_errors=True silently does NOTHING) — a stale top-level
        # file would survive every reap forever. Dispatch on type.
        if path.is_dir():
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                path.unlink()
            except OSError:
                pass

    cutoff = time.time() - max_age_s
    for p in shm_root.iterdir():
        try:
            pid = None
            if p.name.startswith("pid-"):
                try:
                    pid = int(p.name[4:])
                except ValueError:
                    pid = None  # unparsable pid-* → fall through to mtime
                if pid is not None and pid <= 0:
                    # os.kill(0/negative, 0) probes the process GROUP and
                    # always succeeds — a foreign "pid-0" entry would be
                    # kept forever. Treat as unparsable → mtime rule.
                    pid = None
            if pid is not None:
                try:
                    os.kill(pid, 0)  # raises if pid is gone
                    continue
                except ProcessLookupError:
                    _remove(p)
                except PermissionError:
                    continue
            elif _tree_newest_mtime(p) < cutoff:
                _remove(p)
        except (OSError, ValueError):
            pass


def default_driver_memory() -> str:
    """Local-mode driver heap: half of this host's physical RAM, in MB.

    The heap is a ceiling the JVM grows into, not a reservation, so a fixed
    size larger than the host lets a busy session grow past physical memory
    until the kernel kills it. Half leaves room for the Python workers, the
    JVM's off-heap use and a tmpfs shuffle dir.
    """
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{ram // 2 // (1 << 20)}m"


def _size_bytes(size: str) -> int:
    """A JVM memory size (``512m``, ``8g``; a bare number is MiB, as for
    ``spark.driver.memory``) in bytes."""
    m = re.fullmatch(r"(\d+)([kmgt])?b?", size.strip().lower())
    if m is None:
        raise ValueError(f"not a memory size: {size!r}")
    return int(m.group(1)) << {"k": 10, "m": 20, "g": 30, "t": 40}[m.group(2) or "m"]


def _tmpfs_local_dir(heap_bytes: int) -> str | None:
    """A per-process shuffle dir under ``/dev/shm``, or None when tmpfs
    cannot hold :data:`TMPFS_SHUFFLE_BYTES` beside a driver heap of
    ``heap_bytes``.

    tmpfs shuffle eats RAM, and the heap is a ceiling the JVM grows into:
    both must fit in physical memory together, and /dev/shm must have the
    budget free (a footprint past capacity fails with ENOSPC where disk
    would absorb it). Crashed-run leftovers are reaped first — each session
    writes under its own ``pid-<pid>`` subdir so
    :func:`_reap_stale_local_dirs` can use process liveness, not mtime.
    """
    if not Path("/dev/shm").is_dir():
        return None
    shm_root = Path("/dev/shm/ccspark-local")
    _reap_stale_local_dirs(shm_root)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    if (
        heap_bytes + TMPFS_SHUFFLE_BYTES > ram
        or shutil.disk_usage("/dev/shm").free < TMPFS_SHUFFLE_BYTES
    ):
        return None
    return str(shm_root / f"pid-{os.getpid()}")


def build_session(
    app_name: str = "codingchallenge-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine baseline conf.

    ``master=None`` defers to spark-submit / existing session (production
    path: ``spark-submit --py-files engine.zip run_pipeline.py``). Tests and
    bench pass ``local[N]`` explicitly.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {}
    if master and master.startswith("local"):
        # Local mode launches the JVM from here, so the heap must be sized
        # now — the 1g default OOMs with 32 task threads sharing one heap.
        # On a cluster spark-submit owns driver/executor memory; never set
        # it from library code there (master=None skips this branch).
        conf["spark.driver.memory"] = os.environ.get(
            "CCSPARK_DRIVER_MEMORY", default_driver_memory()
        )
        # Shuffle/spill dir: tmpfs when it fits. 32 concurrent shuffle
        # writers through the page cache onto a virtio disk serialize the
        # whole job in writeback (measured: 83% sys time, 5× stage slowdown
        # at local[32] vs local[8]). On a real cluster local dirs are
        # admin-provisioned NVMe — never set from library code (master=None).
        local_dir = os.environ.get("CCSPARK_LOCAL_DIR")
        if local_dir is None:
            local_dir = _tmpfs_local_dir(_size_bytes(conf["spark.driver.memory"]))
        if local_dir:
            Path(local_dir).mkdir(parents=True, exist_ok=True)
            conf["spark.local.dir"] = local_dir
    # Python-worker daemon preload: worker creation is serialized JVM-wide
    # and each fresh worker pays the numpy/pandas/pyarrow imports (~350 ms)
    # serially — an Arrow stage's cold start at 32 tasks measured 11.3s vs
    # 0.65s warm. A daemon module that imports the data plane BEFORE forking
    # hands every worker those modules copy-on-write. The daemon process does
    # not see addPyFile'd zips, so its PYTHONPATH must carry the package
    # location explicitly. Enabled where the driver-local package path is
    # known-valid for the workers (local mode, i.e. same machine); on a real
    # cluster set CCSPARK_DAEMON_PRELOAD=1 only if the deployment puts the
    # package (source dir or engine.zip — a zip path is a valid PYTHONPATH
    # entry) on every executor's PYTHONPATH, because a daemon that fails to
    # import hard-fails every Python stage.
    if (master and master.startswith("local")) or os.environ.get(
        "CCSPARK_DAEMON_PRELOAD"
    ):
        pkg_parent = str(Path(__file__).resolve().parent.parent)
        env_pp = os.environ.get("PYTHONPATH", "")
        conf["spark.python.daemon.module"] = "codingchallenge_spark.daemon"
        conf["spark.executorEnv.PYTHONPATH"] = (
            pkg_parent + (os.pathsep + env_pp if env_pp else "")
        )
    conf |= {
        # Adaptive execution: runtime shuffle-partition coalescing + skew-join
        # splitting (BASELINE.json:6 "AQE-tuned shuffle partitions").
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Let the planner broadcast genuinely small relations (e.g. the
        # record-attribute side of the pair fan-in join at test scale) —
        # size-based, so a 10^12-row records table still gets SMJ/SHJ.
        "spark.sql.autoBroadcastJoinThreshold": "256m",
        # Arrow data plane for pandas UDFs (BASELINE.json:15 "no per-row Python").
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # Determinism: interpret timestamps in UTC everywhere.
        "spark.sql.session.timeZone": "UTC",
        # Keep driver-side collect for tests/oracle modest.
        "spark.driver.maxResultSize": "2g",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make codingchallenge_spark importable on executor Python workers.

    Under `spark-submit --py-files dist/engine.zip` this is already true; for
    ad-hoc sessions (driver contract, tests run from any cwd) we zip the
    package and addPyFile it — same artifact, same mechanism. Idempotent.
    """
    if getattr(spark, "_ccspark_pyfiles_added", False):
        return
    pkg = Path(__file__).resolve().parent
    zpath = Path(tempfile.gettempdir()) / f"ccspark_pyfiles_{os.getpid()}.zip"
    if not zpath.exists():
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkg.rglob("*.py")):
                z.write(p, Path(pkg.name) / p.relative_to(pkg))
    try:
        spark.sparkContext.addPyFile(str(zpath))
    except Exception:
        pass  # Spark Connect session: no sparkContext — rely on --py-files
    spark._ccspark_pyfiles_added = True
