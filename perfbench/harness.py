"""Host sizing, fixture, process-tree meters and label checks for the
clip-labelling benchmark.  No Spark is started by importing this module.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

DEFAULT_SEED = 20260816
# Base clips per fixture (the generator plants ~1.2% duplicates on top).
# Sized so one run of any workload, table write included, fits the
# benchmark's time budget on a 4-vCPU host; see perfbench/README.md.
BASE_CLIPS = 1500
BYTES_PER_CLIP = 48_000       # parquet footprint of the "bench" profile
FAULT_GBPS_HEALTHY = 0.5      # first-touch probe floor for a quotable run
LABEL_KEYS = ["keep", "drop_reason", "scrubbed_transcript"]
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
             "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS")


# ---------------------------------------------------------------- host ---

def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _cgroup_cpus() -> float | None:
    quota, _, period = (_read("/sys/fs/cgroup/cpu.max") or "max").partition(" ")
    return None if quota == "max" else int(quota) / int(period)


def _cgroup_mem() -> int | None:
    v = (_read("/sys/fs/cgroup/memory.max") or "max").strip()
    return None if v == "max" else int(v)


@dataclass(frozen=True)
class Host:
    cores: int
    mem_bytes: int

    @property
    def driver_mem_mb(self) -> int:
        """An eighth of memory, 1-1.5 GB: the fixture is ~0.2 GB and the
        scored table ~5 MB, and the host is shared.  The heap is fixed at
        this size (-Xms too), so every run fills the same heap and the peak
        resident memory measures the workload, not when G1 chose to grow."""
        return int(min(1536, max(1024, self.mem_bytes // 8 >> 20)))


def detect_host() -> Host:
    cores = len(os.sched_getaffinity(0))
    quota = _cgroup_cpus()
    if quota is not None:
        cores = max(1, min(cores, int(quota)))
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) * 1024
    limit = _cgroup_mem()
    if limit is not None:
        mem = min(mem, limit)
    return Host(cores=cores, mem_bytes=mem)


def split_bytes(cores: int, table_bytes: int) -> int:
    """Scan split size for about four splits per core, 4-128 MB."""
    return int(max(4 << 20, min(128 << 20, table_bytes // (4 * cores))))


def pin_env() -> None:
    """Environment the driver JVM and its Python workers inherit; must run
    before the first SparkSession is built."""
    for var in BLAS_VARS:
        os.environ[var] = "1"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # leftovers of a killed run
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (the spark-submit launcher too): temp files in the work dir,
    # no hsperfdata files under the system temp dir
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if jvm_opts not in os.environ.get("JAVA_TOOL_OPTIONS", ""):
        os.environ["JAVA_TOOL_OPTIONS"] = \
            f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {jvm_opts}".strip()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build_session(cores: int, host: Host, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    from engine import config

    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName(f"perfbench-{cores}")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.default.parallelism", str(cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                 str(config.ARROW_MAX_RECORDS_PER_BATCH))
         .config("spark.sql.files.openCostInBytes", "1m")
         .config("spark.driver.memory", f"{host.driver_mem_mb}m")
         .config("spark.driver.extraJavaOptions", f"-Xms{host.driver_mem_mb}m")
         .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.eventLog.enabled", "true" if event_log_dir else "false"))
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fit_splits(spark, host: Host, table_bytes: int) -> None:
    """Scan split size for the table about to be read (a runtime SQL conf,
    read when a scan is planned)."""
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(split_bytes(host.cores, table_bytes)))


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown_jvm(spark=None) -> None:
    """Stop the session if any, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------ process meters ---

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        raw = _read(f"/proc/{name}/stat")
        if raw is None:
            continue
        f = raw[raw.rindex(")") + 2:].split()
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        out[int(name)] = (int(f[1]), ticks / _TICK, int(f[21]) * _PAGE)
    return out


def _tree(root: int, table: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def tree_usage(root: int) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over `root` and its descendants."""
    table = _proc_table()
    pids = _tree(root, table)
    return sum(table[p][1] for p in pids), sum(table[p][2] for p in pids)


def tree_read_bytes(root: int) -> int:
    """Bytes read through read(2)-family calls (`rchar`) by `root` and its
    descendants, page-cache hits included."""
    total = 0
    for pid in _tree(root, _proc_table()):
        for line in (_read(f"/proc/{pid}/io") or "").splitlines():
            if line.startswith("rchar:"):
                total += int(line.split()[1])
    return total


class PeakRss:
    """Samples the process tree's resident memory every 50 ms while open;
    keeps the peak and each process's share of it, MB, largest first."""

    def __init__(self, root: int):
        self.root, self.peak = root, 0
        self.at_peak: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            table = _proc_table()
            rss = sorted((table[p][2] for p in _tree(self.root, table)), reverse=True)
            if sum(rss) > self.peak:
                self.peak, self.at_peak = sum(rss), [r >> 20 for r in rss]
            if self._stop.wait(0.05):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------- host probe ---

def first_touch_gbps(mb: int = 256) -> float:
    """First-touch page-fault throughput, GB/s.  When a virtual machine's
    fault path collapses, every fresh allocation crawls and timings say
    nothing about the engine; healthy guests read about 1-10 GB/s."""
    import numpy as np

    n = mb << 20
    t0 = time.perf_counter()
    a = np.empty(n, dtype=np.uint8)
    a[::4096] = 1
    return n / (time.perf_counter() - t0) / 1e9


def bracketed(fn):
    """Run `fn` between two first-touch probes -> (fn(), host record).  The
    record says `valid: false`, with a reason, when either probe reads below
    FAULT_GBPS_HEALTHY: the timings inside are then not quotable."""
    probes = [first_touch_gbps()]
    out = fn()
    probes.append(first_touch_gbps())
    low = min(probes)
    reason = None
    if low < FAULT_GBPS_HEALTHY:
        reason = (f"first-touch probe read {low:.3f} GB/s, below "
                  f"{FAULT_GBPS_HEALTHY} GB/s: host-bound timings")
    return out, {"probes_gbps": probes, "valid": reason is None, "invalid_reason": reason}


# ------------------------------------------------------------- fixture ---

@dataclass(frozen=True)
class Fixture:
    seed: int
    path: str          # clips parquet, hive-partitioned by part_id
    ref: object        # oracle labels, pandas: clip_id + LABEL_KEYS
    n_clips: int
    n_parts: int
    table_bytes: int
    write_s: float     # table write, oracle alongside

    @property
    def key(self) -> str:
        from engine import fixtures

        return f"s{self.seed}_n{self.n_clips}_v{fixtures.FIXTURES_VERSION}"


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


def generate(seed: int, n_base: int = BASE_CLIPS):
    """The seed's clips, pandas, generated in this process."""
    from engine import fixtures

    need = 3 * n_base * BYTES_PER_CLIP + (1 << 30)
    os.makedirs(WORK, exist_ok=True)
    free = shutil.disk_usage(WORK).free
    if free < need:
        raise SystemExit(f"perfbench: {free >> 20} MB free under {WORK}, "
                         f"need {need >> 20} MB to build the fixture")
    # one generator call: chunked calls restart clip ids per chunk and
    # their planted duplicates collide with the next chunk's ids
    clips, _ = fixtures.generate_clips(n_base, seed=seed, profile="bench")
    if clips["clip_id"].duplicated().any():
        raise RuntimeError("fixture has duplicate clip_id values")
    return clips


def write_fixture(spark, seed: int, clips, path: str) -> Fixture:
    """Write the clips table, hive-partitioned by part_id, while the
    pure-pandas oracle labels the same clips in this process.  Spark stamps
    part_id with the engine's partitioner, pmod(xxhash64(clip_id), N_PARTS),
    as `fixtures.write_clips_parquet` does; pyarrow writes the table with
    the types of `schema.CLIPS_SCHEMA`.  The step takes ~5 s on a 4-vCPU
    host, where write_clips_parquet's shuffle and partitioned write take
    9-12 s, in a budget that pays it on every run."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from engine import config, schema

    if os.path.join(ROOT, "tests") not in sys.path:
        sys.path.insert(0, os.path.join(ROOT, "tests"))
    import oracle

    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    with ThreadPoolExecutor(1) as pool:
        ref = pool.submit(oracle.label_clips, clips)
        parts = (spark.createDataFrame(clips[["clip_id"]], "clip_id string")
                 .select("clip_id", F.pmod(F.xxhash64("clip_id"), F.lit(config.N_PARTS))
                         .cast("int").alias("part_id"))
                 .toPandas().set_index("clip_id")["part_id"])
        columns = T.StructType(schema.CLIPS_SCHEMA.fields[:-1])
        table = pa.Table.from_pandas(clips[columns.names], schema=to_arrow_schema(columns),
                                     preserve_index=False)
        table = table.append_column(
            "part_id", pa.array(clips["clip_id"].map(parts).to_numpy(), pa.int32()))
        ds.write_dataset(table, path, format="parquet",
                         partitioning=["part_id"], partitioning_flavor="hive")
        ref = ref.result()[["clip_id"] + LABEL_KEYS]
    rows = ds.dataset(path, format="parquet", partitioning="hive").count_rows()
    if rows != len(clips) or len(ref) != len(clips):
        raise RuntimeError(f"fixture check: {rows} rows written, {len(ref)} labelled, "
                           f"{len(clips)} generated")
    n_parts = sum(1 for d in os.listdir(path) if d.startswith("part_id="))
    return Fixture(seed, path, ref, len(clips), n_parts, _dir_bytes(path),
                   time.perf_counter() - t0)


# -------------------------------------------------------------- labels ---

def wrong_labels(got, ref) -> int:
    """Clips whose (keep, drop_reason, scrubbed_transcript) differ from the
    reference, are missing, are extra or appear twice."""
    dup = int(got["clip_id"].duplicated().sum())
    m = got.drop_duplicates("clip_id").merge(
        ref, on="clip_id", how="outer", suffixes=("", "_ref"), indicator=True)
    bad = m["_merge"] != "both"
    for k in LABEL_KEYS:
        a, b = m[k].astype(object), m[f"{k}_ref"].astype(object)
        same = (a == b) | (a.isna() & b.isna())
        bad |= ~same
    return int(bad.sum()) + dup


def labels_digest(got) -> str:
    rows = got.sort_values("clip_id")[["clip_id"] + LABEL_KEYS].astype(object)
    rows = rows.where(rows.notna(), None)
    return hashlib.sha256(json.dumps(rows.values.tolist()).encode()).hexdigest()


def agreement(fx: Fixture, workload: str, digest: str) -> list[str]:
    """Record this workload's labels digest for the fixture and the engine's
    rule version; return the other workloads whose recorded digest differs."""
    from engine import config

    d = os.path.join(WORK, "agree", fx.key, config.rule_version())
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, workload), "w") as f:
        f.write(digest)
    others = []
    for w in sorted(os.listdir(d)):
        with open(os.path.join(d, w)) as f:
            if w != workload and f.read() != digest:
                others.append(w)
    return others
