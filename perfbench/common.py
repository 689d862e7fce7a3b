"""Shared plumbing for the benchmark: session start/stop, generated inputs,
the peak-memory sampler and the ambient-load record.

Nothing here times or checks a workload; ``ingest.py`` and
``interactive.py`` do that.
"""

from __future__ import annotations

import os
import statistics
import tempfile
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from search_spark import datagen

# Every workload is a closed loop with one client on local[4] with 4 shuffle
# partitions: small enough that fixed per-job costs stay visible.
MASTER = "local[4]"
SHUFFLE_PARTITIONS = "4"
# The engine default heap is 8 GiB; the benchmark host is shared, so the
# heap is capped. Every other setting is the engine default.
DRIVER_MEMORY = "2g"

WEB_PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def start_spark(work_dir: str, tracer, event_log_dir: str | None = None):
    """Start the engine's session the way every entry point does
    (``session.get_spark``) and run one job.

    Returns ``(spark, setup_s)`` where ``setup_s`` runs from the
    ``get_spark`` call to the end of the first completed job. Scratch
    space (shuffle files, JVM and Python temp files) stays in
    ``work_dir``; the event log is turned on only when ``event_log_dir``
    is given (the traced run).
    """
    from search_spark.session import get_spark

    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = {
        "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        # the heap starts at its cap: how far G1 grows it otherwise depends
        # on GC timing and moved peak memory by ~40% between runs
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=MASTER, extra_conf=conf)
    tracer.attach(spark)
    spark.range(1).count()
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the JVM it launched and wait for it.

    The JVM exits when its stdin closes; its Python worker daemon exits
    with it. Waiting here means no process outlives the benchmark.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = descendants(os.getpid())
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")


def write_corpus(path: str, seed: int, lo: int, hi: int) -> str:
    """Write ``web_pages`` rows for doc ids ``[lo, hi)`` as one parquet file.

    Rows come from the engine's own generator (``datagen.generate_doc``,
    the per-document function ``generate_web_pages`` maps over a range),
    so a change to the generator reaches the benchmark. Writing from the
    driver keeps input generation out of the session being measured.
    """
    rows = [datagen.generate_doc(seed, i)[0] for i in range(lo, hi)]
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=WEB_PAGES_ARROW),
        os.path.join(path, "part-0.parquet"),
    )
    return path


def corpus_properties(seed: int, lo: int, hi: int) -> dict:
    """English share and head-entity share of doc ids ``[lo, hi)``."""
    n_en = 0
    n_sent = 0
    n_head = 0
    for i in range(lo, hi):
        row, exp = datagen.generate_doc(seed, i)
        n_en += row["lang"] == "en"
        by_sentence: dict[tuple, set] = {}
        for ppos, spos, _s, _e, term, _t in exp.mentions:
            by_sentence.setdefault((ppos, spos), set()).add(term)
        for ppos, spos, _text, _bad in exp.sentences:
            n_sent += 1
            terms = by_sentence.get((ppos, spos), set())
            n_head += bool(terms & set(datagen.HEAD_ENTITIES))
    return {
        "docs": hi - lo,
        "english_share": round(n_en / max(1, hi - lo), 3),
        "head_entity_sentence_share": round(n_head / max(1, n_sent), 3),
    }


# -- process tree --------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (children, grandchildren, ...)."""
    ppid = _ppid_map()
    children: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _mem_kib(pid: int) -> tuple[int, int]:
    """``(Pss, Rss)`` of one process in KiB, ``(0, 0)`` once it is gone."""
    pss = rss = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    pss = int(line.split()[1])
                elif line.startswith("Rss:"):
                    rss = int(line.split()[1])
    except OSError:
        pass
    return pss, rss


class MemSampler:
    """One low-rate thread summing the proportional set size (PSS) over
    this process and all its descendants (driver, JVM, Python workers);
    keeps the peak.

    PSS, not RSS: every Python worker is forked from one daemon and shares
    most of its pages with it. Summed RSS counts those pages once per live
    worker, so it swings by gigabytes with how many workers happen to be
    alive at a sample; summed PSS counts each page once.
    """

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kib = 0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        mem = [_mem_kib(p) for p in [me, *descendants(me)]]
        total = sum(pss for pss, _rss in mem)
        if total > self.peak_kib:
            self.peak_kib = total
            self.at_peak = {
                "processes": len(mem),
                "largest_pss_mib": max(pss for pss, _rss in mem) / 1024.0,
                "rss_sum_mib": sum(rss for _pss, rss in mem) / 1024.0,
            }

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0


# -- ambient load ----------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_probe_ms() -> float:
    """Best of three timings of a fixed single-threaded Python loop. On a
    shared host the speed one vCPU delivers drifts by tens of percent over
    minutes without showing in the load average or the steal share; this
    shows it."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(800_000))
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


class Ambient:
    """1-minute load average at start and end of a run, the share of CPU
    time stolen by the hypervisor in between (``/proc/stat``), and a CPU
    probe before the session starts and after it stops. These identify a
    run inflated by other tenants of a shared host; they are diagnostics,
    not metrics."""

    def __init__(self):
        self.load_start = _loadavg_1m()
        self.probe_start = _cpu_probe_ms()
        self._cpu0 = _cpu_times()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(delta[:8]) or 1
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "loadavg_1m_start": self.load_start,
            "loadavg_1m_end": _loadavg_1m(),
            "cpu_steal_share": round(steal / total, 4),
            "cpu_probe_ms_start": self.probe_start,
            "cpu_probe_ms_end": _cpu_probe_ms(),
            "nproc": os.cpu_count(),
        }


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")
