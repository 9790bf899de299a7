"""The benchmark's workloads: one driver process, closed loop, timed cycles.

A run makes its seeded inputs (untimed, cached), sets the program up,
then repeats its workload's cycle until the measuring time is used up,
checking every cycle's outputs against the oracle outside the timed part.
The set-up is ``get_spark`` plus ``KGPipeline`` construction, then a first
use: the first part of the workload's cycle over the warm-up input, which
shares no conversation with the measured input. The first use starts the
Python workers, loads the pipeline's broadcast state into them and lets
the JVM load and compile the code paths that are slowest the first time,
so the timed cycles run warm. ``setup_s`` is all of it, so work moved into
first use shows there and not in whichever cycle runs first. Every time
is read on ``spans.clock``, which leaves out what the hypervisor steals.

``kg_build`` is a bulk rebuild: ``KGPipeline.materialize`` of the input
into a fresh ``ParquetTableCatalog``, then the graph tables read back.

``kg_stream`` is an incremental update. A fixed history was streamed
with ``streaming.incremental.stream_triples(with_graph=True)`` and
compacted with ``compact_graph`` once per checkout; each cycle restores
that catalog, lands the seeded wave, streams it (one micro-batch of four
files, committed as a set of ledger partitions), compacts again (the
incremental canonicalization path) and reads the merged graph back.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass

import checks
import layers
from inputs import Inputs, Shape, prepare
from spans import Tracer, TreeRss, clock, cpu_ticks, steal_pct


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "kg_build",
            Shape(pool=1500, entities=500, perturb_rate=0.0, turns=12_000, files=8),
            "bulk rebuild: materialize 12k turns, 500 entities, no typos, into a fresh "
            "catalog; extraction, linking and a full canonicalization, bulk table replaces",
        ),
        Workload(
            "kg_stream",
            Shape(pool=1500, entities=500, perturb_rate=0.04, turns=3_000, files=4,
                  history_turns=12_000, history_files=8),
            "update: 3k turns, 4% typos, 4 files streamed as one micro-batch onto a compacted 12k-turn "
            "graph; small ledger commits, incremental canonicalization, merged read",
        ),
    )
}

FILES_PER_BATCH = 4  # streaming.incremental.transcript_stream's maxFilesPerTrigger
GRAPH = ("kg_edges", "kg_nodes", "surface_clusters")


def parallelism() -> int:
    return len(os.sched_getaffinity(0))


class BatchTimes:
    """Micro-batch latencies (``triggerExecution``) from a streaming listener."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        times = self.seconds = []
        lock = self._lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    with lock:
                        times.append(p.durationMs["triggerExecution"] / 1000.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def wait_for(self, n: int, timeout: float = 30.0) -> None:
        """Progress events arrive asynchronously: wait until ``n`` are in."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.seconds) >= n:
                    return
            time.sleep(0.02)
        raise TimeoutError(f"{len(self.seconds)} of {n} micro-batch progress events")


class Session:
    """The program under test: a Spark session and a ``KGPipeline``."""

    def __init__(self):
        self.spark = None
        self.pipe = None
        self.base = None  # kg_stream: the compacted history to start from

    def setup(self, inputs: Inputs) -> None:
        from cdrc_semantic_search_spark import session
        from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

        tmp = os.environ["TMPDIR"]
        # the whole heap resident from the start: how far the JVM grows it
        # before collecting differs from run to run
        heap = os.environ["SPARK_DRIVER_MEM"]
        self.spark = session.get_spark(
            app_name="perfbench",
            parallelism=parallelism(),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.pipe = KGPipeline(self.spark, inputs.entities)

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM this process started to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = self.pipe = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


@dataclass
class Cycle:
    """Times are on ``spans.clock``."""

    build_s: float  # input turns over this give turns_per_s
    update_s: float  # input landed -> graph read back
    batches: list[float]  # commit-unit latencies
    outputs: dict  # what the checks read


def _copy_files(src_dir: str, dst_dir: str) -> None:
    os.makedirs(dst_dir, exist_ok=True)
    for f in sorted(os.listdir(src_dir)):
        shutil.copy(os.path.join(src_dir, f), os.path.join(dst_dir, f))


def build_cycle(s: Session, src: str, work: str, tracer: Tracer, batch_times) -> Cycle:
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

    shutil.rmtree(work, ignore_errors=True)
    cat = ParquetTableCatalog(os.path.join(work, "catalog"))
    transcripts = s.spark.read.parquet(src)
    t0 = clock()
    s.pipe.materialize(transcripts, cat)
    t1 = clock()
    with tracer.span("read"):
        graph = {n: cat.read_table(s.spark, n).toPandas() for n in GRAPH}
    t2 = clock()
    graph["triples"] = cat.read_table(s.spark, "triples").toPandas()
    graph["mentions"] = cat.read_table(s.spark, "mentions").toPandas()
    return Cycle(build_s=t1 - t0, update_s=t2 - t0, batches=[t1 - t0], outputs=graph)


def _stream_dirs(work: str) -> tuple[str, str, str]:
    return tuple(os.path.join(work, d) for d in ("landing", "checkpoint", "catalog"))


def _fingerprint() -> str:
    """Hash of the program's sources: a base graph is reused only by the
    code that built it."""
    import cdrc_semantic_search_spark as pkg

    h = hashlib.sha256()
    top = os.path.dirname(pkg.__file__)
    for d, _, files in sorted(os.walk(top)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def prepare_base(s: Session, inputs: Inputs, work: str, state_dir: str) -> str:
    """The compacted history graph ``kg_stream`` cycles start from: the
    stream's landing directory, checkpoint and catalog after the history
    was streamed and compacted. Built once per checkout, untimed, at the
    fixed ``work`` path the checkpoint records."""
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog
    from cdrc_semantic_search_spark.streaming.incremental import stream_triples

    # the checkpoint records absolute paths, so the key holds ``work`` too
    key = hashlib.sha256(f"{inputs.history_dir}|{work}|{_fingerprint()}".encode())
    base = os.path.join(state_dir, "bases", key.hexdigest()[:16])
    if os.path.isdir(base):
        return base
    shutil.rmtree(work, ignore_errors=True)
    landing, ckpt, catalog = _stream_dirs(work)
    _copy_files(inputs.history_dir, landing)
    cat = ParquetTableCatalog(catalog)
    stream_triples(s.spark, s.pipe, landing, cat, ckpt, with_graph=True)
    counts = s.pipe.compact_graph(cat)
    with open(os.path.join(work, "base.json"), "w") as f:
        json.dump(counts, f)
    shutil.rmtree(base + ".tmp", ignore_errors=True)
    shutil.copytree(work, base + ".tmp")
    os.replace(base + ".tmp", base)
    return base


def _batches(src: str) -> int:
    """Micro-batches a wave of the files in ``src`` takes."""
    return -(-len(os.listdir(src)) // FILES_PER_BATCH)


def _restore(s: Session, work: str):
    """The compacted history, copied into ``work``: (catalog, landing, checkpoint)."""
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(s.base, work)
    landing, ckpt, catalog = _stream_dirs(work)
    return ParquetTableCatalog(catalog), landing, ckpt


def stream_cycle(s: Session, src: str, work: str, tracer: Tracer, batch_times) -> Cycle:
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
    from cdrc_semantic_search_spark.streaming.incremental import stream_triples

    cat, landing, ckpt = _restore(s, work)
    with open(os.path.join(work, "base.json")) as f:
        base_surfaces = json.load(f)["surface_clusters"]
    seen = len(batch_times.seconds)
    _copy_files(src, landing)
    t0, wall0 = clock(), time.perf_counter()
    with tracer.span("streaming.wave"):
        stream_triples(s.spark, s.pipe, landing, cat, ckpt, with_graph=True)
    # Spark times the micro-batches on the wall clock: take out the share
    # of the wave the hypervisor stole
    unstolen = (clock() - t0) / (time.perf_counter() - wall0)
    with tracer.span("kg_pipeline.compact"):
        s.pipe.compact_graph(cat)
    t1 = clock()
    with tracer.span("read"):
        # compacted_surface_clusters would cluster the base again although
        # no delta is live; the compacted base table is the merged state
        graph = {
            "kg_edges": KGPipeline.compacted_edges(s.spark, cat).toPandas(),
            "kg_nodes": s.pipe.compacted_nodes(cat).toPandas(),
            "surface_clusters": cat.read_table(s.spark, "surface_clusters").toPandas(),
        }
    t2 = clock()
    graph["triples"] = cat.read_table(s.spark, "stream_triples").toPandas()
    graph["base_surfaces"] = base_surfaces
    batch_times.wait_for(seen + _batches(src))
    return Cycle(
        build_s=t1 - t0,
        update_s=t2 - t0,
        batches=[b * unstolen for b in batch_times.seconds[seen:]],
        outputs=graph,
    )


CYCLES = {"kg_build": build_cycle, "kg_stream": stream_cycle}


# A first use runs the first part of its workload's cycle over the warm-up
# input: the part that starts the Python workers and runs several times
# slower the first time. The rest, canonicalization's many small jobs, is
# left to the timed cycle: run first, it would add about 15 s to every run.


def build_warm_up(s: Session, src: str, work: str, batch_times) -> None:
    """``materialize`` of ``src`` up to, not including, ``surface_clusters``."""
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

    shutil.rmtree(work, ignore_errors=True)
    cat = ParquetTableCatalog(os.path.join(work, "catalog"))
    transcripts = s.spark.read.parquet(src)
    cat.create_or_replace(s.pipe.triples(transcripts), "triples")
    cat.create_or_replace(s.pipe.mentions(transcripts), "mentions")
    cat.create_or_replace(s.pipe.kg_edges(cat.read_table(s.spark, "triples")), "kg_edges")
    cat.create_or_replace(s.pipe.kg_nodes(cat.read_table(s.spark, "mentions")), "kg_nodes")


def stream_warm_up(s: Session, src: str, work: str, batch_times) -> None:
    """``src`` streamed onto the history, without the compaction."""
    from cdrc_semantic_search_spark.streaming.incremental import stream_triples

    cat, landing, ckpt = _restore(s, work)
    seen = len(batch_times.seconds)
    _copy_files(src, landing)
    stream_triples(s.spark, s.pipe, landing, cat, ckpt, with_graph=True)
    # its progress events arrive late: let none pass for a timed batch
    batch_times.wait_for(seen + _batches(src))


WARM_UPS = {"kg_build": build_warm_up, "kg_stream": stream_warm_up}


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, or the maximum when there are fewer than eleven."""
    xs = sorted(values)
    n = len(xs)
    k = n - 11 if n > 10 else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


def _timed(tracer: Tracer, name: str, fn, *args) -> float:
    """Seconds ``fn(*args)`` takes on ``spans.clock``."""
    with tracer.span(name):
        t0 = clock()
        fn(*args)
        return clock() - t0


def run(workload: Workload, seed: int, seconds: float, trace: bool, state_dir: str) -> dict:
    """One benchmark run; returns the result record (metrics and checks)."""
    tracer = Tracer(enabled=trace)
    layers.instrument(tracer)
    work = os.path.join(state_dir, "work")
    s = Session()
    cycles: list[Cycle] = []
    cycle_spans = []
    cycle_walls = []
    attempted = failed = 0
    failures: set[str] = set()
    ticks0 = cpu_ticks()
    rss = TreeRss(os.getpid())
    rss.start()
    try:
        wall0 = time.perf_counter()
        with tracer.span("inputs"):
            inputs = prepare(workload.shape, seed, state_dir)
        setup = _timed(tracer, "setup", s.setup, inputs)
        tracer.sc = s.spark.sparkContext if trace else None
        batch_times = BatchTimes()
        if workload.name == "kg_stream":
            with tracer.span("history"):
                s.base = prepare_base(s, inputs, work, state_dir)
            s.spark.streams.addListener(batch_times.listener)
        first_use = _timed(
            tracer, "first_use", WARM_UPS[workload.name], s, inputs.warm_dir, work, batch_times
        )
        cycle = CYCLES[workload.name]
        t_start = t_last = time.perf_counter()
        # another cycle starts only if one as long as the last ends in time
        while not cycles or 2 * time.perf_counter() - t_last - t_start <= seconds:
            t_last = time.perf_counter()
            with tracer.span("cycle") as span:
                c = cycle(s, inputs.input_dir, work, tracer, batch_times)
            with tracer.span("check"):
                results, counts = checks.check(workload.name, inputs, c.outputs)
            attempted += len(results)
            failed += sum(not ok for ok in results.values())
            failures.update(k for k, ok in results.items() if not ok)
            c.outputs = None
            cycles.append(c)
            counts["batches"] = len(c.batches) if workload.name == "kg_stream" else 0
            counts["batch_turns"] = inputs.turns / counts["batches"] if counts["batches"] else 0
            counts["batch_s"] = statistics.median(c.batches) if counts["batches"] else 0
            counts["update_s"] = c.update_s
            cycle_spans.append((span, counts))
            cycle_walls.append(span["end"] - span["start"])
        wall1 = time.perf_counter()
    finally:
        rss.stop()
        tracer.unpatch()
        s.shutdown()
    ticks1 = cpu_ticks()
    batches = [b for c in cycles for b in c.batches]
    tail_s, tail_pct, n = tail(batches)
    metrics = {
        "setup_s": setup + first_use,
        "turns_per_s": statistics.median(inputs.turns / c.build_s for c in cycles),
        "update_s": statistics.median(c.update_s for c in cycles),
        "peak_rss_mb": rss.peak_mb,
    }
    out = {
        "workload": workload.name,
        "seed": seed,
        "turns": inputs.turns,
        "cycles": len(cycles),
        "cycle_update_s": [c.update_s for c in cycles],
        "cycle_wall_s": cycle_walls,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "failures": sorted(failures),
        "metrics": metrics,
        "setup_only_s": setup,
        "first_use_s": first_use,
        # one commit unit per cycle: the micro-batch (kg_stream), the bulk build (kg_build)
        "batch": {"p50_s": statistics.median(batches), "tail_s": tail_s,
                  "tail_percentile": tail_pct, "n": n},
        "host": host_record(ticks0, ticks1),
    }
    if trace:
        out["per_layer"] = layers.per_layer(tracer, cycle_spans, (wall0, wall1))
        path = os.path.join(state_dir, "traces", f"{workload.name}-seed{seed}.json")
        tracer.dump(path)
        out["trace_file"] = os.path.relpath(path, os.path.dirname(state_dir))
    return out


def host_record(ticks0, ticks1) -> dict:
    import platform

    import pyarrow
    import pyspark

    return {
        "nproc": parallelism(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "steal_pct": steal_pct(ticks0, ticks1),
    }
