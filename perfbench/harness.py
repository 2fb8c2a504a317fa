"""Session lifecycle and the workloads.

A workload turns a seed into inputs (``prepare``, before anything is
timed) and then runs the ops of its fixed ``schedule``: one op is one
pipeline window with its sinks, or one pass of the datapipe calls over
the corpus. An op is a ``warmup`` (run and gated, not measured),
``measured`` (the end-to-end metrics cover it) or ``traced``. Each op
writes its outputs as parquet under its own directory; the gate reads
them back after the timed region.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

import corpus
import gate
import tracing

HOUR_S = 3600


# ------------------------------------------------------------------ session
def session_conf(work: str, event_log: bool) -> dict[str, str]:
    """Extra conf on top of the engine's default session: every path the
    JVM writes stays under the run's work dir, and traced runs keep an
    event log (untraced runs skip it — serializing every plan into the
    log is work the engine does not do in production)."""
    conf = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if event_log:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(work: str, event_log: bool = False):
    """(spark, seconds): one ``get_spark`` session start, JVM launch
    included."""
    from osm_addr_bot_spark.session import get_spark

    conf = session_conf(work, event_log)
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def jvm_peak_rss_mb() -> float:
    """VmHWM of the driver JVM, from /proc."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every descendant: its JVM and the Python workers. Time
    the host steals from the VM is not in it."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks
    return total / _TICK


def steal_s() -> float:
    """Seconds of CPU the host has stolen from this VM, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def stop_session(spark) -> None:
    """Stop Spark and the JVM behind it, and wait until it has exited,
    so the next ``get_spark`` launches a fresh JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------- pipeline
def _window_docs(world: str) -> list[tuple[int, int]]:
    """(min, max) element timestamp of every document with a parseable
    element — a doc is one changeset, validated when a window covers one
    of its elements."""
    docs = pq.read_table(f"{world}/documents.parquet", columns=["spans"]).column("spans").to_pylist()
    out = []
    for spans in docs:
        ts = []
        for s in spans:
            if s["kind"] == "text" and s["text"]:
                try:
                    ts.append(int(json.loads(s["text"])["timestamp"]))
                except (ValueError, KeyError, TypeError):
                    pass
        if ts:
            out.append((min(ts), max(ts)))
    return out


class HourlyWorkload:
    """Consecutive one-hour ``run_pipeline`` windows over a datagen
    world against one checkpoint dir with ``stage_checkpoints=True``,
    committing after the sinks so the backlog and watermark carry over.

    Both ops are measured: hour 0 is the cold window a cron invocation
    pays in a fresh JVM, hour 1 a warm one that merges hour 0's backlog.
    """

    def __init__(self, n_docs: int):
        self.n_docs = n_docs

    def params(self, seed: int) -> dict:
        return {"seed": seed, "n_docs": self.n_docs}

    def prepare(self, seed: int, work: str) -> None:
        from osm_addr_bot_spark.datagen import generate

        self.work = work
        self.world = f"{work}/world"
        generate(self.world, n_docs=self.n_docs, seed=seed, workers=1)
        self.changesets = pq.read_table(f"{self.world}/changesets.parquet")
        self.doc_spans = _window_docs(self.world)
        self._seq = 0
        self._hour = 0

    def schedule(self, trace: bool) -> list[str]:
        """Op kinds in run order. A traced run repeats hour 0 traced
        against a fresh checkpoint dir, so it is compared with hour 0."""
        return ["warmup", "traced", "traced"] if trace else ["measured", "measured"]

    def op(self, spark, out_dir: str) -> dict:
        from osm_addr_bot_spark.datagen import T0
        from osm_addr_bot_spark.pipeline import run_pipeline

        start, end = T0 + self._hour * HOUR_S, T0 + (self._hour + 1) * HOUR_S
        ckpt = f"{self.work}/ckpt-{self._seq}"

        t0 = time.perf_counter()
        out = run_pipeline(
            spark, self.world, checkpoint_dir=ckpt, start_ts=start, end_ts=end, stage_checkpoints=True
        )

        def sink(name: str) -> None:
            out[name].write.mode("overwrite").parquet(f"{out_dir}/{name}")

        # jobs/run_pipeline.py phase order: issues, then reports and
        # overlap together
        sink_t0 = time.perf_counter()
        sink("issues")
        with ThreadPoolExecutor(max_workers=2) as ex:
            list(ex.map(sink, ("reports", "overlap")))
        sink_s = time.perf_counter() - sink_t0
        out["commit"]()
        wall = time.perf_counter() - t0
        key = f"h{self._hour}"
        self._hour += 1
        return {
            "key": key,
            "wall_s": wall,
            "sink_s": sink_s,
            "docs": sum(1 for lo, hi in self.doc_spans if hi >= start and lo <= end),
            "ckpt": ckpt,
        }

    def outputs(self, out_dir: str) -> dict:
        return {n: pq.read_table(f"{out_dir}/{n}") for n in ("issues", "reports", "overlap")}

    def check(self, key: str, out: dict) -> list[str]:
        return gate.pipeline_invariants(out, self.changesets)

    def before_traced(self, tracer) -> None:
        """Begin a new checkpoint sequence at hour 0."""
        self._seq += 1
        self._hour = 0
        tracing.install_pipeline(tracer)

    def after_traced(self, tracer) -> None:
        pass


# ------------------------------------------------------------------ corpus
CORPUS_CALLS = ("keep", "simhash_pairs", "ngram", "winnow_pairs")
LSH_THRESHOLD = 0.5  # the Jaccard the 2x4 banding is tuned to catch


class CorpusWorkload:
    """One pass = the datapipe calls below over the seeded corpus, each
    written to its own sink. Parameters match the DuckDB oracle queries
    of ``__spark_entry__`` except ``ngram_jaccard_pairs``, which keeps
    its default ``max_df``.

    The first pass, over a small corpus from the same seed, is a
    warm-up: it takes the JVM's class loading, codegen and most of its
    JIT, which no datapipe change can move. The two measured passes
    after it run over the full corpus.
    """

    warmup_docs = 100

    def __init__(self, n_docs: int):
        self.n_docs = n_docs

    def params(self, seed: int) -> dict:
        return {"seed": seed, "n_docs": self.n_docs}

    def prepare(self, seed: int, work: str) -> None:
        self.tables = {"warmup": corpus.generate(seed, self.warmup_docs), "pass": corpus.generate(seed, self.n_docs)}
        self.paths = {}
        for key, table in self.tables.items():
            self.paths[key] = f"{work}/corpus-{key}.parquet"
            pq.write_table(table, self.paths[key])
        self._ops = 0

    def op(self, spark, out_dir: str) -> dict:
        from osm_addr_bot_spark.datapipe import dedup as dd
        from osm_addr_bot_spark.datapipe import recipes as rcp
        from osm_addr_bot_spark.datapipe import text as tx

        key = "pass" if self._ops else "warmup"
        self._ops += 1
        t0 = time.perf_counter()
        docs = spark.read.parquet(self.paths[key])
        calls = {
            "keep": lambda: rcp.corpus_dedup_keep(
                docs, num_hashes=8, bands=2, rows_per_band=4, fraction=0.5
            ),
            "simhash_pairs": lambda: dd.simhash_near_pairs(dd.simhash(docs), max_hamming=10, bands=8),
            "ngram": lambda: dd.ngram_jaccard_pairs(docs, threshold=0.2),
            "winnow_pairs": lambda: tx.winnow_overlap_pairs(docs, min_shared=2, k=5, window=4, max_df=10),
        }
        sink_s = 0.0
        for name in CORPUS_CALLS:
            df = calls[name]()
            s0 = time.perf_counter()
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
            sink_s += time.perf_counter() - s0
        docs_n = self.tables[key].num_rows
        return {"key": key, "wall_s": time.perf_counter() - t0, "sink_s": sink_s, "docs": docs_n}

    def outputs(self, out_dir: str) -> dict:
        return {n: pq.read_table(f"{out_dir}/{n}") for n in CORPUS_CALLS}

    def check(self, key: str, out: dict) -> list[str]:
        return gate.corpus_oracle(self.tables[key], out)

    def schedule(self, trace: bool) -> list[str]:
        """A traced run's untraced pass over the full corpus is the
        reference the traced pass must match."""
        return ["warmup", "warmup", "traced"] if trace else ["warmup", "measured", "measured"]

    def before_traced(self, tracer) -> None:
        tracing.install_corpus(tracer)

    def after_traced(self, tracer) -> None:
        """LSH precision: the share of banded candidates whose exact
        3-shingle Jaccard clears ``LSH_THRESHOLD`` (checked here, after
        the timed op)."""
        lsh = tracer.frames.pop("datapipe.dedup.lsh", None)
        if lsh is None:
            return
        table = self.tables["pass"]
        text = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
        with tracer.described("perfbench.check"):
            pairs = lsh.collect()
        for a, b in pairs:
            sa, sb = corpus.shingles(text[a]), corpus.shingles(text[b])
            tracer.add("datapipe.dedup.lsh.checked", 1)
            tracer.add("datapipe.dedup.lsh.true", len(sa & sb) / len(sa | sb) >= LSH_THRESHOLD)


WORKLOADS = {
    "incremental_hourly": lambda: HourlyWorkload(n_docs=1000),
    "corpus_dedup": lambda: CorpusWorkload(n_docs=corpus.N_DOCS),
}


def dir_mb(path: str | None) -> float:
    if not path or not os.path.isdir(path):
        return 0.0
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1 << 20)
