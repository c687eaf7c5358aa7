"""The benchmark workloads.

Each workload is a closed loop with one caller: it builds its inputs from
the seed (``setup``), runs its operation untimed (``warmup``), runs it a
number of times sized from the run's seconds (``measure``), and then
checks its outputs against a DuckDB oracle outside the timed region
(``check``). README.md in this directory says why each one exists and
which layer metrics it is expected to move.

Every workload reports the same end-to-end figures, each with a
workload-specific meaning (see ``Result``).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark import parity
from arango_etl_spark.operators import merge_into
from arango_etl_spark.oracle import assert_states_equal, reduce_events_duckdb
from arango_etl_spark.plans.lakehouse import SnapshotTable
from arango_etl_spark.sources import cdc_generator
from arango_etl_spark.sources.cdc_generator import GeneratorConfig
from arango_etl_spark.streaming import runner
from arango_etl_spark.streaming.lineage import LineageLog

from perfbench.tracing import ProgressListener, Tracer
from scripts import check_oracles

PAYLOAD_SCHEMA = T.StructType(
    [f for f in runner.EVENT_SCHEMA.fields if f.name not in merge_into.CDC_META]
)


@dataclass
class Context:
    spark: object
    tracer: Tracer
    listener: ProgressListener
    work: str
    seed: int
    scale: str = "full"


@dataclass
class Result:
    """What one timed window produced.

    ``op_ms`` holds one sample per unit call (a stream epoch, an operator
    pass) and ``read_ms`` one per full read of the workload's tables.
    ``ops`` counts the workload's unit operations (epochs, operator
    passes); per-layer counts are normalised by it.
    """

    rows_per_s: float = 0.0
    op_ms: list[float] = field(default_factory=list)
    read_ms: list[float] = field(default_factory=list)
    stored_bytes: int = 0
    ops: int = 0
    attempted: int = 0
    failed: int = 0
    window: tuple[float, float] = (0.0, 0.0)
    events_applied: int = 0        # events handed to apply_changes in the window
    epochs: list[dict] = field(default_factory=list)  # stream progress reports

    def e2e(self) -> dict[str, float]:
        return {
            "rows_per_s": self.rows_per_s,
            "op_ms_p50": statistics.median(self.op_ms),
            "read_ms_p50": statistics.median(self.read_ms),
            "stored_mb": self.stored_bytes / 1e6,
        }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def _parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def write_feed(spark, cfg: GeneratorConfig, out_dir: str) -> list[str]:
    """Generate the change-event log and write it in one job, one parquet
    file per batch under ``part=<batch_id>`` (the rows keep ``batch_id``).
    Returns the batch directories in batch order."""
    events = cdc_generator.generate_events(spark, cfg).withColumn("part", F.col("batch_id"))
    events.repartition(cfg.n_batches, "part").write.partitionBy("part").parquet(out_dir)
    return [os.path.join(out_dir, f"part={b}") for b in range(cfg.n_batches)
            if os.path.isdir(os.path.join(out_dir, f"part={b}"))]


def _timed_ms(fn, *args, **kwargs) -> tuple[object, float]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, (time.perf_counter() - t0) * 1000


def _full_read(ctx: Context, table: SnapshotTable) -> float:
    """Read the whole table state into a noop sink; return milliseconds."""
    t0 = time.perf_counter()
    with ctx.tracer.span("lakehouse.read"):
        table.read(ctx.spark).write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t0) * 1000


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Workload:
    name = ""
    sizes: dict[str, dict] = {}
    # nominal seconds of one unit operation on the 4-core reference host:
    # a run does round(seconds / op_seconds) operations (at least one), so
    # its work is fixed for a given --seconds and does not shrink or grow
    # with the host's speed
    op_seconds = 1.0

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.p = self.sizes[ctx.scale]
        self.generate_s = 0.0  # seconds spent writing the generator's feed

    def n_ops(self, seconds: float) -> int:
        return max(1, round(seconds / self.op_seconds))

    def setup(self) -> None:
        """Build the run's inputs from the seed."""
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> Result:
        raise NotImplementedError

    def check(self, res: Result) -> None:
        """Count each output that differs from its oracle in ``res.failed``."""
        raise NotImplementedError


class StreamTail(Workload):
    """``current`` mode catching up on a backlog of small batch files."""

    name = "stream_tail"
    sizes = {
        # 10 epochs: the default compact_every=8 folds the table once (at
        # epoch 9), so one auto-compaction lands in every drain
        "full": dict(n_batches=10, per_batch=1_000, n_docs=4_000, n_buckets=16),
        "tiny": dict(n_batches=3, per_batch=100, n_docs=80, n_buckets=4),
    }
    full_reads = 6  # after each drain
    op_seconds = 10.0  # one warm drain

    def setup(self) -> None:
        p = self.p
        self.feed = os.path.join(self.ctx.work, "feed")
        t0 = time.perf_counter()
        self.batches = write_feed(self.ctx.spark, GeneratorConfig(
            n_events=p["n_batches"] * p["per_batch"], n_docs=p["n_docs"],
            n_batches=p["n_batches"], seed=self.ctx.seed,
        ), self.feed)
        self.generate_s = time.perf_counter() - t0
        self.n_events = _parquet_rows(self.feed)

    def _drain(self, tag: str, feed: str) -> SnapshotTable:
        base = os.path.join(self.ctx.work, tag)
        table = SnapshotTable.create(
            os.path.join(base, "table"), PAYLOAD_SCHEMA, n_buckets=self.p["n_buckets"]
        )
        runner.run_ingest(
            self.ctx.spark, feed, table, os.path.join(base, "ckpt"),
            lineage=LineageLog(os.path.join(base, "lineage")),
            cfg=runner.IngestConfig(max_files_per_trigger=1),
        )
        return table

    def warmup(self) -> None:
        # epochs run at about half speed over the first ten of a process,
        # while the JVM compiles the driver's planning paths, and keep
        # getting a little faster for a few drains more
        table = self._drain("warm", self.feed)
        for _ in range(self.full_reads):
            _full_read(self.ctx, table)

    def measure(self, seconds: float) -> Result:
        res = Result()
        rates = []
        self.drains = self.n_ops(seconds)
        start = time.perf_counter()
        for i in range(self.drains):
            mark = self.ctx.listener.mark()
            self.table, ms = _timed_ms(self._drain, f"drain-{i}", self.feed)
            rates.append(self.n_events / (ms / 1000))
            epochs = self.ctx.listener.epochs_of_next_query(mark)
            res.epochs.extend(epochs)
            res.op_ms.extend(e["duration_ms"]["triggerExecution"] for e in epochs)
            res.events_applied += sum(e["rows"] for e in epochs)
            for _ in range(self.full_reads):
                res.read_ms.append(_full_read(self.ctx, self.table))
        res.window = (start, time.perf_counter())
        res.ops = len(res.op_ms)
        res.attempted = res.ops + len(res.read_ms)
        res.rows_per_s = statistics.median(rates)
        res.stored_bytes = _dir_bytes(self.table.root)
        return res

    def check(self, res: Result) -> None:
        # max_files_per_trigger=1 and one file per batch: one epoch per
        # batch, counted from each drain's own progress reports
        if res.ops != len(self.batches) * self.drains:
            log(f"{res.ops} epochs over {self.drains} drains")
            res.failed += 1
        # the final table against the DuckDB LWW reduction of the whole feed
        try:
            assert_states_equal(
                self.table.read(self.ctx.spark).toPandas(),
                reduce_events_duckdb(f"{self.feed}/part=*/*.parquet"),
            )
        except AssertionError as e:
            log(f"oracle mismatch: {str(e)[:300]}")
            res.failed += 1


WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark data window order column join small line customer query "
         "filter group big vector lake sink").split()


def write_corpus(out: str, seed: int, n_docs: int, n_vecs: int,
                 dim: int = 64, n_labels: int = 10) -> None:
    """Write seeded ``documents`` and ``embeddings`` tables with the columns
    the ``parity`` legs read. Texts are words from a small vocabulary, cut
    at a random length. Embeddings are unit vectors around ``n_labels``
    random centres, labelled by centre."""
    rng = np.random.default_rng(seed)
    os.makedirs(out)
    texts = [" ".join(rng.choice(WORDS, n // 3 + 2))[:n]
             for n in rng.integers(44, 578, n_docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    centres = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))


class OperatorQueries(Workload):
    """Fixed ``parity`` legs over a seeded corpus, each result collected to
    the Python process. The unit operation is one pass over the legs."""

    name = "operator_queries"
    # the sf0.1 shape of the two tables the legs read
    sizes = {
        "full": dict(n_docs=5_000, n_vecs=2_000),
        "tiny": dict(n_docs=200, n_vecs=100),
    }
    # leg -> the corpus table it reads
    legs = {
        "cms_token_counts": "documents",
        "pq_topk_multi": "embeddings",
    }
    full_reads = 4  # per pass, alternating between the two tables
    warm_passes = 1  # the first pass of a process takes about three times as long
    op_seconds = 4.0  # one warm pass

    def setup(self) -> None:
        self.feed = os.path.join(self.ctx.work, "corpus")
        write_corpus(self.feed, self.ctx.seed, self.p["n_docs"], self.p["n_vecs"])
        self.table_rows = {"documents": self.p["n_docs"], "embeddings": self.p["n_vecs"]}

    def _pass(self, res: Result) -> float:
        """Run every leg once, then scan the corpus; return the seconds the
        legs took."""
        spark, queries = self.ctx.spark, parity.queries()
        t0 = time.perf_counter()
        for leg in self.legs:
            with self.ctx.tracer.span(f"operators.{leg}"):
                df = queries[leg](spark, self.feed)
                self.results[leg] = (df.columns, [tuple(r) for r in df.collect()])
        took = time.perf_counter() - t0
        res.op_ms.append(took * 1000)
        for i in range(self.full_reads):
            table = ("documents", "embeddings")[i % 2]
            t0 = time.perf_counter()
            with self.ctx.tracer.span("corpus.read"):
                spark.read.parquet(os.path.join(self.feed, f"{table}.parquet")) \
                    .write.format("noop").mode("overwrite").save()
            res.read_ms.append((time.perf_counter() - t0) * 1000)
        return took

    def warmup(self) -> None:
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        for _ in range(self.warm_passes):
            self._pass(Result())

    def measure(self, seconds: float) -> Result:
        res = Result()
        rows_read = sum(self.table_rows[t] for t in self.legs.values())
        rates = []
        start = time.perf_counter()
        for _ in range(self.n_ops(seconds)):
            rates.append(rows_read / self._pass(res))
            res.ops += 1
        res.window = (start, time.perf_counter())
        res.attempted = res.ops * len(self.legs) + len(res.read_ms)
        res.rows_per_s = statistics.median(rates)
        res.stored_bytes = _dir_bytes(self.feed)
        return res

    def check(self, res: Result) -> None:
        """Count a failure per leg whose last collected rows differ from its
        registered DuckDB oracle, compared as ``scripts/check_oracles.py``
        compares them."""
        con = duckdb.connect()
        for table in self.table_rows:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{os.path.join(self.feed, table)}.parquet'")
        oracles = parity.oracle_sql()
        for leg, (cols, rows) in self.results.items():
            got = con.execute(oracles[leg])
            ocols = [d[0] for d in got.description]
            if sorted(cols) != sorted(ocols) or _normal_rows(cols, rows) != _normal_rows(
                    ocols, got.fetchall()):
                log(f"oracle mismatch: {leg}")
                res.failed += 1


def _normal_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns in name order and values normalised, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(check_oracles._norm(r[i]) for i in order) for r in rows)


WORKLOADS = {w.name: w for w in (StreamTail, OperatorQueries)}
