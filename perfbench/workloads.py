"""The benchmark's workloads.

Each workload drives the engine from outside: query functions from
``sparsity_spark.queries.QUERIES`` and the public functions of the
operator and streaming modules. A pass runs every op of the workload
once, one at a time, in an order the seed picks; ops are never repeated
back to back. Between ops the run drops cached blocks and asks the JVM
for a full GC, untimed, as ``bench.py`` does: without it, cached blocks
shrink execution memory and later ops spill, and heavy plans repeated in
one JVM get slower run over run.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from perfbench import gen, stats
from perfbench.trace import Tracer

# the reference's surface: events one-hot + group-by-sum, one-hot cells,
# aligned join and add, range slicing and the parquet round trip
FRAME_OPS = [
    "a1_onehot_groupby_sum",
    "r1_one_hot_cells",
    "j1_join_outer",
    "j5_add_halves",
    "p4_loc_range",
    "s2_parquet_roundtrip",
]
# weighted PageRank over the customer-supplier graph: an iterative loop
# that builds its own edges, so set-up needs no shared edge store
GRAPH_OPS = ["graph_pagerank_weighted"]
STREAM_BATCHES = 2  # micro-batches per timed pass
STREAM_SCHEMA = "doc_id long, text string"


@dataclass
class PassResult:
    wall_s: float
    op_s: list[float]
    attempted: int
    failed: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    steal_s: float = 0.0  # the machine's CPU steal during the pass


@dataclass
class Context:
    """What a workload needs besides the Spark session."""

    sf_dir: str
    work_dir: str
    tracer: Tracer
    stream_dirs: list[str] = field(default_factory=list)
    provenance: dict = field(default_factory=dict)


def _hygiene(spark) -> None:
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def _sink(ctx: Context, df) -> None:
    with ctx.tracer.span("sink", "noop"):
        df.write.format("noop").mode("overwrite").save()


def _load_check_oracles(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(root, "tools", "check_oracles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare_frames(got, want, normalize, dtype_kinds) -> str | None:
    """The strict oracle comparison of ``tools/check_oracles.py``: row
    count, column names, int/float kind per column, then every cell as a
    raw string. Returns a reason on mismatch, else ``None``."""
    g, w = normalize(got, strict=True), normalize(want, strict=True)
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    if list(g.columns) != list(w.columns):
        return f"cols {list(g.columns)} != {list(w.columns)}"
    gk, wk = dtype_kinds(got), dtype_kinds(want)
    drift = [c for c in got.columns if {gk[c], wk[c]} == {"int", "float"}]
    if drift:
        return f"int/float kind differs in {drift}"
    if not g.equals(w):
        bad = [c for c in g.columns if (g[c] != w[c]).any()]
        return f"{int((g != w).any(axis=1).sum())} rows differ in {bad}"
    return None


class QueryWorkload:
    """A pass runs each named query to the noop sink."""

    ops: list[str] = []
    sf = 0.01  # input scale (see gen.py)
    # two passes: over 51 runs a third made neither summary steadier
    # (pass_s IQR/median 0.13 with three, 0.12 with two), because runs
    # differ by the host's speed more than a run's passes do
    min_passes = 2
    trace_pairs = 2  # untraced/traced pass pairs of a traced run

    def __init__(self, root: str):
        self.root = root

    def prepare(self, ctx: Context, seed: int) -> None:
        """Inputs beyond the generated tables; none for query workloads."""

    def setup(self, spark, ctx: Context) -> None:
        """Builds that belong to set-up rather than to the first pass."""

    def run_op(self, spark, ctx: Context, name: str) -> float:
        from sparsity_spark.queries import QUERIES

        t0 = time.perf_counter()
        with ctx.tracer.span("queries", name):
            df = QUERIES[name](spark, ctx.sf_dir)
        _sink(ctx, df)
        return time.perf_counter() - t0

    def timed_pass(self, spark, ctx: Context, rng: random.Random) -> PassResult:
        order = list(self.ops)
        rng.shuffle(order)
        res = PassResult(0.0, [], 0)
        for name in order:
            res.attempted += 1
            try:
                dt = self.run_op(spark, ctx, name)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                res.failed.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            else:
                res.op_s.append(dt)
                res.wall_s += dt
                res.extra[name] = dt
            _hygiene(spark)
        return res

    def op_medians(self, passes: list[PassResult]) -> dict[str, float]:
        """Each op's median time over the timed passes."""
        return {
            name: stats.median([r.extra[name] for r in passes if name in r.extra])
            for name in self.ops
            if any(name in r.extra for r in passes)
        }

    def pass_seconds(self, passes: list[PassResult]) -> float:
        """pass_s: the time of one pass, op by op: the sum of the op medians."""
        return sum(self.op_medians(passes).values())

    def op_p50(self, passes: list[PassResult]) -> float:
        """op_s.p50: the median of all op samples."""
        return stats.median([x for r in passes for x in r.op_s])

    def op_gmean(self, passes: list[PassResult]) -> float:
        """op_s.gmean: the geometric mean of the op medians. Each op weighs
        the same, and a change of x% to one op's time moves it by the same
        share whatever that op's size."""
        return stats.gmean(list(self.op_medians(passes).values()))

    def warmup(self, spark, ctx: Context) -> PassResult:
        """Untimed: the output check, which runs every op once, so the
        timed passes run on compiled plans and a warming JIT."""
        return self.check(spark, ctx)

    def final_check(self, spark, ctx: Context) -> PassResult:
        """Nothing left: the outputs were checked in the warm-up."""
        return PassResult(0.0, [], 0)

    def check(self, spark, ctx: Context) -> PassResult:
        """Every op's output, collected, against its DuckDB oracle with the
        strict comparison. One op at a time; nothing of it is timed."""
        import duckdb

        from sparsity_spark.data import TABLES
        from sparsity_spark.queries import ORACLES, QUERIES

        co = _load_check_oracles(self.root)
        res = PassResult(0.0, [], 0)
        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.sf_dir}/{t}.parquet')"
                )
            for name in self.ops:
                res.attempted += 1
                try:
                    got = QUERIES[name](spark, ctx.sf_dir).toPandas()
                    want = con.execute(ORACLES[name]).fetchdf()
                    reason = compare_frames(got, want, co.normalize, co.dtype_kinds)
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    reason = f"{type(e).__name__}: {str(e)[:200]}"
                if reason:
                    res.failed.append(f"{name}: {reason}")
                _hygiene(spark)
        return res


class FrameGraph(QueryWorkload):
    name = "frame_graph"
    ops = FRAME_OPS + GRAPH_OPS


class StoreStream:
    """Backfill a near-duplicate cluster store from 90% of the corpus
    (band store, LSH pairs, clustering, cluster store), then fold the
    held-out 10% in through the streaming cluster maintainer, one parquet
    file per micro-batch, and read the resolved store back."""

    name = "store_stream"
    band_table = "pb_band_store"
    cluster_table = "pb_cluster_store"
    # the sf0.1 corpus: 5,000 documents, about a quarter of them merged
    # into near-duplicate clusters (at sf0.01 only a tenth are)
    sf = 0.1
    min_passes = 1
    # one pair (U T): two would take a traced run past 150 s under host
    # contention, too near the 180 s a run may take
    trace_pairs = 1

    def __init__(self, root: str):
        self.root = root
        self._drains = 0

    def prepare(self, ctx: Context, seed: int) -> None:
        """Split the held-out documents into STREAM_BATCHES files (``seed``
        picks each document's batch); the warm-up streams a copy of the
        first."""
        stream, warm = (os.path.join(ctx.work_dir, d) for d in ("stream", "stream_warmup"))
        files = gen.split_stream(
            os.path.join(ctx.sf_dir, "documents.parquet"), stream, seed, STREAM_BATCHES
        )
        os.makedirs(warm)
        shutil.copy(files[0], warm)
        ctx.stream_dirs = [warm, stream]

    def setup(self, spark, ctx: Context) -> None:
        """Nothing beyond the session: the stores are built by each pass."""

    def _corpus(self, spark, ctx: Context):
        from pyspark.sql import functions as F

        from sparsity_spark.data import load_table

        docs = load_table(spark, ctx.sf_dir, "documents").select("doc_id", "text")
        return docs.filter(F.col("doc_id") % 10 != 0)

    def pass_seconds(self, passes: list[PassResult]) -> float:
        """pass_s: the median wall time of a timed pass."""
        return stats.median([r.wall_s for r in passes])

    def op_p50(self, passes: list[PassResult]) -> float:
        """op_s.p50: the median micro-batch time."""
        return stats.median([x for r in passes for x in r.op_s])

    def op_gmean(self, passes: list[PassResult]) -> float:
        """op_s.gmean: the geometric mean of the micro-batch times."""
        return stats.gmean([x for r in passes for x in r.op_s])

    def warmup(self, spark, ctx: Context) -> PassResult:
        """Untimed: a pass as the timed ones run it, with one micro-batch,
        so the timed passes run on compiled plans."""
        return self._pass(spark, ctx, ctx.stream_dirs[0], 1)

    def timed_pass(self, spark, ctx: Context, rng: random.Random) -> PassResult:
        return self._pass(spark, ctx, ctx.stream_dirs[1], STREAM_BATCHES)

    def _pass(self, spark, ctx: Context, stream_dir: str, batches: int) -> PassResult:
        from sparsity_spark.operators import dedup
        from sparsity_spark.streaming import ingest

        corpus = self._corpus(spark, ctx)
        res = PassResult(0.0, [], 1 + batches + 1)
        t0 = time.perf_counter()
        dedup.write_band_store(corpus, self.band_table)
        labels = dedup.duplicate_clusters(dedup.lsh_candidate_pairs(corpus), corpus)
        dedup.write_cluster_store(labels, self.cluster_table)
        t1 = time.perf_counter()
        self._drains += 1
        stream = (
            spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        with ctx.tracer.span("streaming.ingest", "drain"):
            q = (
                ingest.streaming_cluster_maintain(stream, self.band_table, self.cluster_table)
                .trigger(availableNow=True)
                .option("checkpointLocation", os.path.join(ctx.work_dir, f"ckpt_{self._drains}"))
                .start()
            )
            q.awaitTermination(120)
        err = q.exception()
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        if err is not None or len(progress) != batches:
            q.stop()
            res.failed.append(f"stream: {len(progress)}/{batches} batches, error {err}")
        _sink(ctx, dedup.resolve_cluster_store(spark, self.cluster_table))
        res.wall_s = time.perf_counter() - t0
        res.op_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        res.extra = {
            "backfill_s": t1 - t0,
            **{
                k: sum(p["durationMs"].get(key, 0) for p in progress) / 1000.0
                for k, key in (
                    ("add_batch_s", "addBatch"),
                    ("query_planning_s", "queryPlanning"),
                    ("wal_commit_s", "walCommit"),
                )
            },
        }
        _hygiene(spark)
        return res

    def final_check(self, spark, ctx: Context) -> PassResult:
        """Untimed, after the last pass: the resolved store against a
        from-scratch clustering of the corpus plus every streamed document."""
        from sparsity_spark.operators import dedup

        res = PassResult(0.0, [], 1)
        try:
            delivered = spark.read.schema(STREAM_SCHEMA).parquet(ctx.stream_dirs[1])
            docs = self._corpus(spark, ctx).unionByName(delivered)
            scratch = {
                r["doc_id"]: r["cluster_id"]
                for r in dedup.duplicate_clusters(dedup.lsh_candidate_pairs(docs), docs).collect()
            }
            kept = {
                r["doc_id"]: r["cluster_id"]
                for r in dedup.resolve_cluster_store(spark, self.cluster_table).collect()
            }
            if kept != scratch:
                diff = sum(1 for k in scratch.keys() | kept.keys() if scratch.get(k) != kept.get(k))
                res.failed.append(f"cluster store: {diff} docs differ from a from-scratch closure")
            ctx.provenance["store_docs"] = len(kept)
            ctx.provenance["store_clusters"] = len(set(kept.values()))
        except Exception as e:  # noqa: BLE001 - a failed check is counted, not fatal
            res.failed.append(f"cluster store check: {type(e).__name__}: {str(e)[:200]}")
        _hygiene(spark)
        return res


WORKLOADS = {w.name: w for w in (FrameGraph, StoreStream)}
