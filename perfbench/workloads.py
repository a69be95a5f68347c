"""The three workloads, each driving the engine only through its public
functions.

Every workload has a ``prepare`` step (generate inputs and load them),
which the harness repeats to time set-up, untimed warm-up operations
until the JVM has compiled the hot paths, and an ``op`` that the
harness calls in a closed loop: one client, and the next operation
starts when the previous one returned. An op times only the engine
calls; input generation and result checks happen outside that
interval.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from openweathermapapi_etl_spark.catalog import register_views
from openweathermapapi_etl_spark.operators.cluster import dedup_clusters
from openweathermapapi_etl_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signature,
)
from openweathermapapi_etl_spark.operators.merge import VersionedParquetTable
from openweathermapapi_etl_spark.operators.similarity import cosine_topk_ivf
from openweathermapapi_etl_spark.operators.text import tokens, word_shingles
from openweathermapapi_etl_spark.pipeline.weather import transform_raw
from openweathermapapi_etl_spark.plans import ORACLES, QUERIES
from openweathermapapi_etl_spark.schemas import WEATHER_RAW
from openweathermapapi_etl_spark.streaming.source import make_batch_processor

from . import gen, oracle
from .stats import median
from .trace import NullTracer, new_files, storage_counts, tree_files

#: Curation gates: recall of planted near-duplicate pairs (both ends in
#: one output cluster) and of planted IVF neighbours (in the query's
#: top-k) may not fall below these. BENCHMARK.json repeats them in the
#: workload's reason. Near-duplicate recall measured 0.96-1.0 over 30
#: seeds (a few planted pairs near Jaccard 0.7 miss every band); the
#: floor leaves room for that and still fails a broken LSH stage.
NEAR_RECALL_FLOOR = 0.8
IVF_RECALL_FLOOR = 0.9
#: A candidate pair is a verified near duplicate at this exact
#: 3-shingle Jaccard or above.
VERIFY_JACCARD = 0.5
MINHASH_K = 16
LSH_BAND = 2
IVF_K = 5
#: The two registered relational plans in the query mix.
PLANS = ("flagship_q3", "b16_groupby_agg")

NULL = NullTracer()


@dataclass(frozen=True)
class Size:
    """Input sizes. ``full`` is what the benchmark measures; ``tiny``
    exists for the smoke tests."""

    n_cities: int  # documents per tick, plus ~3% alias queries
    hist_steps: int  # history rows = n_cities * hist_steps
    n_orders: int  # TPC-H orders rows; lineitem has ~4 per order
    n_docs: int  # curation text documents
    n_vecs: int  # curation 64-dim embeddings


SIZES = {
    "full": Size(2000, 20, 10_000, 400, 800),
    "tiny": Size(60, 5, 2000, 300, 400),
}


@dataclass
class Op:
    latency_s: float
    ok: bool
    traced: bool
    cpu_s: float = float("nan")  # CPU time of driver + JVM (see cpu_clock), same interval
    # Work the whole op call caused, set by the harness: Spark jobs and
    # completed tasks, and MiB the JVM read and wrote through system calls.
    jobs: int = 0
    tasks: int = 0
    io_mb: float = float("nan")


def cpu_clock(jvm_pid: int):
    """CPU seconds (user + system) used since each started by this
    process and by the JVM, leaving out the JVM's JIT compiler threads.
    Reported beside wall time because it leaves out time the host gave
    the CPUs to other guests. The compiler threads are left out because how much they run
    in an op depends on when the JVM decides to compile, which moved an
    op's CPU time by more than a third between identical runs; the code
    they compile is measured where it runs. The harness starts the JVM
    with a fixed set of compiler threads, so none exits with its time."""
    tick = os.sysconf("SC_CLK_TCK")
    tasks = f"/proc/{jvm_pid}/task"
    compiler: dict[str, bool] = {}  # thread id -> is a JIT compiler thread
    last_proc, last_jit = 0, {}  # counted from the JVM's start
    jvm_total = 0.0

    def ticks(stat_path: str) -> int:
        with open(stat_path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])

    def clock() -> float:
        nonlocal last_proc, last_jit, jvm_total
        # The process figure keeps the time of threads that have ended;
        # a compiler thread's own figure is subtracted as it grows.
        proc = ticks(f"/proc/{jvm_pid}/stat")
        jit = {}
        for tid in os.listdir(tasks):
            try:
                if tid not in compiler:
                    with open(f"{tasks}/{tid}/comm") as fh:
                        compiler[tid] = "CompilerThre" in fh.read()
                if compiler[tid]:
                    jit[tid] = ticks(f"{tasks}/{tid}/stat")
            except OSError:
                continue  # the thread ended
        grown = sum(v - last_jit.get(tid, 0) for tid, v in jit.items())
        jvm_total += (proc - last_proc - grown) / tick
        last_proc, last_jit = proc, jit
        t = os.times()
        return t.user + t.system + jvm_total

    return clock


class Workload:
    name = ""
    #: untimed operations before measuring; the first op of a fresh JVM
    #: is several times slower than the steady state.
    warm_ops = 1

    def __init__(self, spark, work: str, size: Size, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.size = size
        self.seed = seed
        self.tracer = tracer
        self.tr = NULL  # the tracer of the op in progress
        self.cpu = cpu_clock(spark.sparkContext._gateway.proc.pid)
        self.op_id = "setup"
        #: one dict of counts per traced op, for the per-layer report
        self.layer_samples: list[dict[str, float]] = []
        #: human-readable description of each failed check
        self.errors: list[str] = []

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def wrap(self, obj, method: str, span: str, group: str | None = None) -> None:
        """Traced runs only: open a span (and a Spark job group) around
        every call of ``obj.method`` made by the engine."""
        orig = getattr(obj, method)

        def wrapped(*a, **kw):
            g = f"{self.op_id}.{group}" if group else None
            with self.tr.span(span, op=self.op_id, group=g):
                return orig(*a, **kw)

        setattr(obj, method, wrapped)

    def warm_up(self) -> list[Op]:
        """Untimed ops; they are checked like the measured ones."""
        return [self.op(NULL, traced=False) for _ in range(self.warm_ops)]

    def report(self) -> dict[str, str]:
        """Extra human-readable facts for the run's report."""
        return {}


# ---------------------------------------------------------------------------
# ingest_upsert
# ---------------------------------------------------------------------------


class IngestUpsert(Workload):
    """Micro-batch ticks through the foreachBatch processor into the
    versioned table. One op is one tick, timed from handing the tick to
    the processor until the commit returns."""

    name = "ingest_upsert"
    warm_ops = 2  # tick latency still falls noticeably after the first

    def prepare(self, rep: int) -> None:
        self.world = gen.make_world(self.seed, self.size.n_cities, self.size.hist_steps)
        hist = gen.history_table(self.world)
        src = os.path.join(self.fresh_dir(f"input{rep}"), "history.parquet")
        pq.write_table(hist, src)
        self.root = os.path.join(self.fresh_dir(f"tables{rep}"), "weather")
        self.table = VersionedParquetTable(self.root)
        self.table.overwrite(self.spark.read.parquet(src))
        self.fold = oracle.WeatherFold(hist)
        self.tick_no = 0
        self.rows_changed = 0
        self.docs: dict[str, dict] = {}
        self.processor = make_batch_processor(
            self.spark, self.docs.__getitem__, self.table, self.world.queries
        )
        if self.tracer.enabled:
            self.wrap(self.table, "upsert", "merge.upsert", group="merge")
            self.wrap(self.table, "read", "merge.read")
            self.wrap(self.table, "overwrite", "merge.overwrite")

    def op(self, tr, traced: bool) -> Op:
        return self.commit_tick(tr, traced)

    def commit_tick(self, tr, traced: bool) -> Op:
        k = self.tick_no
        self.tick_no += 1
        self.op_id, self.tr = f"t{k}", tr
        self.docs.clear()
        self.docs.update(gen.tick_docs(self.world, k))
        expected = self.fold.apply(self.docs.values())
        self.rows_changed += expected["inserted"] + expected["updated"]
        before = tree_files(self.root) if traced else None
        c0, t0 = self.cpu(), time.perf_counter()
        with tr.span("streaming.batch", op=self.op_id):
            self.processor(None, k)
        latency, cpu = time.perf_counter() - t0, self.cpu() - c0
        if traced:
            self.trace_tick(tr, expected, before)
        self.tr = NULL
        return Op(latency, True, traced, cpu)

    def trace_tick(self, tr, expected: dict, before: dict) -> None:
        jobs = tr.group_counts(f"{self.op_id}.merge")
        written = new_files(before, tree_files(self.root))
        rows_written = sum(
            pq.read_metadata(p).num_rows for p in written if p.endswith(".parquet")
        )
        docs = list(self.docs.values())
        # The processor's front half on its own: parse, transform_raw,
        # DISTINCT, forced to the noop sink.
        raw = self.spark.createDataFrame([(json.dumps(d),) for d in docs], "value string")
        staged = transform_raw(
            raw.select(F.from_json("value", WEATHER_RAW).alias("d")).select("d.*")
        ).distinct()
        with tr.span("pipeline.stage", op=self.op_id):
            staged.write.format("noop").mode("overwrite").save()
        sample = {
            "streaming.docs_per_batch": len(docs),
            "pipeline.rows_in": len(docs),
            "pipeline.rows_out": staged.count(),
            "merge.spark_jobs": jobs["jobs"],
            "merge.spark_stages": jobs["stages"],
            "merge.spark_tasks": jobs["tasks"],
            "merge.failed_tasks": jobs["failed_tasks"],
            "merge.bytes_written": sum(os.path.getsize(p) for p in written),
            "merge.rows_written_per_row_changed": rows_written
            / max(1, expected["inserted"] + expected["updated"]),
        }
        counts = storage_counts(self.root, self.table.current_version())
        sample.update({f"storage.{k}": v for k, v in counts.items()})
        self.layer_samples.append(sample)

    def verify(self) -> list[str]:
        """The committed table against the pure-Python fold."""
        return self.fold.mismatches(self.table.read(self.spark).toArrow())

    def report(self) -> dict[str, str]:
        return {"rows_changed": str(self.rows_changed)}


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

#: One cycle of the mix: one query of each kind; a tick commits after
#: every cycle.
MIX = ["point", "range", "rollup", "latest", "export", "flagship_q3", "b16_groupby_agg"]

SQL = {
    "point": "SELECT Time, City_Name, Weather_Description, Temperature "
             "FROM weather WHERE City_Name = '{city}' ORDER BY Time",
    "range": "SELECT City_Name, Time, Temperature FROM weather "
             "WHERE Time >= TIMESTAMP '{lo}' AND Time < TIMESTAMP '{hi}'",
    "rollup": "SELECT City_Name, CAST(Time AS DATE) AS day, COUNT(*) AS n, "
              "MIN(Temperature) AS tmin, MAX(Temperature) AS tmax, "
              "CAST(SUM(CAST(Temperature AS DECIMAL(38,6))) AS DOUBLE) AS tsum "
              "FROM weather GROUP BY City_Name, CAST(Time AS DATE)",
    "latest": "SELECT City_Name, Time, Temperature FROM (SELECT City_Name, "
              "Time, Temperature, ROW_NUMBER() OVER (PARTITION BY City_Name "
              "ORDER BY Time DESC) AS rn FROM weather) t WHERE rn = 1",
    "export": "SELECT * FROM weather ORDER BY Time, City_Name",
}
ORDERED = {"point", "export", "flagship_q3"}


def arrow_rows(t: pa.Table) -> list[tuple]:
    """Rows of an Arrow result with times as epoch microseconds and
    dates as day numbers, so Spark's and DuckDB's types compare."""
    cols = []
    for col in t.columns:
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col.cast(pa.timestamp("us", tz=col.type.tz)), pa.int64())
        elif pa.types.is_date(col.type):
            col = pc.cast(col, pa.int32())
        cols.append(col.to_pylist())
    return list(zip(*cols))


class QueryMix(IngestUpsert):
    """Read-mostly: ad-hoc SQL over the live ``weather`` view, resolved
    as the CLI ``sql`` command does, plus two registered relational
    plans; one tick commits after every cycle of the mix. One op is one
    cycle: the summed time of its queries, each timed from ``spark.sql``
    (or the plan call) until the result is in Arrow form; the first
    query after a commit also pays the view's re-resolution. The commit
    tick is timed apart, outside the op's time."""

    name = "query_mix"
    warm_ops = 1  # the gated figures count work; a warmer JIT changes none

    def prepare(self, rep: int) -> None:
        super().prepare(rep)
        self.sf_dir = self.fresh_dir(f"tpch{rep}")
        gen.write_tpch(self.sf_dir, self.seed, self.size.n_orders)
        with self.tracer.span("catalog.register"):
            register_views(self.spark, self.sf_dir)
        self.duck = duckdb.connect()
        oracle.duckdb_tables(self.duck, self.sf_dir, ["customer", "orders", "lineitem"])
        self.rng = random.Random(self.seed * 31 + 7)
        self.query_no = 0
        self.stale = True
        self.kind_latency: dict[str, list[float]] = {}
        self.tick_latency: list[float] = []

    def _sql_text(self, kind: str) -> str:
        if kind == "point":
            return SQL[kind].format(city=self.rng.choice(self.world.cities))
        if kind == "range":
            steps = self.size.hist_steps + self.tick_no
            lo = gen.T0 + self.rng.randrange(steps) * gen.STEP_S
            fmt = "%Y-%m-%d %H:%M:%S"
            return SQL[kind].format(
                lo=time.strftime(fmt, time.gmtime(lo)),
                hi=time.strftime(fmt, time.gmtime(lo + 2 * gen.STEP_S)),
            )
        return SQL[kind]

    def op(self, tr, traced: bool) -> Op:
        queries = [self.query(kind, tr, traced) for kind in MIX]
        tick = self.commit_tick(tr, traced)
        self.tick_latency.append(tick.latency_s)
        self.stale = True
        return Op(
            sum(q.latency_s for q in queries),
            all(q.ok for q in queries),
            traced,
            sum(q.cpu_s for q in queries),
        )

    def query(self, kind: str, tr, traced: bool) -> Op:
        self.query_no += 1
        qid = f"q{self.query_no}"
        self.op_id, self.tr = qid, tr
        text = None if kind in PLANS else self._sql_text(kind)
        c0, t0 = self.cpu(), time.perf_counter()
        with tr.span("sql.query", op=qid):
            if self.stale:
                self.table.read(self.spark).createOrReplaceTempView("weather")
                self.stale = False
            with tr.span("sql.plan", op=qid):
                if text is None:
                    df = QUERIES[kind](self.spark, self.sf_dir)
                else:
                    df = self.spark.sql(text)
            with tr.span(f"sql.{kind}.exec", op=qid, group=f"{qid}.exec"):
                result = df.toArrow()
        latency, cpu = time.perf_counter() - t0, self.cpu() - c0
        self.tr = NULL
        ok = self._check(kind, text, result)
        self.kind_latency.setdefault(kind, []).append(latency)
        if traced:
            jobs = tr.group_counts(f"{qid}.exec")
            self.layer_samples.append(
                {"sql.spark_jobs": jobs["jobs"], "sql.spark_tasks": jobs["tasks"]}
            )
        return Op(latency, ok, traced, cpu)

    def _check(self, kind: str, text: str | None, result: pa.Table) -> bool:
        """The Spark result against DuckDB over the same committed
        version's files (or the registered oracle over the same tables)."""
        if text is None:
            want_t = self.duck.execute(ORACLES[kind]).arrow()
            want_t = want_t.select(result.column_names)
        else:
            oracle.duckdb_weather(
                self.duck,
                os.path.join(self.root, f"v={self.table.current_version()}"),
            )
            want_t = self.duck.execute(text).arrow()
        got, want = arrow_rows(result), arrow_rows(want_t)
        if kind not in ORDERED:
            got, want = sorted(got), sorted(want)
        if got == want:
            return True
        self.errors.append(
            f"{kind}: {len(got)} rows from Spark vs {len(want)} from DuckDB; "
            f"first difference {next((g, w) for g, w in zip(got + [None], want + [None]) if g != w)}"
        )
        return False

    def report(self) -> dict[str, str]:
        out = {
            f"query.{k}.p50_s": f"{median(v):.4f} (n={len(v)})"
            for k, v in sorted(self.kind_latency.items())
        }
        if self.tick_latency:
            out["tick_s.p50"] = f"{median(self.tick_latency):.4f} (n={len(self.tick_latency)})"
        return out


# ---------------------------------------------------------------------------
# curation_batch
# ---------------------------------------------------------------------------


class CurationBatch(Workload):
    """Batch curation over a corpus with planted duplicates. One op is
    one job: exact dedup, MinHash, LSH candidates, exact Jaccard verify,
    duplicate clusters, IVF top-k, each stage forced to completion."""

    name = "curation_batch"

    def prepare(self, rep: int) -> None:
        self.corpus = gen.write_corpus(
            self.fresh_dir(f"corpus{rep}"), self.seed, self.size.n_docs, self.size.n_vecs
        )
        self.job_no = 0
        self.last: dict[str, float] = {}

    def op(self, tr, traced: bool) -> Op:
        self.job_no += 1
        jid = f"j{self.job_no}"
        spark = self.spark
        c0, t0 = self.cpu(), time.perf_counter()
        with tr.span("curation.job", op=jid):
            docs = spark.read.parquet(self.corpus.docs_path)
            emb = spark.read.parquet(self.corpus.emb_path)
            with tr.span("dedup.exact", op=jid):
                exact = (
                    exact_dedup(docs, "text", "doc_id")
                    .filter(F.col("n_copies") > 1)
                    .select("keep_id", "n_copies")
                    .collect()
                )
            with tr.span("dedup.minhash", op=jid):
                sigs = minhash_signature(docs, "text", "doc_id", k=MINHASH_K).cache()
                sigs.count()
            with tr.span("dedup.lsh", op=jid):
                cands = lsh_candidate_pairs(sigs, "doc_id", k=MINHASH_K, band_size=LSH_BAND).cache()
                n_cand = cands.count()
            with tr.span("dedup.verify", op=jid):
                edges = self._verify(docs, cands).cache()
                verified = edges.collect()
            with tr.span("cluster.components", op=jid, group=f"{jid}.cluster"):
                clusters = dedup_clusters(edges).collect()
            with tr.span("similarity.ivf_topk", op=jid):
                topk = cosine_topk_ivf(emb, k=IVF_K).collect()
        latency, cpu = time.perf_counter() - t0, self.cpu() - c0
        for df in (sigs, cands, edges):
            df.unpersist()
        ok = self._check(exact, verified, clusters, topk)
        self.last = {
            "dedup.lsh_candidates": n_cand,
            "dedup.lsh_precision": len(verified) / max(1, n_cand),
        }
        if traced:
            jobs = tr.group_counts(f"{jid}.cluster")
            self.layer_samples.append({**self.last, "cluster.spark_jobs": jobs["jobs"]})
        return Op(latency, ok, traced, cpu)

    @staticmethod
    def _verify(docs, cands):
        sh = docs.select(
            "doc_id", F.array_distinct(word_shingles(tokens(F.col("text")), 3)).alias("sh")
        )
        a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
        b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
        inter = F.size(F.array_intersect("sa", "sb"))
        union = F.size("sa") + F.size("sb") - inter
        return (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .filter(inter >= F.lit(VERIFY_JACCARD) * union)
            .select("id_a", "id_b")
        )

    def _check(self, exact, verified, clusters, topk) -> bool:
        """Recall and precision against the planted truth. Unique
        documents are random texts and can never be near duplicates, so
        every verified pair and every output cluster must stay inside
        one planted group."""
        c = self.corpus
        errors = []
        got_groups = {(r.keep_id, r.n_copies) for r in exact}
        if got_groups != c.exact_groups:
            errors.append(
                f"exact groups: {len(got_groups - c.exact_groups)} unexpected, "
                f"{len(c.exact_groups - got_groups)} missed"
            )
        stray = [
            (r.id_a, r.id_b) for r in verified
            if r.id_a not in c.group_of or c.group_of[r.id_a] != c.group_of.get(r.id_b)
        ]
        if stray:
            errors.append(f"{len(stray)} verified pairs outside any planted group, e.g. {stray[0]}")
        label = {r.doc_id: r.cluster_id for r in clusters}
        members: dict[int, set] = {}
        for doc, cluster in label.items():
            members.setdefault(cluster, set()).add(c.group_of.get(doc))
        mixed = [k for k, groups in members.items() if len(groups) > 1 or None in groups]
        if mixed:
            errors.append(
                f"{len(mixed)} clusters span planted groups or hold a unique document, "
                f"e.g. cluster {mixed[0]}"
            )
        found = sum(
            1 for a, b in c.near_pairs if a in label and label.get(a) == label.get(b)
        )
        near_recall = found / max(1, len(c.near_pairs))
        if near_recall < NEAR_RECALL_FLOOR:
            errors.append(f"near-duplicate recall {near_recall:.3f} < {NEAR_RECALL_FLOOR}")
        errors += self._check_topk(topk)
        hits = {(r.query_id, r.neighbor_id) for r in topk}
        ivf_recall = sum(1 for q, nb in c.neighbours.items() if (q, nb) in hits) / max(
            1, len(c.neighbours)
        )
        if ivf_recall < IVF_RECALL_FLOOR:
            errors.append(f"IVF neighbour recall {ivf_recall:.3f} < {IVF_RECALL_FLOOR}")
        self.recall = (near_recall, ivf_recall)
        self.errors.extend(errors)
        return not errors

    def _check_topk(self, topk) -> list[str]:
        """Every returned neighbour carries its exact cosine, ranks run
        1..n (n <= k) in falling cosine, and a planted neighbour that
        was found is ranked first: it is far closer than any other."""
        v = self.corpus.vecs.astype(np.float64)
        unit = v / np.linalg.norm(v, axis=1, keepdims=True)
        by_query: dict[int, list] = {}
        for r in topk:
            by_query.setdefault(r.query_id, []).append(r)
        errors = []
        for q, rows in by_query.items():
            rows.sort(key=lambda r: r.rank)
            want = [float(unit[q] @ unit[r.neighbor_id]) for r in rows]
            if [r.rank for r in rows] != list(range(1, len(rows) + 1)) or len(rows) > IVF_K:
                errors.append(f"IVF query {q}: ranks {[r.rank for r in rows]}")
            elif any(abs(r.cos_sim - w) > 1e-6 for r, w in zip(rows, want)):
                errors.append(f"IVF query {q}: cosines {[r.cos_sim for r in rows]} != {want}")
            elif any(a < b - 1e-9 for a, b in zip(want, want[1:])):
                errors.append(f"IVF query {q}: not in falling cosine order")
            nb = self.corpus.neighbours.get(q)
            if any(r.neighbor_id == nb for r in rows) and rows[0].neighbor_id != nb:
                errors.append(f"IVF query {q}: planted neighbour {nb} not ranked first")
        return errors[:5]

    def verify(self) -> list[str]:
        return []  # every job was checked as it ran

    def report(self) -> dict[str, str]:
        c = self.corpus
        return {
            "corpus": f"{c.n_docs} docs, {c.n_vecs} vectors; planted "
            f"{len(c.exact_groups)} exact groups, {len(c.near_pairs)} near pairs, "
            f"{len(c.neighbours)} neighbours",
            "near_recall": f"{self.recall[0]:.4f} (floor {NEAR_RECALL_FLOOR})",
            "ivf_recall": f"{self.recall[1]:.4f} (floor {IVF_RECALL_FLOOR})",
            "lsh_candidates": str(self.last.get("dedup.lsh_candidates")),
        }


WORKLOADS = {w.name: w for w in (IngestUpsert, QueryMix, CurationBatch)}
