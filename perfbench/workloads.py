"""The benchmark's workloads.

Each workload makes its inputs from the seed before any timing, runs
timed operations, checks every output against an in-process reference,
and, in a traced run, splits its time by layer. Layers are named after
the repo's modules (session, sources, extract, kernels, chunk, embed,
search, checkpoint, audit).

Spark is lazy, so a layer's cost is measured by forcing its output with
a ``noop`` write and subtracting the forced time of its input prefix on
the same input. Spark's own operator metrics come from the session's
SQL status store (``sparkobs``). Spans are recorded here, around the
calls into the engine, never inside it.
"""

from __future__ import annotations

import contextlib
import functools
import os
import random
import time
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

from perfbench import inputs
from perfbench.harness import (
    Tally,
    Tracer,
    is_chunk_python,
    is_embed_python,
    is_extract_python,
    is_reassembly_agg,
    is_scan,
    median,
    metric_stage,
    python_layer,
    self_times,
    shuffle_layer,
    sum_metric,
)

# jobs/run_extract.py defaults: --num-buckets, --batch-buckets, --max-size-mb
NUM_BUCKETS = 256
BATCH_BUCKETS = 32
MAX_SIZE_BYTES = 50 * 1024 * 1024
CHUNK_TOKENS = 512
TOP_K = 5
IVF_CELLS = 16
IVF_NPROBE = 4


@dataclass
class Ctx:
    work: str
    seed: int
    trace: bool
    tally: Tally
    tracer: Tracer
    ncpu: int
    # perf_counter() + offset = epoch seconds, to place Spark's
    # execution timestamps on the span clock
    epoch_offset: float = field(default_factory=lambda: time.time() - time.perf_counter())


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def start_session(ctx: Ctx):
    """``get_spark`` on local[ncpu], with every scratch location inside
    the run's work directory. Returns (spark, start_s)."""
    from docling_api_spark.session import get_spark

    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{ctx.ncpu}]",
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(ctx.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, time.perf_counter() - t0


def warm_workers(spark, ncpu: int) -> None:
    """One Python task per core that imports the engine's kernels: the
    worker start and import cost every session pays once."""

    def body(batches):
        import docling_api_spark.kernels  # noqa: F401
        import docling_api_spark.operators.embed  # noqa: F401

        yield from batches

    force(spark.range(0, ncpu, 1, ncpu).mapInPandas(body, "id long"))


@contextlib.contextmanager
def spans_around(tracer: Tracer, targets):
    """Replace each (owner, attr, span name) with a wrapper that records
    a span around the call; restore the originals on exit."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]

    def wrap(name, fn):
        @functools.wraps(fn)
        def inner(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        return inner

    try:
        for owner, attr, name in targets:
            setattr(owner, attr, wrap(name, getattr(owner, attr)))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def assign_executions(ctx: Ctx, watch, spans) -> dict[int, list[int]]:
    """Span id -> SQL executions submitted while it was the innermost
    open span (by the execution's submission time)."""
    out: dict[int, list[int]] = {}
    for eid, ms in watch.submit_times(watch.new_executions()).items():
        t = ms / 1000.0 - ctx.epoch_offset
        inside = [s for s in spans if s.start - 0.002 <= t <= s.end + 0.002]
        if inside:
            out.setdefault(max(inside, key=lambda s: s.start).sid, []).append(eid)
    return out


def kernel_floor(docs: list[dict]) -> dict[str, tuple[float, int]]:
    """fmt -> (CPU seconds, raw bytes) of the pure kernels over every raw
    span of the docs, in this process."""
    from docling_api_spark.kernels import extract_raw_span

    out = {}
    for fmt in sorted({d["fmt"] for d in docs}):
        spans = [s for d in docs if d["fmt"] == fmt for s in d["spans"]]
        t0 = time.process_time()
        for s in spans:
            extract_raw_span(s["kind"], s["text"])
        out[fmt] = (time.process_time() - t0, sum(len(s["text"].encode()) for s in spans))
    return out


def floor_metrics(floors: dict[str, tuple[float, int]], python_total_ms: float) -> dict[str, float]:
    m = {f"kernels.{fmt}.mb_per_s": nbytes / 1e6 / cpu for fmt, (cpu, nbytes) in floors.items() if cpu > 0}
    if python_total_ms > 0:
        m["kernels.floor_share"] = sum(cpu for cpu, _ in floors.values()) / (python_total_ms / 1000)
    return m


def job_ocr():
    """The OCR options jobs/run_extract.py passes without --ocr flags."""
    from docling_api_spark.kernels.ocr import OcrOptions

    return OcrOptions(do_ocr=False, force_full_page_ocr=False)


def spans_tuple(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["order"], s["page"]) for s in spans]


# --------------------------------------------------------------------------
# ingest_mixed
# --------------------------------------------------------------------------


class IngestMixed:
    """The production job (jobs/run_extract.py main) over the full mix."""

    name = "ingest_mixed"
    n_docs = 1000

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.passes: list[dict] = []
        self._quarantined: list[str] | None = None

    def indices(self) -> list[int]:
        return list(range(self.n_docs))

    def default_fingerprint(self) -> dict:
        docs, _ = inputs.generate(self.indices(), inputs.DEFAULT_SEED)
        return inputs.fingerprint(docs)

    def generate(self, spark) -> dict:
        """The rows ``corpus_df`` makes (``gen_doc`` per index), written
        in-process as ``corpus_df`` lays them out, one file per 256 docs."""
        self.input = os.path.join(self.ctx.work, "input")
        self.docs, self.golden = inputs.generate(self.indices(), self.ctx.seed)
        inputs.write_docs_parquet(self.docs, self.input, max(1, min(256, self.n_docs // 256)))
        fp = inputs.fingerprint(inputs.read_parquet_rows(self.input))
        if fp != inputs.fingerprint(self.docs):
            raise inputs.InputDrift("the written input differs from gen_doc's rows")
        self.raw_bytes = fp["raw_bytes"]
        self.input_parquet_bytes = inputs.dir_bytes(self.input)
        return fp

    def setup(self, spark) -> dict:
        return {}

    def run_job(self, spark, out: str):
        """The calls of jobs/run_extract.py main(), in its order."""
        from docling_api_spark.checkpoint import commit_history, extract_with_checkpoint
        from docling_api_spark.operators.audit import assert_extraction_invariants

        tr = self.ctx.tracer
        with tr.span("sources.read"):
            corpus = spark.read.parquet(self.input)
        with tr.span("checkpoint.extract_with_checkpoint"):
            result = extract_with_checkpoint(
                corpus,
                out,
                num_buckets=NUM_BUCKETS,
                batch_buckets=BATCH_BUCKETS,
                max_size_bytes=MAX_SIZE_BYTES,
                ocr=job_ocr(),
            )
        with tr.span("audit"):
            assert_extraction_invariants(spark.read.parquet(out))
        with tr.span("checkpoint.history"):
            totals = commit_history(spark, out).groupBy().sum("docs", "spans", "chars").first()
        return result, totals

    def instrument(self):
        """Spans around the checkpoint layer's own calls (traced runs)."""
        import docling_api_spark.checkpoint as ck
        from pyspark.sql.readwriter import DataFrameWriter

        return spans_around(
            self.ctx.tracer,
            [
                (DataFrameWriter, "parquet", "checkpoint.write"),
                (ck, "batch_metrics", "checkpoint.metrics_pass"),
                (ck.CommitLog, "commit", "checkpoint.commit"),
            ],
        )

    def op(self, spark, k: int) -> float:
        out = os.path.join(self.ctx.work, f"out-{k}")  # fresh: the job resumes by default
        t0 = time.perf_counter()
        with self.ctx.tracer.span("ingest_mixed.job"):
            result, totals = self.run_job(spark, out)
        wall = time.perf_counter() - t0
        self.passes.append({"k": k, "out": out, "result": result, "docs": totals[0], "spans": totals[1]})
        return wall

    def check(self, spark) -> None:
        import pyarrow.dataset as ds

        t = self.ctx.tally
        want_batches = NUM_BUCKETS // BATCH_BUCKETS
        for p in self.passes:
            rows = ds.dataset(p["out"], format="parquet", partitioning="hive").count_rows()
            t.check(p["result"]["processed_batches"] == want_batches,
                    f"pass {p['k']}: processed_batches={p['result']['processed_batches']} != {want_batches}")
            t.check(p["docs"] == rows, f"pass {p['k']}: manifest docs {p['docs']} != table rows {rows}")
        last = self.passes[-1]["out"]
        got = {r["doc_id"]: r["spans"] for r in inputs.read_parquet_rows(last, ["doc_id", "spans"])}
        for doc_id, gold in self.golden.items():
            have = got.get(doc_id)
            ok = have is not None and spans_tuple(have) == spans_tuple(gold)
            t.check(ok, f"doc {doc_id}: " + ("missing" if have is None else "spans differ from golden"))
        for doc_id in sorted(set(got) - set(self.golden)):
            t.check(False, f"doc {doc_id}: not in the input")
        # conservation: docs in = docs out + quarantined + size-gated
        errored = self.quarantined(spark)
        gated = sum(1 for d in self.docs if d["size_bytes"] > MAX_SIZE_BYTES)
        t.check(
            len(self.docs) == len(got) + len(errored) + gated,
            f"conservation: {len(self.docs)} in != {len(got)} out + {len(errored)} quarantined {errored[:5]} + {gated} gated",
        )
        self.write_amp = inputs.dir_bytes(last) / self.raw_bytes

    def quarantined(self, spark) -> list[str]:
        """Doc ids of ``extract_errors`` (the job's quarantine side-table)."""
        from docling_api_spark.operators.extract import extract_errors

        if self._quarantined is None:
            errored = extract_errors(spark.read.parquet(self.input), max_size_bytes=MAX_SIZE_BYTES, ocr=job_ocr())
            self._quarantined = sorted(r.doc_id for r in errored.select("doc_id").collect())
        return self._quarantined

    def report(self, op_s: float) -> dict:
        return {
            "docs_per_s": self.n_docs / op_s,
            "mb_per_s": self.raw_bytes / 1e6 / op_s,
            "write_bytes_per_input_byte": self.write_amp,
        }

    def trace(self, spark, watch) -> dict:
        """Layer split of the first (traced) pass: its spans and SQL
        metrics, plus per-batch prefix forcing that splits each batch
        write into scan, extract and write."""
        from docling_api_spark.checkpoint import bucket_of
        from docling_api_spark.operators.extract import extract
        from pyspark.sql import functions as F

        ctx = self.ctx
        root = next(s for s in ctx.tracer.spans if s.name == "ingest_mixed.job")
        spans = [s for s in ctx.tracer.spans if root.start <= s.start and s.end <= root.end]
        execs = assign_executions(ctx, watch, spans)
        traced = self.passes[0]

        def named(name):
            return [s for s in spans if s.name == name]

        def nodes_of(ss):
            return watch.nodes([e for s in ss for e in execs.get(s.sid, [])])

        corpus = spark.read.parquet(self.input).select("doc_id", "size_bytes", "spans")
        scan_t, ext_t = [], []
        for lo in range(0, NUM_BUCKETS, BATCH_BUCKETS):
            batch = corpus.filter(bucket_of(F.col("doc_id"), NUM_BUCKETS).isin(list(range(lo, lo + BATCH_BUCKETS))))
            scan_t.append(timed(force, batch))
            ext_t.append(timed(force, extract(batch, max_size_bytes=MAX_SIZE_BYTES, ocr=job_ocr())))

        st = self_times(spans)
        writes, metrics_passes, commits = named("checkpoint.write"), named("checkpoint.metrics_pass"), named("checkpoint.commit")
        src = ext = ckpt_write = 0.0
        for w, ts, te in zip(writes, scan_t, ext_t):
            s = min(ts, w.dur)
            e = min(max(te - ts, 0.0), w.dur - s)
            src, ext, ckpt_write = src + s, ext + e, ckpt_write + (w.dur - s - e)
        ckpt_self = ckpt_write + sum(
            st[s.sid] for s in metrics_passes + commits + named("checkpoint.extract_with_checkpoint") + named("checkpoint.history")
        )

        job_nodes = nodes_of(writes + named("sources.read"))
        write_nodes = nodes_of(writes)
        py = python_layer(write_nodes, is_extract_python)
        fallback = sum_metric(write_nodes, "number of sort fallback tasks", is_reassembly_agg)

        def tasks_of(n):  # tasks of the stage the node's timing metric names
            stage = metric_stage(n.metrics.get("time in aggregation build", ("", ""))[1])
            return 1 if stage is None else watch.stage_tasks(stage)

        agg_tasks = sum(tasks_of(n) for n in write_nodes if is_reassembly_agg(n))
        files_read = sum_metric(job_nodes, "size of files read", is_scan)

        def is_write(n):
            return n.name.startswith("Execute InsertIntoHadoopFsRelationCommand")

        m = {
            "sources.self_s": src + sum(st[s.sid] for s in named("sources.read")),
            "sources.scan_ms": sum_metric(job_nodes, "scan time", is_scan),
            "sources.files_read_bytes": files_read,
            "sources.read_amp": files_read / self.input_parquet_bytes,
            "extract.self_s": ext,
            "extract.prefix_s": sum(te - ts for ts, te in zip(scan_t, ext_t)),
            **{f"extract.{k}": v for k, v in shuffle_layer(write_nodes).items()},
            "extract.python_total_ms": py["python_total_ms"],
            "extract.python_init_ms": py["python_init_ms"],
            "extract.python_sent_bytes": py["python_sent_bytes"],
            "extract.python_received_bytes": py["python_received_bytes"],
            "extract.python_sent_per_input_byte": py["python_sent_bytes"] / self.raw_bytes,
            "extract.reassembly_agg_ms": sum_metric(write_nodes, "time in aggregation build", is_reassembly_agg),
            "extract.reassembly_fallback_frac": fallback / agg_tasks if agg_tasks else 0.0,
            "extract.raw_spans": sum(len(d["spans"]) for d in self.docs if d["size_bytes"] <= MAX_SIZE_BYTES),
            "extract.out_spans": traced["spans"],
            "extract.error_docs": len(self.quarantined(spark)),
            "checkpoint.self_s": ckpt_self,
            "checkpoint.batches": traced["result"]["processed_batches"],
            "checkpoint.batch_s_p50": median([c.end - w.start for w, c in zip(writes, commits)]),
            "checkpoint.write_ms": ckpt_write * 1000,
            "checkpoint.metrics_pass_ms": sum(s.dur for s in metrics_passes) * 1000,
            "checkpoint.files_written": sum_metric(write_nodes, "number of written files", is_write),
            "checkpoint.bytes_written": sum_metric(write_nodes, "written output", is_write),
            "audit.self_s": st[named("audit")[0].sid],
            "audit.files_read_bytes": sum_metric(nodes_of(named("audit")), "size of files read", is_scan),
            "trace.wall_s": root.dur,
            "trace.unattributed_s": st[root.sid],
        }
        m.update(floor_metrics(kernel_floor(self.docs), py["python_total_ms"]))
        return m


# --------------------------------------------------------------------------
# search_topk
# --------------------------------------------------------------------------


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on its shortest decimal."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


class SearchTopk:
    """Closed loop, one client: exact top-5 then IVF top-5 per query."""

    name = "search_topk"
    n_docs = 7200  # HTML + DOCX docs; about 1.5 chunks each
    min_chunks = 10_000
    n_queries = 256

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.results: list[dict] = []

    def indices(self) -> list[int]:
        from docling_api_spark.corpus import SKEW_EVERY

        out, i = [], 0
        while len(out) < self.n_docs:
            if i % 10 in (0, 1, 2, 3, 9) and i % SKEW_EVERY != SKEW_EVERY - 1:
                out.append(i)
            i += 1
        return out

    def default_fingerprint(self) -> dict:
        docs, _ = inputs.generate(self.indices(), inputs.DEFAULT_SEED)
        return inputs.fingerprint(docs)

    def generate(self, spark) -> dict:
        """Chunk-embedding table: the rag_ingest chain's kernels
        (chunk_spans, feature_hash_embed) over the golden spans, written
        to parquet. Traced runs rebuild it through the Spark operators
        and check the two agree."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from docling_api_spark.operators.chunk import chunk_spans
        from docling_api_spark.operators.embed import feature_hash_embed

        self.docs, golden = inputs.generate(self.indices(), self.ctx.seed)
        t0 = time.process_time()
        rows = []
        for d in self.docs:
            for c in chunk_spans(golden[d["doc_id"]], CHUNK_TOKENS):
                rows.append((d["doc_id"], c))
        t1 = time.process_time()
        vecs = feature_hash_embed([c["context"] for _, c in rows])
        t2 = time.process_time()
        self.floor = {"chunk.floor_s": t1 - t0, "embed.floor_s": t2 - t1}
        if len(rows) < self.min_chunks:
            raise inputs.InputDrift(f"search table has {len(rows)} chunks, fewer than {self.min_chunks}")
        self.chunks = rows
        self.ids = [f"{doc_id}#{c['chunk_index']:04d}" for doc_id, c in rows]
        self.row_of = {v: i for i, v in enumerate(self.ids)}
        self.table = os.path.join(self.ctx.work, "vectors")
        os.makedirs(self.table)
        n, dim = vecs.shape
        files = self.ctx.ncpu
        step = -(-n // files)
        for k in range(files):
            lo, hi = k * step, min(n, (k + 1) * step)
            emb = pa.ListArray.from_arrays(pa.array(np.arange(0, hi - lo + 1) * dim, pa.int32()), pa.array(vecs[lo:hi].ravel()))
            pq.write_table(pa.table({"vec_id": self.ids[lo:hi], "embedding": emb}), os.path.join(self.table, f"part-{k:05d}.parquet"))
        # reference side: sequential double sums, as Spark's aggregate folds
        self.mat = vecs.astype(np.float64)
        self.norm = np.sqrt(np.cumsum(self.mat * self.mat, axis=1)[:, -1])
        rng = random.Random(self.ctx.seed * 7919 + 17)
        texts = []
        for _ in range(self.n_queries):
            toks = rows[rng.randrange(len(rows))][1]["content"].split()
            n_tok = rng.randint(4, 10)
            lo = rng.randrange(max(1, len(toks) - n_tok + 1))
            texts.append(" ".join(toks[lo : lo + n_tok]))
        self.qvecs = feature_hash_embed(texts)
        return inputs.fingerprint(self.docs) | {"chunks": len(rows)}

    def setup(self, spark) -> dict:
        from docling_api_spark.operators.search import ivf_centers_df, ivf_index

        t0 = time.perf_counter()
        self.vec = spark.read.parquet(self.table).persist()
        self.vec.count()
        t1 = time.perf_counter()
        model, indexed = ivf_index(self.vec, n_cells=IVF_CELLS)
        self.indexed = indexed.persist()
        force(self.indexed)
        self.cent = ivf_centers_df(spark, model)
        self.centers = model.clusterCenters()
        t2 = time.perf_counter()
        for _ in range(2):  # the first queries of a session run slow while the JVM compiles
            self.pair(spark, 0)
        self.results.clear()
        return {"persist_s": t1 - t0, "ivf_build_s": t2 - t1, "warm_query_s": time.perf_counter() - t2}

    def pair(self, spark, q: int) -> dict:
        from docling_api_spark.operators.search import ivf_probe, knn_topk

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("search.query_df"):
            qdf = spark.createDataFrame([([float(x) for x in self.qvecs[q]],)], "qv array<float>")
        t1 = time.perf_counter()
        with tr.span("search.knn"):
            exact = [(r.vec_id, r.sim) for r in knn_topk(self.vec, qdf, k=TOP_K).collect()]
        t2 = time.perf_counter()
        with tr.span("search.ivf"):
            approx = [(r.vec_id, r.sim) for r in ivf_probe(self.indexed, self.cent, qdf, k=TOP_K, nprobe=IVF_NPROBE).collect()]
        t3 = time.perf_counter()
        res = {"q": q, "exact": exact, "ivf": approx, "knn_s": t2 - t1, "ivf_s": t3 - t2, "wall": t3 - t0}
        self.results.append(res)
        return res

    def op(self, spark, k: int) -> float:
        return self.pair(spark, 1 + k % (self.n_queries - 1))["wall"]

    def sims(self, q: int):
        """Cosine of query q against every row, summed in order as Spark does."""
        import numpy as np

        qd = self.qvecs[q].astype(np.float64)
        dots = np.cumsum(self.mat * qd, axis=1)[:, -1]
        return dots / (self.norm * np.sqrt(np.cumsum(qd * qd)[-1]))

    def top(self, sims, rows) -> list[tuple[str, float]]:
        """Top-k of ``rows`` (indices) under (rounded sim desc, id asc)."""
        import numpy as np

        sub = sims[rows]
        cut = np.partition(sub, -TOP_K)[-TOP_K] - 2e-6
        cand = [(self.ids[i], _round6(float(sims[i]))) for i in rows[sub >= cut]]
        return sorted(cand, key=lambda r: (-r[1], r[0]))[:TOP_K]

    def probe_cells(self, q: int) -> list[int]:
        """The IVF_NPROBE cells nearest query q by (squared distance, cell)."""
        import numpy as np

        qd = self.qvecs[q].astype(np.float64)
        dist2 = [float(np.cumsum((qd - c) * (qd - c))[-1]) for c in self.centers]
        return sorted(range(len(dist2)), key=lambda c: (dist2[c], c))[:IVF_NPROBE]

    def check(self, spark) -> None:
        import numpy as np

        cell = np.full(len(self.ids), -1)
        for r in self.indexed.select("vec_id", "cell").collect():
            cell[self.row_of[r.vec_id]] = r.cell
        every = np.arange(len(self.ids))
        t = self.ctx.tally
        self.recalls = []
        for r in self.results:
            sims = self.sims(r["q"])
            exact = self.top(sims, every)
            t.check(r["exact"] == exact, f"query {r['q']}: exact top-{TOP_K} {r['exact']} != reference {exact}")
            cells = self.probe_cells(r["q"])
            ivf = self.top(sims, np.nonzero(np.isin(cell, cells))[0])
            t.check(r["ivf"] == ivf, f"query {r['q']}: ivf top-{TOP_K} over cells {cells} {r['ivf']} != reference {ivf}")
            self.recalls.append(len({v for v, _ in r["ivf"]} & {v for v, _ in exact}) / TOP_K)

    def report(self, op_s: float) -> dict:
        from perfbench.harness import highest_percentile, percentile

        lat = [x for r in self.results for x in (r["knn_s"], r["ivf_s"])]
        p = highest_percentile(len(lat))
        out = {
            "knn_ms_p50": median([r["knn_s"] for r in self.results]) * 1000,
            "ivf_ms_p50": median([r["ivf_s"] for r in self.results]) * 1000,
            "queries": len(lat),
            "ivf_recall_at_5": sum(self.recalls) / len(self.recalls),
        }
        if p is not None:
            out[f"query_ms_p{p:g}"] = percentile(lat, p) * 1000
        return out

    def instrument(self):
        return contextlib.nullcontext()

    def trace(self, spark, watch) -> dict:
        """Per-query jobs, tasks, rows scored and driver overhead of the
        traced loop, then the rag chain split by layer."""
        ctx = self.ctx
        spans = ctx.tracer.spans
        execs = assign_executions(ctx, watch, spans)
        st = self_times(spans)
        loop = next(s for s in spans if s.name == "loop")

        def per_query(name):
            qs = [s for s in spans if s.name == name]
            jobs = [watch.jobs(execs.get(s.sid, [])) for s in qs]
            rows = [
                max((n.value("number of output rows") for n in watch.nodes(execs.get(s.sid, []))
                     if n.name == "BroadcastNestedLoopJoin"), default=0.0)
                for s in qs
            ]
            overhead = []
            for s, js in zip(qs, jobs):
                starts = [j["start_ms"] for j in js if j["start_ms"] is not None]
                ends = [j["end_ms"] for j in js if j["end_ms"] is not None]
                busy = (max(ends) - min(starts)) / 1000 if starts and ends else 0.0
                overhead.append(s.dur - busy)
            return {
                "jobs": sum(len(js) for js in jobs) / len(qs),
                "tasks": sum(j["tasks"] for js in jobs for j in js) / len(qs),
                "rows_per_result": median(rows) / TOP_K,
                "overhead": overhead,
            }

        knn, ivf = per_query("search.knn"), per_query("search.ivf")
        m = {
            "search.self_s": sum(st[s.sid] for s in spans if s.name.startswith("search.")),
            "search.knn.jobs_per_query": knn["jobs"],
            "search.knn.tasks_per_query": knn["tasks"],
            "search.knn.rows_scored_per_result": knn["rows_per_result"],
            "search.ivf.jobs_per_query": ivf["jobs"],
            "search.ivf.rows_scored_per_result": ivf["rows_per_result"],
            "search.driver_overhead_ms": median(knn["overhead"] + ivf["overhead"]) * 1000,
            "trace.wall_s": loop.dur,
            "trace.unattributed_s": st[loop.sid],
        }
        m.update(self.trace_rag_chain(spark, watch))
        return m

    def trace_rag_chain(self, spark, watch) -> dict:
        """The rag_ingest chain (extract fast path -> chunk -> embed) over
        this workload's docs through the Spark operators: prefix-forced
        layer times, SQL metrics, and a check against the table the
        in-process kernels built."""
        import numpy as np
        from docling_api_spark.operators.chunk import chunk_extracted
        from docling_api_spark.operators.embed import embed_chunks
        from docling_api_spark.operators.extract import extract
        from pyspark.sql import functions as F

        docs_path = os.path.join(self.ctx.work, "rag-docs")
        inputs.write_docs_parquet(self.docs, docs_path, self.ctx.ncpu)
        corpus = spark.read.parquet(docs_path)
        extracted = extract(corpus)
        chunks = chunk_extracted(extracted, max_tokens=CHUNK_TOKENS)
        embedded = embed_chunks(chunks)
        t_scan = timed(force, corpus.select("doc_id", "size_bytes", "spans"))
        t_ext = timed(force, extracted)
        t_chunk = timed(force, chunks)
        watch.new_executions()
        t_full = timed(force, embedded)
        nodes = watch.nodes(watch.new_executions())
        out_spans = extracted.select(F.sum(F.size("spans"))).first()[0]

        got = embedded.toPandas()
        t = self.ctx.tally
        want = {
            f"{doc_id}#{c['chunk_index']:04d}": (c, self.mat[i])
            for i, (doc_id, c) in enumerate(self.chunks)
        }
        seen = set()
        for r in got.itertuples(index=False):
            vid = f"{r.doc_id}#{r.chunk_index:04d}"
            seen.add(vid)
            c, vec = want.get(vid, (None, None))
            ok = c is not None and all(
                getattr(r, f) == c[f] for f in ("content", "context", "section_title", "page", "token_count")
            ) and np.array_equal(np.asarray(r.embedding, dtype=np.float32).astype(np.float64), vec)
            t.check(ok, f"chunk {vid}: differs from chunk_spans/feature_hash_embed over the golden spans")
        for vid in sorted(set(want) - seen):
            t.check(False, f"chunk {vid}: missing from the Spark chain's output")

        py_ext = python_layer(nodes, is_extract_python)
        py_chunk = python_layer(nodes, is_chunk_python)
        py_embed = python_layer(nodes, is_embed_python)
        n_chunks = len(got)
        files_read = sum_metric(nodes, "size of files read", is_scan)
        raw_bytes = sum(d["size_bytes"] for d in self.docs)
        m = {
            "sources.self_s": t_scan,
            "sources.scan_ms": sum_metric(nodes, "scan time", is_scan),
            "sources.files_read_bytes": files_read,
            "sources.read_amp": files_read / inputs.dir_bytes(docs_path),
            "extract.self_s": t_ext - t_scan,
            "extract.prefix_s": t_ext - t_scan,
            **{f"extract.{k}": v for k, v in shuffle_layer(nodes).items()},
            "extract.python_total_ms": py_ext["python_total_ms"],
            "extract.python_init_ms": py_ext["python_init_ms"],
            "extract.python_sent_bytes": py_ext["python_sent_bytes"],
            "extract.python_received_bytes": py_ext["python_received_bytes"],
            "extract.python_sent_per_input_byte": py_ext["python_sent_bytes"] / raw_bytes,
            "extract.raw_spans": sum(len(d["spans"]) for d in self.docs),
            "extract.out_spans": out_spans,
            "chunk.self_s": t_chunk - t_ext,
            "chunk.prefix_delta_s": t_chunk - t_ext,
            "chunk.python_total_ms": py_chunk["python_total_ms"],
            "chunk.chunks": py_chunk["rows"],
            "embed.self_s": t_full - t_chunk,
            "embed.prefix_delta_s": t_full - t_chunk,
            "embed.python_total_ms": py_embed["python_total_ms"],
            "embed.python_received_bytes_per_chunk": py_embed["python_received_bytes"] / max(n_chunks, 1),
            "rag.docs_per_s": len(self.docs) / t_full,
            "rag.chunks_per_s": n_chunks / t_full,
            **self.floor,
        }
        m.update(floor_metrics(kernel_floor(self.docs), py_ext["python_total_ms"]))
        return m


WORKLOADS = {w.name: w for w in (IngestMixed, SearchTopk)}
