"""The benchmark's workloads: search, ingest, pipeline and analytics.

Each workload makes its inputs before set-up (`make_inputs`), readies
any derived state after set-up (`prepare`), runs untimed warm-up ops,
then runs one op per `run_op` call in the timed closed loop, keeping
what the op delivered; the loop ends on a cycle boundary
(`at_cycle_end`), so every run holds whole cycles of the op mix.
`check` compares every delivered result with an independent
expectation once the timed loop is over and returns the failing ops by
index.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as pads

from inputs import (
    FIELDS,
    SEARCH_FRAME_SQL,
    SearchRequest,
    SearchStream,
    expected_status,
    parse_seabass_file,
    write_batches,
)
from checks import canonical_rows, duck_connect, same_table
from layers import Tracer, catalyst_ms, plan_metrics


@dataclass
class Context:
    spark: object
    sf_dir: str
    ops: dict
    seed: int
    tracer: Tracer
    jobs: object = None  # layers.JobCounter in the traced run


@dataclass
class OpResult:
    """One op: its label, latency, what it delivered (for the check)
    and, in the traced run, its per-layer figures."""

    label: str
    ms: float
    payload: object = None
    layers: dict = field(default_factory=dict)
    error: str | None = None


def _timed_phase(ctx: Context, group: str, name: str, op: int, fn):
    """Run fn inside a span (and a job group when tracing); return its
    result and duration in ms."""
    t0 = time.perf_counter()
    with ctx.tracer.span(name, op):
        if ctx.jobs is None:
            out = fn()
        else:
            with ctx.jobs.group(group):
                out = fn()
    return out, (time.perf_counter() - t0) * 1e3


def _job_layers(ctx: Context, i: int) -> dict:
    b = ctx.jobs.counts(f"{i}.build")
    r = ctx.jobs.counts(f"{i}.run")
    both = {k: b[k] + r[k] for k in b}
    return {
        "operators.build_jobs": b["jobs"],
        "scheduler.jobs": both["jobs"],
        "scheduler.stages": both["stages"],
        "scheduler.tasks": both["tasks"],
        "exchange.count": both["exchanges"],
        "exchange.shuffle_bytes": both["shuffle_bytes"],
        "exchange.shuffle_records": both["shuffle_records"],
        "exec.scan_rows": both["input_rows"],
        "exec.spill_bytes": both["spill_bytes"],
        "exec.peak_mem_bytes": max(b["peak_mem_bytes"], r["peak_mem_bytes"]),
    }


# ------------------------------------------------------------ analytics


class Analytics:
    """The 7 headline queries of bench.py, in a seed-shuffled order that
    is reshuffled every pass; each op is a fresh build plus toArrow()."""

    name = "analytics"
    # every table the seven queries read (all but `part`)
    tables = ("region", "nation", "customer", "supplier", "orders", "lineitem",
              "events", "documents", "embeddings")
    OPS = (
        "op17_agg_groupby",
        "op42_win_row_number_topk_group",
        "op39_join_multiway_star",
        "op69_stream_tumbling",
        "op80_sim_cosine_knn",
        "op75_dedup_exact",
        "op79_minhash_neardup",
    )
    ROWS_ONLY = ("op79_minhash_neardup",)
    WARMUP_PASSES = 1

    def make_inputs(self, work: str, seed: int, seconds: float) -> None:
        self.rng = random.Random(f"{self.name}-{seed}")
        self.order: list[str] = []

    def prepare(self, ctx: Context) -> None:
        pass

    def warmup(self, ctx: Context) -> None:
        for _ in range(self.WARMUP_PASSES):
            for name in self.OPS:
                ctx.ops[name].fn(ctx.spark, ctx.sf_dir).toArrow()

    def at_cycle_end(self) -> bool:
        return not self.order

    def run_op(self, ctx: Context, i: int) -> OpResult:
        if not self.order:
            self.order = list(self.OPS)
            self.rng.shuffle(self.order)
        name = self.order.pop()
        fn = ctx.ops[name].fn
        t0 = time.perf_counter()
        with ctx.tracer.span("op", i):
            df, build_ms = _timed_phase(
                ctx, f"{i}.build", "operators.build", i, lambda: fn(ctx.spark, ctx.sf_dir)
            )
            tbl, run_ms = _timed_phase(ctx, f"{i}.run", "exec.run", i, df.toArrow)
        res = OpResult(name, (time.perf_counter() - t0) * 1e3, tbl)
        if ctx.jobs is not None:
            res.layers = {
                "operators.build_ms": build_ms,
                "exec.run_ms": run_ms,
                "transfer.result_rows": tbl.num_rows,
                "transfer.result_bytes": tbl.nbytes,
                **_job_layers(ctx, i),
                **catalyst_ms(df),
                "python.worker_ms": plan_metrics(df)["python.worker_ms"],
            }
        return res

    def check(self, ctx: Context, results: list[OpResult]) -> dict[int, str]:
        con = duck_connect(ctx.sf_dir, self.tables)
        bad: dict[int, str] = {}
        reference: dict[str, pa.Table] = {}
        for i, r in enumerate(results):
            if r.error is not None:
                continue
            tbl = r.payload
            if r.label in self.ROWS_ONLY:
                ref = reference.setdefault(r.label, tbl)
                if tbl.num_rows == 0 or tbl.num_rows != ref.num_rows:
                    bad[i] = f"{r.label}: {tbl.num_rows} rows (first delivery {ref.num_rows})"
                continue
            if r.label not in reference:
                want = con.execute(ctx.ops[r.label].oracle).arrow()
                why = same_table(tbl, want)
                if why:
                    bad[i] = f"{r.label}: oracle mismatch: {why}"
                    continue
                reference[r.label] = tbl
                continue
            if not _arrow_equal(tbl, reference[r.label]):
                bad[i] = f"{r.label}: differs from its oracle-checked first delivery"
        con.close()
        return bad

    def detail(self, results: list[OpResult]) -> dict:
        return {}


class Pipeline(Analytics):
    """A batch op that runs Python workers: op185's Misra-Gries sketch
    pass is an Arrow-batched mapInPandas over the exploded words of
    `documents`, followed by an exact verify pass (two exchanges and a
    broadcast semi-join). Each op is a fresh build plus toArrow(),
    checked against the op's oracle like analytics."""

    name = "pipeline"
    tables = ("documents",)
    OPS = ("op185_heavy_hitters_mg",)
    ROWS_ONLY = ()
    # op latency keeps falling over the first ~12 runs of a process
    # (Python worker start, JIT): with 3 untimed runs, the timed ones
    # still fell by a third within a run
    WARMUP_PASSES = 5


def _arrow_equal(a: pa.Table, b: pa.Table) -> bool:
    if a.schema != b.schema or a.num_rows != b.num_rows:
        return False
    keys = [(c, "ascending") for c in a.column_names]
    try:
        return a.sort_by(keys).equals(b.sort_by(keys))
    except (pa.ArrowNotImplementedError, pa.ArrowInvalid):
        return canonical_rows(a) == canonical_rows(b)


# ------------------------------------------------------------ search


class Search:
    """GET /datasets traffic: find_datasets plus toArrow() of its page,
    over a dataset frame derived from the warm `orders` table."""

    name = "search"
    tables = ("orders",)

    def make_inputs(self, work: str, seed: int, seconds: float) -> None:
        self.stream = SearchStream(seed)
        self.walk: tuple[SearchRequest, int, int] | None = None  # (req, pages left, last id)
        self.seen: set = set()
        self.repeats = 0

    def prepare(self, ctx: Context) -> None:
        from pyspark.sql import functions as F

        from ocdb_server_spark.io import load_table
        from ocdb_server_spark.search import SearchColumns

        o = load_table(ctx.spark, ctx.sf_dir, "orders")
        self.frame = o.select(
            F.col("o_orderkey").alias("id"),
            (F.col("o_custkey") % 360 - 180).alias("x"),
            ((F.col("o_orderkey") * 7) % 180 - 90).alias("y"),
            F.col("o_orderdate").alias("t"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        self.cols = SearchColumns(x="x", y="y", t_start="t", group="priority",
                                  status="status", order_key="id")

    # latency keeps falling for ~50 requests of a fresh process (JIT)
    WARMUP_SECONDS = 8

    def warmup(self, ctx: Context) -> None:
        warm = SearchStream(ctx.seed + 1_000_003)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.WARMUP_SECONDS:
            self._request(ctx, warm.next(), None, -1)

    # A cycle is two rounds of the 12 kinds (about 28 requests). One
    # round takes about 5 s, close to --seconds, so ending on single
    # rounds left some runs with one round and others with two, and the
    # one-round runs read only the slower first round.
    ROUNDS_PER_CYCLE = 2

    def at_cycle_end(self) -> bool:
        return (self.stream.round_done() and self.walk is None
                and self.stream.rounds % self.ROUNDS_PER_CYCLE == 0)

    def _next(self) -> tuple[SearchRequest, int | None]:
        if self.walk is not None:
            req, left, last = self.walk
            self.walk = (req, left - 1, last) if left > 1 else None
            return req, last
        req = self.stream.next()
        if req.pages > 1:
            self.walk = (req, req.pages - 1, -1)
        return req, None

    def _query(self, req: SearchRequest, after: int | None):
        from ocdb_server_spark.search import DatasetQuery

        return DatasetQuery(
            expr=req.expr.expr() if req.expr else None,
            region=req.region,
            time=req.time,
            pname=list(req.pname),
            status=req.status,
            offset=req.offset if req.pages == 1 else 0,
            count=req.count,
            geojson=req.geojson,
            after=None if after is None else (after,),
        )

    def _request(self, ctx: Context, req, after, i):
        from ocdb_server_spark.search import find_datasets

        q = self._query(req, after)
        res, find_ms = _timed_phase(
            ctx, f"{i}.build", "search.find", i, lambda: find_datasets(self.frame, q, self.cols)
        )
        tbl, page_ms = _timed_phase(ctx, f"{i}.run", "search.page", i, res.datasets.toArrow)
        return res, tbl, find_ms, page_ms

    def run_op(self, ctx: Context, i: int) -> OpResult:
        req, after = self._next()
        key = (req, after)
        if key in self.seen:
            self.repeats += 1
        self.seen.add(key)
        t0 = time.perf_counter()
        with ctx.tracer.span("op", i):
            res, tbl, find_ms, page_ms = self._request(ctx, req, after, i)
        ms = (time.perf_counter() - t0) * 1e3
        ids = tbl.column("id").to_pylist()
        if self.walk is not None and self.walk[0] is req:
            if ids:
                self.walk = (req, self.walk[1], ids[-1])
            else:
                self.walk = None  # walked off the end of the hits
        payload = {
            "total": res.total_count,
            "ids": ids,
            "xs": tbl.column("x").to_pylist(),
            "ys": tbl.column("y").to_pylist(),
            "geojson": tbl.column("geojson").to_pylist() if req.geojson else None,
        }
        out = OpResult(req.kind, ms, (key, payload))
        if ctx.jobs is not None:
            from ocdb_server_spark.plans.expr_compiler import compile_expr

            compile_ms = 0.0
            if req.expr is not None:
                c0 = time.perf_counter()
                compile_expr(req.expr.expr(), [])
                compile_ms = (time.perf_counter() - c0) * 1e3
            pm = plan_metrics(res.datasets)
            out.layers = {
                "operators.build_ms": find_ms,
                "exec.run_ms": page_ms,
                "search.find_ms": find_ms,
                "search.page_ms": page_ms,
                "plans.compile_ms": compile_ms,
                "search.rows_examined_per_returned": pm["plan.scan_rows"] / max(1, tbl.num_rows),
                "transfer.result_rows": tbl.num_rows,
                "transfer.result_bytes": tbl.nbytes,
                **_job_layers(ctx, i),
                **catalyst_ms(res.datasets),
                "python.worker_ms": pm["python.worker_ms"],
            }
        return out

    def check(self, ctx: Context, results: list[OpResult]) -> dict[int, str]:
        con = duck_connect(ctx.sf_dir, ("orders",))
        con.execute(f"CREATE VIEW ds AS {SEARCH_FRAME_SQL}")
        expected: dict = {}
        bad: dict[int, str] = {}
        for i, r in enumerate(results):
            if r.error is not None:
                continue
            (req, after), got = r.payload
            if (req, after) not in expected:
                total, ids, xs, ys = con.execute(req.page_sql(after)).fetchone()
                expected[(req, after)] = {
                    "total": total,
                    "ids": ids or [],
                    "xs": xs or [],
                    "ys": ys or [],
                    "geojson": [
                        json.dumps({"type": "Point", "coordinates": [x, y]}, separators=(",", ":"))
                        for x, y in zip(xs or [], ys or [])
                    ] if req.geojson else None,
                }
            want = expected[(req, after)]
            diff = [k for k in want if want[k] != got[k]]
            if diff:
                bad[i] = f"{req.kind} request: {', '.join(diff)} differ from DuckDB"
        con.close()
        return bad

    def detail(self, results: list[OpResult]) -> dict:
        return {"repeat_share": self.repeats / max(1, len(results))}


# ------------------------------------------------------------ ingest

BUCKETS = 32


class Ingest:
    """SeaBASS submission batches: read_seabass_corpus → validate →
    upsert_partitioned into a hash-bucket-partitioned store on disk."""

    name = "ingest"
    tables = ()
    # timed batches made per second of --seconds: about 4x what a run
    # uses at this commit, so a faster program does not run out; few
    # enough that generating them stays under a second
    BATCHES_PER_SECOND = 3
    # after the first batch (the cold first ingest of the process, about
    # 10 s), batch latency keeps falling for several more batches; a
    # count, not a time, so every run times the same batch numbers
    WARMUP_BATCHES = 4

    def make_inputs(self, work: str, seed: int, seconds: float) -> None:
        self.store = os.path.join(work, "store")
        n = 1 + self.WARMUP_BATCHES + int(seconds * self.BATCHES_PER_SECOND) + 1
        self.batches = write_batches(os.path.join(work, "seabass"), seed, n)

    def at_cycle_end(self) -> bool:
        return True

    def _rules(self):
        from pyspark.sql import functions as F

        from ocdb_server_spark.validation import custom, required

        rules = [required("dataset_id")]
        for name, (_d, _lo, _hi, vlo, vhi, sev) in FIELDS.items():
            rules.append(custom(
                f"range_{name}",
                (F.col("field") == name) & ~F.col("value").between(vlo, vhi),
                f"{name} outside [{vlo}, {vhi}]",
                sev,
            ))
        return rules

    def prepare(self, ctx: Context) -> None:
        self.rules = self._rules()

    def warmup(self, ctx: Context) -> None:
        for b in range(1 + self.WARMUP_BATCHES):
            self._ingest(ctx, b, -1)
        self.next_batch = 1 + self.WARMUP_BATCHES

    def _ingest(self, ctx: Context, b: int, i: int):
        from pyspark.sql import functions as F

        from ocdb_server_spark.sinks import upsert_partitioned
        from ocdb_server_spark.sources.seabass import read_seabass_corpus
        from ocdb_server_spark.validation import validate

        paths = [f.path for f in self.batches[b]]
        spark = ctx.spark
        with ctx.tracer.span("op", i):
            raw, read_ms = _timed_phase(
                ctx, f"{i}.build", "sources.read", i, lambda: read_seabass_corpus(spark, paths)
            )
            checked, validate_ms = _timed_phase(
                ctx, f"{i}.build", "validation.validate", i, lambda: validate(raw, self.rules)
            )
            rows = checked.withColumn("version", F.lit(b)).withColumn(
                "bucket", F.pmod(F.hash("dataset_id"), F.lit(BUCKETS))
            )
            _, upsert_ms = _timed_phase(
                ctx, f"{i}.run", "sinks.upsert", i,
                lambda: upsert_partitioned(spark, self.store, rows, ["dataset_id", "field", "value"],
                                           "version", "bucket"),
            )
        return raw, read_ms, validate_ms, upsert_ms

    def run_op(self, ctx: Context, i: int) -> OpResult:
        b = self.next_batch
        if b >= len(self.batches):
            raise RuntimeError("ingest ran out of generated batches")
        self.next_batch += 1
        before = _listing(self.store) if ctx.jobs is not None else None
        t0 = time.perf_counter()
        raw, read_ms, validate_ms, upsert_ms = self._ingest(ctx, b, i)
        out = OpResult(f"batch{b}", (time.perf_counter() - t0) * 1e3, b)
        if ctx.jobs is not None:
            after = _listing(self.store)
            written = {p: s for p, s in after.items() if before.get(p) != s}
            new_bytes = sum(f.nbytes for f in self.batches[b])
            out.layers = {
                "operators.build_ms": read_ms + validate_ms,
                "exec.run_ms": upsert_ms,
                "sources.read_ms": read_ms,
                "sources.scans": raw._jdf.queryExecution().analyzed().collectLeaves().size(),
                "validation.validate_ms": validate_ms,
                "sinks.upsert_ms": upsert_ms,
                "sinks.bytes_written": sum(written.values()),
                "sinks.files_written": len(written),
                "sinks.partitions_rewritten": len({os.path.dirname(p) for p in written}),
                "sinks.write_amp": sum(written.values()) / new_bytes,
                "transfer.result_rows": 0,
                "transfer.result_bytes": 0,
                **_job_layers(ctx, i),
            }
        return out

    def check(self, ctx: Context, results: list[OpResult]) -> dict[int, str]:
        # expected store: keep-latest per (dataset_id, field, value)
        # over every batch that ran, from an independent parse of the files
        ran = list(range(self.next_batch - len(results))) + [
            r.payload for r in results if r.error is None
        ]
        latest: dict[tuple, int] = {}
        submitted_in: dict[str, int] = {}
        for b in ran:
            for f in self.batches[b]:
                submitted_in[f.dataset_id] = b
                for fld, v in parse_seabass_file(f.path):
                    latest[(f.dataset_id, fld, v)] = b
        want = {(ds, fld, v, b, expected_status(fld, v)) for (ds, fld, v), b in latest.items()}
        tbl = pads.dataset(self.store, format="parquet", partitioning="hive").to_table(
            columns=["dataset_id", "field", "value", "version", "status", "bucket"]
        )
        cols = [tbl.column(c).to_pylist() for c in tbl.column_names]
        got_rows = list(zip(*cols))
        got = {r[:5] for r in got_rows}
        bad_ds = {r[0] for r in want ^ got}
        if len(got_rows) != len(got):  # a key stored twice
            seen: set = set()
            bad_ds |= {r[0] for r in got_rows if r[:5] in seen or seen.add(r[:5])}
        buckets: dict[str, set] = {}
        for r in got_rows:
            buckets.setdefault(r[0], set()).add(r[5])
        bad_ds |= {ds for ds, bs in buckets.items() if len(bs) != 1}
        self.store_rows = len(got_rows)
        self.layer_totals = {
            "sinks.store_bytes_per_obs": sum(_listing(self.store).values()) / max(1, len(got_rows))
        }
        self.status_counts = {s: sum(1 for r in got_rows if r[4] == s) for s in ("OK", "WARNING", "ERROR")}
        # a wrong row fails the timed batch that last submitted its
        # dataset; a wrong row from the untimed batches fails every
        # timed batch, as all build on them
        failing = {submitted_in.get(ds, 0) for ds in bad_ds}
        first_timed = self.next_batch - len(results)
        all_fail = any(b < first_timed for b in failing)
        return {
            i: f"{r.label}: store contents differ from the expected upsert result"
            for i, r in enumerate(results)
            if r.error is None and (all_fail or r.payload in failing)
        }

    def detail(self, results: list[OpResult]) -> dict:
        return {"store_rows": getattr(self, "store_rows", None),
                "status_counts": getattr(self, "status_counts", None)}


def _listing(root: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


WORKLOADS = {w.name: w for w in (Search, Ingest, Pipeline, Analytics)}
