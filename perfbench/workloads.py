"""The benchmark's workloads.

Each workload drives the package only through its public functions and
times closed-loop ops:

- ``analyst_mix``: an op is one analytics query collected with Arrow
  ``toPandas()`` -- a registered dashboard query (repeats every pass) or
  an ad-hoc ``MetricView.query`` slice (seeded, fresh each time).  One
  client.
- ``curation``: rounds of two ops on one client.  A chain pass runs the
  curation chain, each step a call into the public operator with a
  ``noop`` sink.  A refresh cycle runs ``run_pipeline`` on a warehouse
  that grows all run: anti-join against the fact, append a batch,
  quality gate over the whole fact, metric-layer overwrite.  The
  package builds dims and fact on two threads.

Outputs are checked against DuckDB outside the timed region (see
``checks``).
"""

from __future__ import annotations

import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
from tracing import SparkCounters, Tracer, catalyst_ms


@dataclass
class Op:
    """One timed op and what its check found."""

    key: str
    kind: str
    start: float
    end: float = 0.0
    client: int = 0
    traced: bool = False
    error: str | None = None
    rows: int | None = None
    digest: checks.Digest | None = None
    info: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.end - self.start


def _error(ex: BaseException) -> str:
    return f"{type(ex).__name__}: {str(ex).splitlines()[0][:300] if str(ex) else ''}"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def duckdb_twin(spec, dimensions: list[str], measures: list[str], where: str | None) -> str:
    """DuckDB SQL for a ``MetricViewSpec`` query, compiled independently
    of the package's Spark compiler: spec table names are DuckDB views."""
    select = [f"{spec.dimensions[d]} AS {d}" for d in dimensions]
    select += [f"{spec.measures[m]} AS {m}" for m in measures]
    lines = [f"SELECT {', '.join(select)}", f"FROM {spec.source}"]
    lines += [f"{j.how.upper()} JOIN {j.name} ON {j.on}" for j in spec.joins]
    conds = [c for c in (spec.filter, where) if c]
    if conds:
        lines.append("WHERE " + " AND ".join(f"({c})" for c in conds))
    if dimensions:
        lines.append("GROUP BY " + ", ".join(str(i + 1) for i in range(len(dimensions))))
    return "\n".join(lines)


class Workload:
    name = ""
    star_tables: list[str]

    def __init__(self, sf_dir: str, run_dir: str, seed: int, cores: int, smoke: bool, tracer: Tracer):
        self.sf_dir, self.run_dir, self.seed = sf_dir, run_dir, seed
        self.cores, self.smoke, self.tracer = cores, smoke, tracer
        self.spark = None
        self.expected: dict[str, checks.Digest] = {}
        #: expected frames of small results, for ``checks.close_enough``
        self.expected_frames: dict = {}
        self.oracle: checks.Oracle | None = None
        self.warmup_ops: list[Op] = []
        self.extra: dict = {}

    # -- inputs ------------------------------------------------------------
    def write_inputs(self) -> dict[str, int]:
        rows = gen.write_star(self.sf_dir, self.seed, self.sf, self.star_tables)
        rows.update(gen.write_corpus(self.sf_dir, self.seed, self.n_docs))
        return rows

    def tables(self) -> list[str]:
        return self.star_tables + gen.CORPUS_TABLES

    def open_oracle(self) -> checks.Oracle:
        if self.oracle is None:
            self.oracle = checks.Oracle(self.sf_dir, self.tables(), threads=2)
        return self.oracle

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.close()
            self.oracle = None

    # -- phases ------------------------------------------------------------
    def prepare(self, spark) -> None:
        """Per-session set-up a user pays before the first op."""
        self.spark = spark
        self.counters = SparkCounters(spark)

    def warmup(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float, trace: bool) -> list[Op]:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> None:
        """Compare every op's recorded output, warm-up included, against
        its expectation."""
        for op in self.warmup_ops + ops:
            if op.error is None and op.digest is not None:
                want = self.expected.get(op.key)
                if want is None:
                    op.error = f"CheckFailed: no expectation for {op.key}"
                elif op.digest != want and not (
                    "frame" in op.info
                    and checks.close_enough(op.info["frame"], self.expected_frames[op.key])
                ):
                    op.error = (
                        f"CheckFailed: {op.key}: got {op.digest.short()}, want {want.short()}"
                    )

    def timed(self, key: str, kind: str, fn, client: int = 0) -> Op:
        """Run ``fn(op)`` as one op; exceptions become a failed op.  A
        traced op also gets its Spark jobs, read after its end."""
        tr = self.tracer
        traced = tr.active and client == 0
        last_job = self.counters.max_job_id() if traced else None
        root = tr.start_op(key) if traced else None
        op = Op(key, kind, time.perf_counter(), client=client, traced=traced)
        try:
            fn(op)
        except Exception as ex:  # noqa: BLE001 - an op boundary: record and go on
            op.error = _error(ex)
            op.info["traceback"] = traceback.format_exc(limit=6)
        finally:
            op.end = time.perf_counter()
            if traced:
                tr.end_op(root)
        if traced:
            op.info["trace_op"] = root.op
            op.info["jobs"] = self.counters.jobs_after(last_job)
        return op


# --------------------------------------------------------------------------
# analyst_mix
# --------------------------------------------------------------------------
DASHBOARD = [
    "flagship_star_metrics",
    "metric_view_region",
    "agg_rollup",
    "join_chain_left",
    "window_topk_per_group",
    "events_session_window",
    "agg_percentile",
    "fact_build_transform",
    "fillna_after_left_join",
]
SLICES_PER_PASS = 11  # 20 ops a pass: a median with ten samples beyond it
#: ``--seconds`` sizes the measured work rather than stopping it by the
#: clock (a clock cut-off near a pass boundary makes the amount of work,
#: and so the figures, bimodal): one single-client pass per this many
#: seconds
PASS_BUDGET_S = 6

SLICE_DIMS = {
    "region": "region.r_name",
    "nation": "nation.n_name",
    "priority": "orders.o_orderpriority",
    "status": "orders.o_orderstatus",
    "segment": "customer.c_mktsegment",
    "order_year": "year(orders.o_orderdate)",
}
SLICE_MEASURES = {
    "order_count": "COUNT(*)",
    "avg_price": "AVG(orders.o_totalprice)",
    "max_price": "MAX(orders.o_totalprice)",
    "avg_balance": "AVG(customer.c_acctbal)",
    "urgent_pct": (
        "CAST(SUM(CASE WHEN orders.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE) "
        "/ COUNT(*)"
    ),
}


def slice_spec():
    """orders -> customer -> nation -> region, written in SQL that Spark
    and DuckDB read alike.  No ROUND: the two engines round a double
    that sits on a rounding boundary differently."""
    from gaming_ai_analytics_spark.plans.metric_view import JoinSpec, MetricViewSpec

    return MetricViewSpec(
        source="orders",
        filter="orders.o_totalprice IS NOT NULL",
        joins=[
            JoinSpec("customer", "orders.o_custkey = customer.c_custkey"),
            JoinSpec("nation", "customer.c_nationkey = nation.n_nationkey"),
            JoinSpec("region", "nation.n_regionkey = region.r_regionkey"),
        ],
        dimensions=dict(SLICE_DIMS),
        measures=dict(SLICE_MEASURES),
    )


def draw_slice(rng: np.random.Generator, i: int) -> tuple[list[str], list[str], str | None]:
    """The ``i``-th slice of a pass.  Its shape (how many dimensions and
    measures, which kind of filter) is fixed by ``i``, so every pass
    costs about the same at any seed; the names and constants are
    drawn."""
    dims = sorted(rng.choice(list(SLICE_DIMS), size=1 + i % 2, replace=False))
    measures = sorted(rng.choice(list(SLICE_MEASURES), size=1 + i % 3, replace=False))
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    where = [
        None,
        f"orders.o_orderdate >= TIMESTAMP '{int(rng.integers(1995, 2001))}-01-01'",
        f"customer.c_mktsegment = '{rng.choice(segments)}'",
        f"orders.o_totalprice > {int(rng.integers(1, 9)) * 50000}",
        f"region.r_name <> '{rng.choice(regions)}'",
    ][i % 5]
    return [str(d) for d in dims], [str(m) for m in measures], where


class AnalystMix(Workload):
    name = "analyst_mix"
    star_tables = list(gen.STAR_TABLES)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.sf = 0.001 if self.smoke else 0.05
        self.n_docs = 500 if self.smoke else 2500
        self.slices: dict[str, tuple] = {}

    def prepare(self, spark) -> None:
        from gaming_ai_analytics_spark import registry
        from gaming_ai_analytics_spark.plans.metric_view import MetricView
        from gaming_ai_analytics_spark.sources.star import load_table

        super().prepare(spark)
        queries = registry.queries()
        self.queries = {n: queries[n] for n in DASHBOARD}
        tables = {t: load_table(spark, self.sf_dir, t) for t in ("orders", "customer", "nation", "region")}
        self.view = MetricView(spark, slice_spec(), tables)

    def passes(self, rng: np.random.Generator):
        """Endless op stream, one pass at a time.  A pass is the
        dashboard in its fixed order with a seeded ad-hoc slice after
        each query and the rest at the end, so every pass has the same
        mix of op kinds."""
        while True:
            items = []
            for i in range(max(len(DASHBOARD), SLICES_PER_PASS)):
                if i < len(DASHBOARD):
                    items.append(("query", DASHBOARD[i]))
                if i < SLICES_PER_PASS:
                    dims, measures, where = draw_slice(rng, i)
                    key = f"slice:{'+'.join(dims)}|{'+'.join(measures)}|{where}"
                    self.slices[key] = (dims, measures, where)
                    items.append(("slice", key))
            yield items

    def run_op(self, kind: str, key: str, client: int = 0) -> Op:
        """One query, collected and digested."""
        tr = self.tracer
        out = {}

        def body(op: Op) -> None:
            with tr.span("queries.build"):
                if kind == "query":
                    out["df"] = self.queries[key](self.spark, self.sf_dir)
                else:
                    out["df"] = self.view.query(*self.slices[key])
            with tr.span("arrow.collect"):
                out["pdf"] = out["df"].toPandas()

        op = self.timed(key, kind, body, client)
        if op.error is None:
            if op.traced:
                op.info["catalyst"] = catalyst_ms(out["df"])
                op.info["result_bytes"] = int(out["pdf"].memory_usage(deep=True).sum())
            pdf = out["pdf"]
            op.rows = len(pdf)
            if op.kind == "slice":  # small; kept for a tolerant re-check
                op.info["frame"] = pdf
            try:
                op.digest = checks.digest(pdf)
            except checks.CheckFailed as ex:
                op.error = _error(ex)
        return op

    def warmup(self) -> None:
        """One whole pass, so every query's code paths are compiled
        before the clock starts, on ``cores`` threads, so cold JIT and
        codegen overlap, while DuckDB computes the dashboard's expected
        outputs."""
        from gaming_ai_analytics_spark import registry

        items = next(self.passes(np.random.default_rng([self.seed, 99])))
        oracles = registry.oracle_sql()

        def expect_dashboard() -> None:
            orc = self.open_oracle()
            for n in DASHBOARD:
                self.expected[n] = orc.digest(oracles[n])

        with ThreadPoolExecutor(self.cores) as pool:
            oracle = pool.submit(expect_dashboard)
            self.warmup_ops = list(pool.map(lambda it: self.run_op(*it, client=1), items))
            oracle.result()

    def measure(self, seconds: float, trace: bool) -> list[Op]:
        """Single-client passes, one per ``PASS_BUDGET_S`` of ``seconds``.
        Only one client: ``cores`` clients, each running Spark jobs on
        ``cores`` task threads, oversubscribed the host, and their
        throughput measured its scheduler more than the program."""
        tr = self.tracer
        units = max(1, round(seconds / PASS_BUDGET_S))
        ops: list[Op] = []
        stream = self.passes(np.random.default_rng([self.seed, 0]))
        for n in range(max(units, 1 + trace)):
            # traced runs alternate traced and untraced passes (at least
            # one of each); the difference of their medians is the
            # tracing overhead
            tr.active = trace and n % 2 == 0
            ops += [self.run_op(kind, key) for kind, key in next(stream)]
        tr.active = False
        return ops

    def check(self, ops: list[Op]) -> None:
        orc = self.open_oracle()
        spec = slice_spec()
        for key, (dims, measures, where) in self.slices.items():
            frame = orc.frame(duckdb_twin(spec, dims, measures, where))
            self.expected[key], self.expected_frames[key] = checks.digest(frame), frame
        super().check(ops)


# --------------------------------------------------------------------------
# curation (with the pipeline's refresh rounds)
# --------------------------------------------------------------------------
def curation_steps(spark, sf_dir: str, tracer: Tracer):
    """(span name, registered oracle, builder) per chain step.  The
    builders call the public functions the way the registered queries
    of the same name do, so the registry's oracles check them."""
    from pyspark.sql import functions as F

    from gaming_ai_analytics_spark.functions.text import (
        bpe_ish_token_count,
        doc_fingerprint,
        language_id,
        quality_score,
        token_count,
    )
    from gaming_ai_analytics_spark.operators.dedup import (
        exact_dedup_canonical,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        remove_duplicate_spans,
    )
    from gaming_ai_analytics_spark.operators.graph import connected_components_star
    from gaming_ai_analytics_spark.operators.parallelism import ensure_parallelism
    from gaming_ai_analytics_spark.operators.similarity import topk_similar
    from gaming_ai_analytics_spark.sources.star import load_nonempty_documents, load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    text = F.col("text")

    def text_profile():
        return (
            ensure_parallelism(docs)
            .filter(text.isNotNull())
            .select(
                "doc_id",
                token_count(text).alias("n_tokens"),
                bpe_ish_token_count(text).alias("n_bpe_tokens"),
                quality_score(text).alias("quality"),
                language_id(text).alias("lang_guess"),
                doc_fingerprint(text).alias("fingerprint"),
            )
        )

    def pairs():
        return ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)

    def clusters():
        # the lazy pair join executes inside connected_components_star
        # (its edge count and checkpoints), as in the registered
        # dedup_cluster_assign_star query
        with tracer.span("operators.ngram_jaccard_pairs"):
            edges = pairs()
        return connected_components_star(
            edges, "id_a", "id_b", small_graph_max_edges=1_000_000
        ).select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))

    probes = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("probe_id"), "embedding")
    return [
        ("functions.text_profile", "text_analysis_profile", text_profile),
        (
            "operators.exact_dedup_canonical",
            "dedup_exact_canonical",
            lambda: exact_dedup_canonical(docs.filter(text.isNotNull()), "doc_id", "text").select(
                "doc_id", "lang", "n_chars"
            ),
        ),
        (
            "operators.minhash_lsh_pairs",
            "dedup_minhash_lsh",
            lambda: minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.5),
        ),
        ("operators.connected_components_star", None, clusters),
        (
            "operators.remove_duplicate_spans",
            "duplicate_span_removal",
            lambda: remove_duplicate_spans(load_nonempty_documents(spark, sf_dir), k=8),
        ),
        ("operators.topk_similar", "similarity_topk", lambda: topk_similar(emb, probes, k=5)),
    ], pairs


def components(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """(node, smallest node of its component) for every node in ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in parent]


MIN_ROUNDS = 2
ROUND_BUDGET_S = 6  # --seconds per measured round (work, not a clock cut-off)


class Curation(Workload):
    name = "curation"
    star_tables = ["region", "nation", "supplier", "part"]  # the pipeline's dims

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.sf = 0.001 if self.smoke else 0.1
        self.n_docs = 300 if self.smoke else 2000
        self.batch = 30 if self.smoke else 200
        self.warehouse = os.path.join(self.run_dir, "warehouse")
        self.appended = 0

    def prepare(self, spark) -> None:
        super().prepare(spark)
        self.steps, self.pairs = curation_steps(spark, self.sf_dir, self.tracer)

    # -- the chain ---------------------------------------------------------
    def expect_chain(self) -> None:
        import pandas as pd

        from gaming_ai_analytics_spark import registry

        orc = self.open_oracle()
        oracles = registry.oracle_sql()
        for span, name, _ in self.steps:
            if name is not None:
                self.expected[span] = orc.digest(oracles[name])
        pairs = orc.frame(oracles["dedup_ngram_jaccard"])
        self.expected["operators.ngram_jaccard_pairs"] = checks.digest(pairs)
        comp = components(list(zip(pairs["id_a"].tolist(), pairs["id_b"].tolist())))
        self.expected["operators.connected_components_star"] = checks.digest(
            pd.DataFrame(comp, columns=["doc_id", "cluster_id"], dtype="int64")
        )

    def collectable(self) -> list[tuple]:
        return [(span, build) for span, _, build in self.steps] + [
            ("operators.ngram_jaccard_pairs", self.pairs)
        ]

    def collect(self, span: str, build) -> Op:
        """One step collected with ``toPandas()`` (warm-up and check)."""

        def body(op: Op) -> None:
            pdf = build().toPandas()
            op.rows, op.digest = len(pdf), checks.digest(pdf)

        return self.timed(span, "step", body, client=1)

    def chain_pass(self, client: int = 0) -> Op:
        tr = self.tracer

        def body(op: Op) -> None:
            for span, _, build in self.steps:
                t0 = time.perf_counter()
                with tr.span(span) as s:
                    df = build()
                    _noop(df)
                op.info.setdefault("steps", {})[span] = round(time.perf_counter() - t0, 4)
                if s is not None:
                    s.attrs["catalyst"] = catalyst_ms(df)

        return self.timed("pass", "pass", body, client)

    # -- the pipeline ------------------------------------------------------
    def cycle(self, kind: str, client: int = 0) -> Op:
        """One ``run_pipeline`` call appending a batch to the warehouse."""
        from gaming_ai_analytics_spark.config import PipelineConfig
        from gaming_ai_analytics_spark.plans.pipeline import run_pipeline

        cfg = PipelineConfig(warehouse_dir=self.warehouse, batch_size=self.batch)

        def body(op: Op) -> None:
            res = run_pipeline(self.spark, self.sf_dir, cfg)
            op.rows = res.fact_rows_appended
            if res.fact_rows_appended != self.batch:
                raise checks.CheckFailed(f"appended {res.fact_rows_appended} rows, want {self.batch}")
            if not res.quality_passed or res.metric_rows <= 0:
                raise checks.CheckFailed(f"bad pipeline result {res}")

        op = self.timed(kind, kind, body, client)
        self.appended += op.rows or 0
        return op

    def check_warehouse(self) -> None:
        """The fact holds every appended review once, each equal to the
        registered fact transform's DuckDB oracle row, and the metric
        layer equals the DuckDB twin of the metric spec over that
        fact."""
        from gaming_ai_analytics_spark import registry
        from gaming_ai_analytics_spark.constants import Layers
        from gaming_ai_analytics_spark.plans.pipeline import review_metric_spec
        from gaming_ai_analytics_spark.sources.io import table_path

        orc = self.open_oracle()
        fact = table_path(self.warehouse, Layers.FACT, "reviews")
        metric = table_path(self.warehouse, Layers.METRIC, "review_summary")
        orc.con.execute(f"CREATE OR REPLACE VIEW fact_reviews AS SELECT * FROM '{fact}/*.parquet'")
        rows, ids = orc.con.sql("SELECT count(*), count(DISTINCT review_id) FROM fact_reviews").fetchone()
        if rows != self.appended or ids != rows:
            raise checks.CheckFailed(f"fact has {rows} rows / {ids} ids, want {self.appended}")
        cols = "review_id, language, source, review_length, sponsored_review, sentiment_score, weighted_score"
        stray = orc.scalar(
            f"SELECT count(*) FROM (SELECT {cols} FROM fact_reviews EXCEPT ALL "
            f"SELECT {cols} FROM ({registry.oracle_sql()['fact_build_transform']}))"
        )
        if stray:
            raise checks.CheckFailed(f"{stray} fact rows differ from the fact-transform oracle")
        want = orc.digest(
            duckdb_twin(
                review_metric_spec(),
                ["language", "sponsored"],
                ["review_count", "avg_weighted_score", "positive_review_pct"],
                None,
            )
        )
        checks.expect("metric layer", orc.digest(f"SELECT * FROM '{metric}/*.parquet'"), want)

    # -- phases ------------------------------------------------------------
    def warmup(self) -> None:
        """On ``cores`` threads: the pipeline's first build into the empty
        warehouse, and each chain step collected and checked; DuckDB
        computes the expected outputs meanwhile.  Then one chain pass
        with the ``noop`` sink, whose code paths the collected steps do
        not compile: without it the measured passes still sped up pass
        by pass."""
        with ThreadPoolExecutor(self.cores) as pool:
            pipeline = pool.submit(self.cycle, "first_build", 1)
            steps = [pool.submit(self.collect, span, build) for span, build in self.collectable()]
            self.expect_chain()
            self.warmup_ops = [f.result() for f in steps] + [pipeline.result()]
        self.warmup_ops.append(self.chain_pass(client=1))
        self.extra["rows_out"] = {op.key: op.rows for op in self.warmup_ops if op.kind == "step"}

    def measure(self, seconds: float, trace: bool) -> list[Op]:
        """Rounds of one chain pass and one refresh cycle, one per
        ``ROUND_BUDGET_S`` of ``seconds``, at least ``MIN_ROUNDS`` and
        while the corpus has a batch left to append; traced runs
        alternate traced and untraced rounds."""
        tr = self.tracer
        ops: list[Op] = []
        for n in range(max(MIN_ROUNDS, round(seconds / ROUND_BUDGET_S))):
            if self.appended + self.batch > self.n_docs:
                break
            tr.active = trace and n % 2 == 0
            ops += [self.chain_pass(), self.cycle("refresh")]
        tr.active = False
        return ops

    def check(self, ops: list[Op]) -> None:
        try:
            self.check_warehouse()
        except Exception as ex:  # noqa: BLE001 - the last cycle carries it
            if ops[-1].error is None:
                ops[-1].error = _error(ex)
        super().check(ops)


WORKLOADS = {w.name: w for w in (AnalystMix, Curation)}
