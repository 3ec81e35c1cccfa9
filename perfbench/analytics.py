"""``analytics``: the read and analytics surface on top of the pipeline.

Two parts share one session, in this order.

1. An OLAP closed loop for ``--seconds``: one client refreshes a
   dashboard of registry queries from ``plans.timeseries``,
   ``windows``, ``joins``, ``relational`` and ``aggregates`` through
   the no-op sink, one query after another in a seeded order per
   refresh. The unit operation is one refresh (every query once); its
   time is the sum of each query's median over the window's refreshes.
   Two warm-up refreshes run first; the first collects the outputs
   for the oracle checks.
2. A cold corpus job: a fixed list of LLM-data-pipeline operators
   (dedup, ANN, text ranking, clustering) run once, each collected,
   over a per-run copy of the corpus tables in a directory no earlier
   call has seen. The operators' build-once memos are keyed on the
   table path, so every memo misses, as for a real new corpus job.

Neither part touches ``candle_log`` or ``snapshots``.
"""

from __future__ import annotations

import contextlib
import os
import time

from perfbench import oracle
from perfbench.common import Deadline, Run, percentile, summary
from perfbench.fixtures import TableSizes, write_tables
from tools.oracle_check import compare

# The row counts of the engine's sf0.1 fixtures (about 600k line items,
# 5,000 documents, 2,000 embeddings), the scale its own bench runs at.
# Each part only gets the tables it reads at that scale.
OLAP_SIZES = TableSizes(customers=15000, suppliers=1000, parts=20000, orders=150000,
                        events=100000, users=1500, documents=200, embeddings=100)
CORPUS_SIZES = TableSizes(customers=15, suppliers=10, parts=20, orders=150,
                          events=100, users=15, documents=5000, embeddings=2000)

# One query per plans module, each among the module's cheaper ones at
# sf0.1 (0.3-0.8 s warm on a 4-core VM), so a window holds several
# refreshes: a lag/lead window, a semi-join and a lateral top-N over the
# 150k orders, grouping sets, and the OHLCV resample over 100k events.
OLAP_QUERIES = {
    "timeseries": ["resample_ohlcv_1h"],
    "windows": ["event_deltas"],
    "joins": ["customers_with_urgent_orders"],
    "relational": ["top2_orders_lateral"],
    "aggregates": ["orders_grouping_sets"],
}
CORPUS_OPS = {
    "dedup": ["exact_dedup_docs"],
    "ann": ["cosine_topk_exact", "ann_cosine_topk_ivf"],
    "text": ["bm25_doc_ranking"],
    "cluster": ["kmeans_embedding_clusters"],
}
# the first pass loads the tables and compiles; the second still runs
# 20-40% slow while the JIT catches up, so the window starts after it
WARMUP_PASSES = 2
# the window runs at least this many refreshes, however slow the host,
# so every query's median rests on several samples
MIN_PASSES = 5
ANN_QUERIES, ANN_K = 10, 5
# operators without a DuckDB oracle: expected columns and row count
SHAPES = {
    **{q: (["q_id", "vec_id", "score", "rank"], lambda s: ANN_QUERIES * ANN_K)
       for q in CORPUS_OPS["ann"][1:]},
    "kmeans_embedding_clusters": (["vec_id", "cluster", "dist2"], lambda s: s.embeddings),
}
# the weakest recall the engine's own tests accept for any ANN tier
RECALL_FLOOR = 0.3


def _category(query: str) -> str:
    return next(c for c, qs in CORPUS_OPS.items() if query in qs)


class Analytics:
    name = "analytics"

    def __init__(self, run: Run):
        self.run = run
        self.olap_dir = os.path.join(run.work_dir, "olap")
        # a fresh directory name per run: the memo keys include it
        self.corpus_dir = os.path.join(run.work_dir, f"corpus-{run.seed}-{os.getpid()}")
        self.query_ms: list[float] = []
        self.pass_ms: list[float] = []
        self.warmup_pass_ms: list[float] = []
        self.per_query: dict[str, list[float]] = {}
        self.olap_out: dict = {}
        self.corpus_out: dict = {}
        self.corpus_op_ms: dict[str, float] = {}
        self.job_s = float("nan")
        self.olap_s = 0.0
        self.recall: dict[str, float] = {}

    def prepare(self, spark) -> None:
        write_tables(self.olap_dir, self.run.seed, OLAP_SIZES)
        write_tables(self.corpus_dir, self.run.seed + 1, CORPUS_SIZES)
        from ccxt_ohlcv_fetcher_spark.plans import load_all

        self.registry = load_all()
        self.olap = [q for qs in OLAP_QUERIES.values() for q in qs]

    def install_tracing(self, tracer, groups) -> None:
        from ccxt_ohlcv_fetcher_spark.sources import tables

        tracer.wrap_function(tables, "load_table", "tables.load_table")

    def _module(self, query: str) -> str:
        return self.registry[query].builder.__module__.rsplit(".", 1)[1]

    def _execute(self, query: str, table_dir: str, collect: bool):
        """Builder call, then the action; each a span of the query's plans
        module (and, for corpus operators, of its llm category)."""
        tracer = self.run.tracer
        mod = self._module(query)
        cat = _category(query) if mod == "llm" else None
        with tracer.span(f"llm.{cat}") if cat else contextlib.nullcontext():
            with tracer.span(f"plans.{mod}.build"):
                df = self.registry[query].builder(self.spark, table_dir)
            with tracer.span(f"plans.{mod}.exec"):
                if collect:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
        return None

    def warmup(self, spark) -> None:
        """Dashboard refreshes before the window; the first is collected
        for the checks. The corpus operators get no warm-up: their job is
        measured cold."""
        self.spark = spark
        for i in range(WARMUP_PASSES):
            t = time.perf_counter()
            for q in self.olap:
                if i == 0:
                    self.olap_out[q] = self.run.op(q, self._execute, q, self.olap_dir, True)
                else:
                    self.run.op(q, self._execute, q, self.olap_dir, False)
            self.warmup_pass_ms.append((time.perf_counter() - t) * 1000)

    def measure(self, spark, seconds: int, groups) -> None:
        """The closed loop for ``seconds``, then the cold corpus job."""
        run = self.run
        deadline = Deadline(seconds)
        t0 = time.perf_counter()
        while deadline.left() > 0 or len(self.pass_ms) < MIN_PASSES:
            # whole passes only, so every query has the same sample count
            t_pass = time.perf_counter()
            for i in run.rng.permutation(len(self.olap)):
                q = self.olap[i]
                groups.begin()
                t = time.perf_counter()
                run.op(q, self._execute, q, self.olap_dir, False)
                ms = (time.perf_counter() - t) * 1000
                groups.end()
                self.query_ms.append(ms)
                self.per_query.setdefault(q, []).append(ms)
            self.pass_ms.append((time.perf_counter() - t_pass) * 1000)
        self.olap_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        for qs in CORPUS_OPS.values():
            for q in qs:
                groups.begin()
                t = time.perf_counter()
                self.corpus_out[q] = run.op(q, self._execute, q, self.corpus_dir, True)
                self.corpus_op_ms[q] = (time.perf_counter() - t) * 1000
                groups.end()
        self.job_s = time.perf_counter() - t0

    def verify(self, spark) -> None:
        from ccxt_ohlcv_fetcher_spark.schemas import TABLE_NAMES

        run = self.run
        for table_dir, outputs in ((self.olap_dir, self.olap_out),
                                   (self.corpus_dir, self.corpus_out)):
            con = oracle.connect(table_dir, TABLE_NAMES)
            for q, got in outputs.items():
                if got is None:
                    continue  # raised; already counted as failed
                spec = self.registry[q]
                if spec.oracle is not None:
                    problem = "; ".join(compare(got, con.execute(spec.oracle).df())) or None
                else:
                    cols, rows = SHAPES[q]
                    problem = oracle.check_shape(got, cols, rows(CORPUS_SIZES))
                run.check(q, problem is None, problem or "")
            con.close()
        exact = self.corpus_out.get("cosine_topk_exact")
        for q in CORPUS_OPS["ann"][1:]:
            got = self.corpus_out.get(q)
            if exact is None or got is None:
                continue
            truth = exact.groupby("q_id")["vec_id"].apply(set)
            found = got.groupby("q_id")["vec_id"].apply(set)
            r = sum(len(truth[i] & found.get(i, set())) for i in truth.index) / (
                len(truth) * ANN_K
            )
            self.recall[q.rsplit("_", 1)[1]] = r
            run.check(f"{q} recall@{ANN_K}", r >= RECALL_FLOOR, f"{r:.3f} < {RECALL_FLOOR}")

    # --- results ----------------------------------------------------------

    def refresh_ms(self) -> float:
        """One dashboard refresh: the sum of each query's median. Unlike
        the median of whole refreshes, one slow query in one refresh
        moves only that query's sample."""
        return sum(percentile(v, 50) for v in self.per_query.values())

    def end_to_end(self) -> dict[str, float]:
        return {"op_p50_ms": self.refresh_ms(), "job_s": self.job_s}

    def details(self) -> dict:
        return {
            "queries_per_s": len(self.query_ms) / self.olap_s if self.olap_s else 0.0,
            "query_ms": summary(self.query_ms),
            "dashboard_pass_ms": summary(self.pass_ms),
            "warmup_pass_ms": self.warmup_pass_ms,
            "query_ms_by_query": {q: summary(v) for q, v in sorted(self.per_query.items())},
            "corpus_job_s": self.job_s,
            "corpus_op_ms": self.corpus_op_ms,
            "ann_recall_at_5": sum(self.recall.values()) / len(self.recall) if self.recall else None,
            "recall_at_5": self.recall,
        }

    def layers(self, tracer) -> dict[str, float]:
        out: dict[str, float] = {
            "tables.load_table_calls": len(tracer.durations_ms("tables.load_table")),
            "tables.load_table_ms": sum(tracer.durations_ms("tables.load_table")),
        }
        for mod in ("timeseries", "windows", "joins", "relational", "aggregates", "llm"):
            out[f"plans.{mod}.build_ms"] = sum(tracer.durations_ms(f"plans.{mod}.build"))
            out[f"plans.{mod}.exec_ms"] = sum(tracer.durations_ms(f"plans.{mod}.exec"))
        for cat in CORPUS_OPS:
            out[f"llm.{cat}_ms"] = sum(tracer.durations_ms(f"llm.{cat}"))
        out["llm.memo_build_ms"] = _actions_within(tracer, "plans.llm.build")
        for tier, r in self.recall.items():
            out[f"similarity.recall_at_{ANN_K}.{tier}"] = r
        return out


def _actions_within(tracer, parent_name: str) -> float:
    """Milliseconds of Spark actions run inside ``parent_name`` spans:
    the eager memo jobs a builder runs before returning its plan."""
    parents = {s.sid for s in tracer.spans if s.name == parent_name}
    by_id = {s.sid: s for s in tracer.spans}
    total = 0.0
    for s in tracer.spans:
        if s.name != "spark.action":
            continue
        p = s.parent
        while p is not None and p not in parents:
            p = by_id[p].parent if p in by_id else None
        if p is not None:
            total += s.dur * 1000
    return total
