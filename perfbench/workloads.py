"""The three benchmark workloads.

Each workload generates its inputs from the seed (``__init__``, outside
every timed window), adds its own preparation to each session set-up
(``prepare``), runs a short unmeasured ``prime`` and then the measured
closed loop (``run``), and ``after`` it any unmeasured re-checks. Every
query's and read's result is kept and checked after the loop
(``verify``). The ETL loop checks each load and merge on disk between
operations, before the next load overwrites them; that time is outside
every operation's latency and outside ``ops_per_s``, which divides by
the operations' own time.

- ``serve_headline``: the dashboard/report shape. Half as many client
  threads as cores take the 13 headline queries from shared seeded decks, fetch the
  prepared plan from the registry's plan cache, add ``where(lit(True))``
  so every request gets a fresh physical plan (and re-runs its scans and
  shuffles), and collect.
- ``llm_batch_cold``: first-run LLM-data jobs. One client builds each of
  twelve dedup / similarity / search / text queries from scratch
  (``Query.build``, no plan cache) and collects it, in a seeded order.
  The loop always runs whole cycles of the twelve, so every run measures
  the same mix of operations.
- ``etl_refresh``: the write path beside reads. One client refreshes one
  fiscal year per cycle: ingest the year's sheets and load them as the
  two parquet tiers, merge the clean tier into a transaction-log table
  keyed on (year, state, dims), then serve dashboard reads from the
  table's head snapshot. The table covers a fixed set of years, so once
  each year has loaded every merge is an upsert and the table stops
  growing; the prime runs those first loads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

import check
import corpus
import sheets

# The 13 headline queries of bench.py, copied so the benchmark's
# workload does not change when that script does.
HEADLINE = [
    "revenue_by_nation",
    "pricing_summary",
    "top10_brands_by_revenue",
    "filter_in_agg",
    "pivot_priority_status",
    "unpivot_lineitem_measures",
    "top3_orders_per_priority",
    "events_hourly_window",
    "json_props_agg",
    "events_typed_agg",
    "dedup_prefix_keepers",
    "text_token_stats",
    "embedding_norms",
]

LLM_BATCH = [
    "jaccard_pair_similarity",
    "minhash_verified_dup_clusters",
    "mutual_knn_dedup_clusters",
    "simhash_dup_clusters",
    "dedup_transitive_clusters",
    "bm25_search_top10",
    "embedding_near_dup_top20",
    "knn_graph_topk",
    "chunk_dedup_reassembly",
    "dedup_prefix_keepers",
    "text_token_stats",
    "top_tokens",
]
# No DuckDB oracle in the registry (approximate by design), or one whose
# recursive closure takes longer than a whole benchmark run (about 10 s
# even at sf0.001): these run again after the measured loop and must
# match their first execution.
LLM_SELF_CHECKED = {
    "minhash_verified_dup_clusters",
    "simhash_dup_clusters",
    "mutual_knn_dedup_clusters",
}


def _result(df, rows) -> tuple[list[str], list[tuple]]:
    return list(df.columns), [tuple(r) for r in rows]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class _CorpusWorkload:
    """Shared by the two query workloads: a seeded corpus at ``sf`` and
    the digest each query must produce."""

    sf: float
    queries: list[str]
    self_checked: set[str] = set()

    def __init__(self, work: str, seed: int, threads: int):
        from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

        self.seed = seed
        self.threads = self.clients = threads
        self.sf_dir = os.path.join(work, "corpus")
        self.inputs = corpus.write(self.sf_dir, seed, self.sf)
        self.expected = check.oracle_digests(
            self.sf_dir,
            {n: REGISTRY[n].oracle for n in self.queries if n not in self.self_checked},
            threads,
        )

    def _clients(self, client, n: int | None = None) -> list[dict]:
        """Run ``client(c, out)`` on ``n`` threads (default: one per
        client); all their ops."""
        import threading

        out: list[list[dict]] = [[] for _ in range(n or self.clients)]
        threads = [threading.Thread(target=client, args=(c, out[c])) for c in range(len(out))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for c, recs in enumerate(out):
            for rec in recs:
                rec["client"] = c
        return [rec for recs in out for rec in recs]

    def _whole_decks(self, spark, tracer, seconds: float, seed, names: list[str]) -> list[dict]:
        """The closed loop: each client takes the next query from one shared
        deck of ``names`` in seeded order as soon as its previous query
        returns. A new deck is dealt only while time is left, so a run
        always executes whole decks: the same mix of queries whatever the
        seed, and at least one deck. Each op records its deck's number."""
        import threading
        import time

        rng = np.random.default_rng(seed)
        lock = threading.Lock()
        deck: list[str] = []
        dealt = 0
        deadline = time.perf_counter() + seconds

        def next_query() -> tuple[str, int] | None:
            nonlocal dealt
            with lock:
                if not deck and (not dealt or time.perf_counter() < deadline):
                    deck.extend(str(n) for n in rng.permutation(names))
                    dealt += 1
                return (deck.pop(0), dealt) if deck else None

        def client(c, out):
            while (picked := next_query()) is not None:
                name, number = picked
                out.append(self._op(spark, tracer, f"c{c}-{len(out)}", name))
                out[-1]["deck"] = number

        return self._clients(client)

    def verify(self, ops: list[dict]) -> None:
        """Set ``ok`` on every operation: its digest equals the expected one."""
        for rec in ops:
            if "error" in rec:
                rec["ok"] = False
                continue
            got = check.digest(*rec.pop("result"))
            want = self.expected.setdefault(rec["name"], got)
            rec["ok"] = got == want
            if not rec["ok"]:
                rec["error"] = f"rows/hash {got} != expected {want}"


class ServeHeadline(_CorpusWorkload):
    sf = 0.1
    cold = False
    queries = HEADLINE

    def __init__(self, work, seed, threads):
        super().__init__(work, seed, threads)
        # Half the cores: with one client per core the host is saturated
        # and a run measures the OS scheduler and other tenants' CPU use
        # more than the engine.
        self.clients = max(1, threads // 2)

    def prepare(self, spark) -> None:
        self._plans: dict[str, object] = {}  # the registry's cache is per session

    def _op(self, spark, tracer, op_id: str, name: str) -> dict:
        from pyspark.sql import functions as F

        from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

        with tracer.op(op_id, "query", name) as rec:
            try:
                with tracer.span("registry.build"):
                    base = REGISTRY[name].fn(spark, self.sf_dir)
                with tracer.span("catalyst.plan"):
                    df = base.where(F.lit(True))
                    df._jdf.queryExecution().executedPlan()
                rec["result"] = _result(df, df.collect())
            except Exception as e:  # counted as a failed operation
                rec["error"] = repr(e)
                return rec
        # A hit returns the very DataFrame the previous call returned.
        rec["cache_hit"] = base is self._plans.get(name)
        self._plans[name] = base
        return rec

    def prime(self, spark, tracer) -> list[dict]:
        """The first request of each query, spread over the clients, then
        plan-cache lookups until every query hits (at most three rounds):
        the first build of ``events_typed_agg`` materializes a derived
        table whose marker is part of the cache's staleness token, so
        plans cached before it are built once more."""
        from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

        def client(c, out):
            for name in HEADLINE[c::self.threads]:
                out.append(self._op(spark, tracer, f"prime-{name}", name))

        ops = self._clients(client, self.threads)  # unmeasured: all cores
        for _ in range(3):
            plans = {n: REGISTRY[n].fn(spark, self.sf_dir) for n in HEADLINE}
            if all(plans[n] is self._plans.get(n) for n in HEADLINE):
                break
            self._plans = plans
        return ops

    def run(self, spark, tracer, seconds: float) -> list[dict]:
        return self._whole_decks(spark, tracer, seconds, [self.seed, 1], HEADLINE)

    def after(self, spark, tracer) -> list[dict]:
        return []


class LlmBatchCold(_CorpusWorkload):
    sf = 0.01
    cold = True
    queries = LLM_BATCH
    self_checked = LLM_SELF_CHECKED

    def __init__(self, work, seed, threads):
        super().__init__(work, seed, threads)
        self.clients = 1

    def prepare(self, spark) -> None:
        pass

    def _op(self, spark, tracer, op_id: str, name: str) -> dict:
        from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

        with tracer.op(op_id, "query", name) as rec:
            try:
                with tracer.span("registry.build"):
                    df = REGISTRY[name].build(spark, self.sf_dir)
                with tracer.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                rec["result"] = _result(df, df.collect())
            except Exception as e:  # counted as a failed operation
                rec["error"] = repr(e)
        rec["cache_hit"] = False
        return rec

    def prime(self, spark, tracer) -> list[dict]:
        """Nothing: the batch is cold by design."""
        return []

    def run(self, spark, tracer, seconds: float) -> list[dict]:
        return self._whole_decks(spark, tracer, seconds, [self.seed, 2], LLM_BATCH)

    def after(self, spark, tracer) -> list[dict]:
        """Second executions of the self-checked queries, concurrently."""
        from concurrent.futures import ThreadPoolExecutor

        names = [n for n in LLM_BATCH if n in LLM_SELF_CHECKED]
        with ThreadPoolExecutor(len(names)) as pool:
            return list(pool.map(lambda n: self._op(spark, tracer, f"again-{n}", n), names))


class EtlRefresh:
    """Sized from the reference ETL: its run over the full AIHW
    admitted-patient-care workbook set extracts 314,672 tidy rows. Each
    refresh reloads one fiscal year of about 35k tidy rows, a ninth of
    that (76 principal diagnoses per category; 228 would give the full
    volume in one year), and the table holds two years, about 70k rows:
    with three, the prime alone took 30-40 s and a run no longer fitted
    the benchmark's time budget. After each refresh one dashboard view
    reads the head snapshot: the cube that serves the reference's
    state, year and category widgets, and the top-10 category pie."""

    years = (2020, 2021)
    reads_per_cycle = 2
    # Two cycles take longer than a run's --seconds, so every run
    # measures two: one cycle gave a single sample of each operation,
    # which spread too widely between runs, and a third did not fit the
    # benchmark's time budget.
    min_cycles = 2
    diag_per_category = 76
    clients = 1
    cold = False

    def __init__(self, work: str, seed: int, threads: int):
        self.seed = seed
        self.base = os.path.join(work, "etl")
        self.table_root = os.path.join(self.base, "admissions_txlog")
        self.model = sheets.TableModel()
        self.cycle = 0
        self.rng = np.random.default_rng([seed, 3])
        # The prime's batches; each later cycle generates its own batch
        # outside its operations.
        self.first = [self._batch(y) for y in self.years]
        b = self.first[0]
        self.inputs = {"sheets_per_year": {
            "sheets": len(b.sheets),
            "rows": sum(len(rows) for rows, _ in b.sheets),
            "bytes": sum(len(repr(rows)) for rows, _ in b.sheets),
            "tidy_rows": len(b.records),
        }, "tidy_rows_all_years": sum(len(b.records) for b in self.first)}

    def _batch(self, year: int) -> sheets.Batch:
        self.cycle += 1
        return sheets.Batch(self.seed, self.cycle, year, self.diag_per_category)

    def prepare(self, spark) -> None:
        pass

    def _table(self):
        from healthcare_aihw_etl_pipeline_spark.sources.txlog import TxLogTable

        return TxLogTable(self.table_root, partition_by=["year"])

    def _cycle(self, spark, tracer, tag: str, batches: list[sheets.Batch], reads: int) -> list[dict]:
        """Load, merge and ``reads`` dashboard reads: one refresh of the
        years in ``batches``."""
        from healthcare_aihw_etl_pipeline_spark.plans import analytics
        from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
            compile_sheets,
            load_two_tier,
        )

        years = "-".join(str(b.year) for b in batches)
        ops = []
        with tracer.op(f"{tag}-{years}-load", "load", "two_tier") as rec:
            try:
                with tracer.span("sheet_ingest.compile"):
                    tidy = compile_sheets(spark, [s for b in batches for s in b.sheets])
                with tracer.span("sheet_ingest.load"):
                    staging, clean = load_two_tier(tidy, self.base)
            except Exception as e:  # counted as a failed operation
                rec["error"] = repr(e)
        ops.append(rec)
        if "error" in rec:
            return ops
        self._check_load(rec, batches, staging, clean)

        table = self._table()
        before = table.head()
        with tracer.op(f"{tag}-{years}-merge", "merge", "upsert") as rec:
            try:
                with tracer.span("txlog.merge"):
                    table.merge(spark.read.parquet(clean), ["year", "state", *sheets.DIMS])
            except Exception as e:  # counted as a failed operation
                rec["error"] = repr(e)
        ops.append(rec)
        if "error" in rec:
            return ops
        for b in batches:
            self.model.merge(b.year, sheets.clean_rows(b.records))
        self._check_merge(rec, table, before)

        rng = self.rng
        for r in range(reads):
            sel = {
                "year": sorted(int(y) for y in rng.choice(self.years, int(rng.integers(1, 3)), replace=False)),
                "state": sorted(str(s) for s in rng.choice(sheets.STATES, int(rng.integers(2, 7)), replace=False)),
                "category": sorted(str(c) for c in rng.choice(sheets.CATEGORIES, int(rng.integers(2, 9)), replace=False)),
            }
            widget = ("widget_cube", "category_top10")[r % 2]
            with tracer.op(f"{tag}-read{r}", "read", widget) as rec:
                try:
                    with tracer.span("txlog.snapshot"):
                        snap = table.snapshot(spark)
                    with tracer.span("analytics.read"):
                        df = getattr(analytics, widget)(
                            analytics.interactive_filter(analytics.harmonize(snap), sel)
                        )
                        rec["result"] = _result(df, df.collect())
                except Exception as e:  # counted as a failed operation
                    rec["error"] = repr(e)
            rec["expected"] = check.digest(*getattr(self.model, widget)(sel))
            ops.append(rec)
        return ops

    def _check_load(self, rec: dict, batches: list[sheets.Batch], staging: str, clean: str) -> None:
        n = sum(len(b.records) for b in batches)
        want = sum(v for b in batches for _, _, v in b.records)
        st = pq.read_table(staging, columns=["separations"])
        cl = pq.read_table(clean, columns=["separations"])
        rec["rows_out"] = st.num_rows
        rec["bytes_written"] = _dir_bytes(staging) + _dir_bytes(clean)
        got = (st.num_rows, sum(st.column(0).to_pylist()), sum(cl.column(0).to_pylist()))
        if got != (n, want, want):
            rec["error"] = f"staging rows/sum, clean sum {got} != {(n, want, want)}"

    def _check_merge(self, rec: dict, table, before) -> None:
        _, manifest = table.head()
        old = set(before[1]["files"]) if before else set()
        new = set(manifest["files"])
        added = new - old
        keys, total, live_bytes, live_rows = set(), 0.0, 0, 0
        for rel in manifest["files"]:
            path = os.path.join(table.data_dir, rel)
            live_bytes += os.path.getsize(path)
            year = int(rel.split("year=")[1].split(os.sep)[0])
            t = pq.read_table(path, columns=["state", *sheets.DIMS, "separations"]).to_pydict()
            keys.update((year, *k) for k in zip(t["state"], *(t[d] for d in sheets.DIMS)))
            total += sum(t["separations"])
            live_rows += len(t["separations"])
        rec["files_added"] = len(added)
        rec["files_removed"] = len(old - new)
        rec["bytes_rewritten"] = sum(os.path.getsize(os.path.join(table.data_dir, p)) for p in added)
        rec["stored_bytes_per_row"] = live_bytes / max(1, live_rows)
        want = (self.model.key_count(), self.model.key_count(), self.model.total())
        if (live_rows, len(keys), total) != want:
            rec["error"] = f"head rows/keys/sum {(live_rows, len(keys), total)} != {want}"

    def prime(self, spark, tracer) -> list[dict]:
        """The first load of every year in one batch, and one dashboard
        view: from here on each merge is an upsert of one year, and no
        measured operation is the first of its kind in the JVM."""
        return self._cycle(spark, tracer, "prime", self.first, self.reads_per_cycle)

    def run(self, spark, tracer, seconds: float) -> list[dict]:
        """Whole refresh cycles, at least ``min_cycles``, until the
        operations' own time (not the checks between them) reaches
        ``seconds``."""
        ops: list[dict] = []
        i = 0
        while i < self.min_cycles or sum(r["latency_s"] for r in ops) < seconds:
            year = self.years[int(self.rng.integers(0, len(self.years)))]
            cycle = self._cycle(spark, tracer, f"cycle{i}", [self._batch(year)], self.reads_per_cycle)
            i += 1
            for rec in cycle:
                rec["deck"] = i
            ops += cycle
        return ops

    def after(self, spark, tracer) -> list[dict]:
        return []

    def verify(self, ops: list[dict]) -> None:
        for rec in ops:
            if "error" in rec:
                rec["ok"] = False
            elif "expected" in rec:
                got = check.digest(*rec.pop("result"))
                rec["ok"] = got == rec["expected"]
                if not rec["ok"]:
                    rec["error"] = f"rows/hash {got} != expected {rec['expected']}"
            else:
                rec["ok"] = True


WORKLOADS = {
    "serve_headline": ServeHeadline,
    "llm_batch_cold": LlmBatchCold,
    "etl_refresh": EtlRefresh,
}
