"""The two workloads. Each one is a batch job that writes, followed by
the interactive queries a user runs against the same domain:

- ``medallion_etl``: the reference's ETL job plus its Query Runner
  (``api``), then the registry's SQL analytics queries;
- ``corpus_ingest``: corpus curation, a crawl increment and a streaming
  dedup ingest, then a nearest-neighbour query from the registry.

Set-up builds the inputs from the seed. A pass is then the job,
followed in a traced run by each query once. There is no warm-up pass:
within the benchmark's time budget one pass is all a run can afford,
and a scheduled job meets a fresh engine each time anyway. Query results
are checked against the DuckDB oracle, untimed.

Every operation has ``prepare`` (untimed), ``run`` (timed, one span per
layer call) and ``check`` (untimed).
"""

from __future__ import annotations

import os
import shutil

import inputs

#: every layer the benchmark times, by module name
LAYERS = ("plans.bronze", "plans.silver", "plans.gold", "plans.quality",
          "plans.forecasting", "queries.sql", "queries.llm", "api",
          "plans.corpus", "plans.crawl", "streaming.ingest")


class Workload:
    name = ""
    #: registry queries of the interactive part, and their layer
    QUERIES: tuple[str, ...] = ()
    QUERY_LAYER = ""
    #: sf0.1 tables the workload reads
    TABLES: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self._n = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup(self) -> None:
        """Write the sf0.1 tables the workload reads and the job's
        inputs, and open the DuckDB oracle over the same files."""
        import duckdb

        from medallion_data_pipeline_spark.queries import REGISTRY, _load

        _load()
        self.queries = {n: REGISTRY[n] for n in self.QUERIES}
        self.sf = self.path("sf0.1")
        inputs.sf_tables(self.sf, self.seed, self.cores, self.TABLES)
        self.setup_job()
        self.oracle = duckdb.connect()
        for entry in sorted(os.listdir(self.sf)):
            self.oracle.sql(f"CREATE VIEW {entry.split('.')[0]} AS SELECT * FROM "
                            f"read_parquet('{self.sf}/{entry}/*.parquet')")

    def count(self, sql: str) -> int:
        """One integer from the DuckDB oracle."""
        return int(self.oracle.sql(sql).fetchone()[0])

    def pass_ops(self, with_queries: bool) -> list[str]:
        """One closed-loop pass: the job, then, if asked, each query once."""
        return ["job", *self.queries] if with_queries else ["job"]

    def prepare(self, key: str) -> None:
        """Give the job a new, empty output directory."""
        if key == "job":
            self._n += 1
            self.out = self.path("ops", str(self._n))
            os.makedirs(self.out)

    def run(self, key: str, tracer) -> tuple[object, dict[str, float]]:
        """Run one operation; returns (outputs, step walls). A query
        fetches its whole result, as the Query Runner does."""
        if key == "job":
            return self.run_job(tracer)
        with tracer.layer(self.QUERY_LAYER):
            return self.queries[key].fn(self.spark, self.sf).toPandas(), {}

    def check(self, key: str, outputs) -> bool:
        """The job's own checks, or a query's value hash against the
        DuckDB oracle's on the same files."""
        if key == "job":
            return self.check_job(outputs)
        from tools.check_correctness import value_hash

        want = self.oracle.sql(self.queries[key].oracle).df()
        return (len(outputs) == len(want)
                and sorted(outputs.columns) == sorted(want.columns)
                and value_hash(outputs) == value_hash(want))

    def finish(self, key: str) -> None:
        shutil.rmtree(self.path("ops"), ignore_errors=True)

    def close(self) -> None:
        self.oracle.close()

    def setup_job(self) -> None:
        raise NotImplementedError

    def run_job(self, tracer) -> tuple[object, dict[str, float]]:
        raise NotImplementedError

    def check_job(self, outputs) -> bool:
        raise NotImplementedError


class MedallionEtl(Workload):
    """The reference's job: CSV landing -> bronze -> silver -> gold ->
    quality + reconciliation -> forecast, then the Query Runner (api)
    over the fresh warehouse."""

    name = "medallion_etl"
    N_ORDERS = 10_000
    QUERIES = ("monthly_sales", "q3_shipping_priority")
    QUERY_LAYER = "queries.sql"
    TABLES = ("region", "nation", "customer", "orders", "lineitem")

    def setup_job(self) -> None:
        self.csv = self.path("csv")
        self.landed = inputs.etl_csvs(self.spark, self.csv, self.seed, self.N_ORDERS)
        self.rejects = planted_rejects(self.csv)

    def run_job(self, tracer):
        import time

        from medallion_data_pipeline_spark.api import SAMPLE_QUERIES, MedallionEngine
        from medallion_data_pipeline_spark.plans import (
            bronze, forecasting, gold, quality, silver)

        spark, wh, out = self.spark, self.out, {}
        t0 = time.time()
        with tracer.layer("plans.bronze"):
            out["bronze"] = bronze.ingest_csv_dir(spark, self.csv, wh)
        with tracer.layer("plans.silver"):
            out["silver"] = silver.run_silver(spark, wh, run_id="bench")
        with tracer.layer("plans.gold"):
            out["gold"] = gold.run_gold(spark, wh)
        with tracer.layer("plans.quality"):
            out["dq"] = quality.run_quality_checks(spark, wh).collect()
            out["reconcile"] = quality.reconcile_silver_gold(spark, wh).collect()
        with tracer.layer("plans.forecasting"):
            out["forecasts"] = forecasting.run_forecasts(
                spark, wh, run_id="bench").count()
        t1 = time.time()
        with tracer.layer("api"):
            engine = MedallionEngine(spark, wh)
            engine.register_views()
            out["api"] = [len(engine.sql(q)[2]) for q in SAMPLE_QUERIES.values()]
            out["page"] = len(engine.page("gold", "monthly_sales_performance",
                                          limit=50, offset=50).collect())
        t2 = time.time()
        return out, {"etl_s": t1 - t0, "api_s": t2 - t1}

    def check_job(self, out) -> bool:
        """Every landed row reaches bronze; silver rejects exactly the
        rows the fixtures planted a fatal defect in and keeps the rest;
        each gold mart has as many rows as the DuckDB oracle finds
        groups in the silver tables; all 12 gold DQ checks pass;
        reconciliation compares two positive totals; forecasts, the
        Query Runner answers and the page are non-empty."""
        silver = {r.name: r for r in out["silver"]}
        return (out["bronze"] == self.landed
                and silver.keys() == self.landed.keys()
                and all(r.rows_in == self.landed[n]
                        and r.rows_rejected == self.rejects[n]
                        and r.rows_out + r.rows_rejected == r.rows_in
                        for n, r in silver.items())
                and out["gold"] == self.gold_groups()
                and len(out["dq"]) == 12 and all(r.passed for r in out["dq"])
                and len(out["reconcile"]) == 2
                and all(r.silver_value > 0 and r.gold_value > 0
                        for r in out["reconcile"])
                and out["forecasts"] > 0 and min(out["api"]) > 0
                and out["page"] == 50)

    def gold_groups(self) -> dict[str, int]:
        """Rows each gold mart must have: its grain, counted by DuckDB
        over the silver tables the job wrote (inner star joins; the
        dashboard left-joins every order)."""
        silver = {n: f"read_parquet('{self.out}/silver/{n}/*.parquet')"
                  for n in ("supply_orders", "products", "suppliers",
                            "warehouses", "retail_stores", "inventory")}
        month = "date_trunc('month', o.order_date)"
        return {
            "monthly_sales_performance": self.count(
                f"SELECT count(*) FROM (SELECT DISTINCT {month}, s.region_clean, "
                f"s.store_type_clean, p.main_category "
                f"FROM {silver['supply_orders']} o "
                f"JOIN {silver['retail_stores']} s ON o.retail_store_id = s.retail_store_id "
                f"JOIN {silver['products']} p ON o.product_id = p.product_id "
                f"WHERE o.status IN ('delivered', 'shipped'))"),
            "inventory_health_metrics": self.count(
                f"SELECT count(*) FROM (SELECT DISTINCT w.warehouse_id, "
                f"w.warehouse_name_clean, w.region_clean, p.main_category "
                f"FROM {silver['inventory']} i "
                f"JOIN {silver['warehouses']} w ON i.warehouse_id = w.warehouse_id "
                f"JOIN {silver['products']} p ON i.product_id = p.product_id)"),
            "supplier_performance_monthly": self.count(
                f"SELECT count(*) FROM (SELECT DISTINCT {month}, s.supplier_id, "
                f"s.supplier_name_clean FROM {silver['supply_orders']} o "
                f"JOIN {silver['products']} p ON o.product_id = p.product_id "
                f"JOIN {silver['suppliers']} s ON p.supplier_id = s.supplier_id)"),
            "supply_chain_dashboard": self.count(
                f"SELECT count(*) FROM {silver['supply_orders']}"),
        }


def planted_rejects(csv_dir: str) -> dict[str, int]:
    """Rows of each landed CSV that carry a defect silver must reject,
    found from the kinds of defect ``plans.fixtures`` plants: a required
    name that is a null sentinel, a required number or date with no
    digit in it, a negative stock quantity."""
    import pandas as pd

    from medallion_data_pipeline_spark.plans.fixtures import SENTINELS

    sentinels = {s.upper() for s in SENTINELS} | {"UNKNOWN"}

    def read(name):
        return pd.read_csv(os.path.join(csv_dir, f"{name}.csv"), dtype=str,
                           keep_default_na=False)

    def sentinel(col):
        return col.str.strip().str.upper().isin(sentinels)

    def no_digit(col):
        return ~col.str.contains(r"\d")

    p, o, inv = read("products"), read("supply_orders"), read("inventory")
    return {
        "suppliers": int(sentinel(read("suppliers").supplier_name).sum()),
        "products": int((sentinel(p.product_name) | no_digit(p.unit_cost)
                         | no_digit(p.selling_price)).sum()),
        "warehouses": int(sentinel(read("warehouses").warehouse_name).sum()),
        "retail_stores": int(sentinel(read("retail_stores").store_name).sum()),
        "inventory": int((inv.quantity_on_hand.astype(int) < 0).sum()),
        "supply_orders": int((no_digit(o.quantity) | no_digit(o.price)
                              | no_digit(o.order_date)).sum()),
    }


class CorpusIngest(Workload):
    """The LLM-data write path: corpus curation, a crawl increment into a
    fresh epoch ledger, then a streaming dedup ingest drained one file
    per micro-batch, whose second batch probes the band index the first
    one wrote. A prior ledger for the crawl would cost a second crawl
    run in every set-up, which the run's time budget cannot pay."""

    name = "corpus_ingest"
    CRAWL_REPLICAS = 2
    STREAM_FILES = 2
    QUERIES = ("knn_cosine_ivf",)
    QUERY_LAYER = "queries.llm"
    TABLES = ("embeddings",)

    def setup_job(self) -> None:
        from medallion_data_pipeline_spark.plans import crawl

        self.docs, self.copies = inputs.documents(self.seed)
        inputs.write_table(self.docs, self.path("sf0.1", "documents.parquet"), 1)
        self.landing = self.path("landing")
        crawl.synthesize_crawl_shards(self.spark, self.sf, self.landing,
                                      replicas=self.CRAWL_REPLICAS,
                                      shards=self.cores)
        self.drops = self.path("drops")
        inputs.stream_drops(self.docs, self.drops, self.seed, self.STREAM_FILES)

    def run_job(self, tracer):
        import time

        from medallion_data_pipeline_spark.plans import corpus, crawl
        from medallion_data_pipeline_spark.streaming import ingest

        spark, o, walls, out = self.spark, self.out, {}, {}
        t = time.time()
        with tracer.layer("plans.corpus"):
            out["corpus"] = corpus.run_corpus_pipeline(
                spark, self.sf, os.path.join(o, "corpus"))
        walls["corpus_s"] = time.time() - t
        t = time.time()
        with tracer.layer("plans.crawl"):
            out["crawl"] = crawl.run_crawl_increment_epochs(
                spark, self.landing, os.path.join(o, "crawl"),
                seen_root=os.path.join(o, "ledger"))
        walls["crawl_increment_s"] = time.time() - t
        t = time.time()
        with tracer.layer("streaming.ingest"):
            ingest.run_dedup_ingest(spark, self.drops, os.path.join(o, "stream"),
                                    os.path.join(o, "checkpoint"))
        walls["stream_ingest_s"] = time.time() - t
        return out, walls

    #: share of planted near-copy pairs MinHash LSH may leave whole. The
    #: dedup operators use 3-word shingles and 16 hashes in 4 bands; the
    #: shortest planted copy (10 words plus one) has Jaccard similarity
    #: J >= 8/9 to its source, so LSH misses it with probability
    #: (1 - J**4)**4 < 0.02. The expected count of whole pairs is well
    #: under one; a dedup that does nothing leaves them all.
    NEAR_MISS = 0.03

    def check_job(self, out) -> bool:
        """Counted by DuckDB over what each step wrote:

        - corpus: the stages chain from all documents; exact dedup keeps
          one document per normalized text of the gated set; near dedup
          splits the planted near-copy pairs that reach it, up to LSH's
          miss rate (NEAR_MISS);
        - crawl: against the empty ledger the seen filter keeps every
          document; dedup keeps one document per text of the admitted
          set; the gates keep a non-empty subset;
        - stream: the accepted documents hold no exact copy, split the
          planted pairs up to LSH's miss rate, and are at least one per
          distinct text minus one per planted near copy."""
        o = self.out
        cur = {s.stage: s for s in out["corpus"]}
        crawl = {s.stage: s for s in out["crawl"]}
        stages = [s.stage for s in out["corpus"]]
        if (stages != ["quality_gate", "exact_dedup", "near_dedup", "split_and_pack"]
                or not {"dedup", "seen_filter", "quality_gate"} <= crawl.keys()):
            return False
        chained = all(a.rows_out == b.rows_in
                      for a, b in zip(out["corpus"], out["corpus"][1:]))
        norm = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

        def distinct(path):
            return self.count(f"SELECT count(DISTINCT {norm}) "
                              f"FROM read_parquet('{path}/**/*.parquet')")

        def whole_pairs(sql):
            ids = set(self.oracle.sql(sql).df().doc_id)
            return sum(a in ids and b in ids for a, b in self.copies["near"])

        def ids_in(path):
            return f"SELECT doc_id FROM read_parquet('{path}/**/*.parquet')"

        # pairs that reach near dedup: both members kept by exact dedup,
        # which keeps the lowest id per normalized text
        pairs_in = whole_pairs(f"SELECT min(doc_id) AS doc_id FROM read_parquet("
                               f"'{o}/corpus/filtered/*.parquet') GROUP BY {norm}")
        seen, gate, dedup = crawl["seen_filter"], crawl["quality_gate"], crawl["dedup"]
        stream = f"{o}/stream/silver/documents"
        accepted = self.count(f"SELECT count(*) FROM read_parquet('{stream}/*.parquet')")
        return (cur["quality_gate"].rows_in == len(self.docs) and chained
                and cur["exact_dedup"].rows_out == distinct(f"{o}/corpus/filtered")
                and whole_pairs(ids_in(f"{o}/corpus/dedup")) <= self.NEAR_MISS * pairs_in
                and cur["split_and_pack"].rows_out == cur["split_and_pack"].rows_in
                and 0 < seen.rows_out == seen.rows_in
                and dedup.rows_out == distinct(f"{o}/crawl/admitted")
                and 0 < gate.rows_out <= seen.rows_out
                and accepted == distinct(stream)
                and whole_pairs(ids_in(stream)) <= self.NEAR_MISS * len(self.copies["near"])
                and accepted >= self.docs.text.nunique() - len(self.copies["near"]))


WORKLOADS = {w.name: w for w in (MedallionEtl, CorpusIngest)}
