"""The refresh and read paths the benchmark drives, composed only from
the package's public functions.

One refresh is: landing JSONL read + quarantine (``sources``), melt and
range dispatch plus side/nested entity minting (``melt``), the SCD2
merge and commit (``versioned_store``), search-doc build plus an upsert
by ``db_identifier`` (``search``), and the V7 delta publish:
``changes_between(prev_t, t)`` → ``to_ntriples`` → text write
(``graph``). Reads go through ``api.QueryInterface``.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from catalog import (
    ENTITY_PROPERTIES,
    MODEL_FIELDS,
    PLAIN_PROPERTIES,
    PROPERTY_RANGES,
    VALUE_COLUMNS,
)
from mlentory_etl_pipeline_spark.api import QueryInterface
from mlentory_etl_pipeline_spark.operators import graph as graph_ops
from mlentory_etl_pipeline_spark.operators import search as search_ops
from mlentory_etl_pipeline_spark.operators import versioned_store as vs
from mlentory_etl_pipeline_spark.operators.melt import (
    melt,
    mint_nested_entities,
    mint_side_entities,
    range_dispatch,
)
from mlentory_etl_pipeline_spark.sources.files import quarantine, read_jsonl

from tracing import NO_TRACE, Tracer

EXTRACTION_METHOD = "Parsed_from_HF_dataset"
LAYERS = ("sources", "melt", "versioned_store", "search", "graph")
READ_OPS = ("lookup", "history", "search_prefix", "search_bm25", "graph_at", "changes_between", "counts")
POINT_OPS = ("lookup", "history")
# The landing JSON carries every field as a string (nested objects are
# JSON-encoded strings, as the extractors land them).
LANDING_SCHEMA = StructType([StructField(f, StringType()) for f in MODEL_FIELDS])


@dataclass
class RefreshOutcome:
    """What one refresh produced, for the checks and the per-layer
    counts."""

    wall_s: float
    quarantined: int
    delta_dir: str
    good: DataFrame
    docs: DataFrame
    melt_build_ms: float
    store_build_ms: float
    melt_rows: int


class Lake:
    """The committed state one benchmark run works on: the versioned
    store, the search-doc table and the delta N-Triples directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.store = vs.VersionedTripleStore(spark, os.path.join(root, "store"))
        self.docs_path = os.path.join(root, "docs")
        self.delta_root = os.path.join(root, "delta")
        self.schema_df = spark.createDataFrame(list(PROPERTY_RANGES), "property string, range string")

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.docs_path)

    def query_interface(self) -> QueryInterface:
        return QueryInterface(self.store, self.docs())

    def store_bytes(self) -> int:
        return sum(
            os.path.getsize(p)
            for name in vs.VersionedTripleStore.TABLE_NAMES
            for p in glob.glob(os.path.join(self.store.path, name, "*.parquet"))
        )

    # ---- refresh steps ----
    def _triples(self, good: DataFrame) -> DataFrame:
        long = melt(good, ["subject"], list(VALUE_COLUMNS)).where(F.col("value").isNotNull())
        plain = range_dispatch(long.where(F.col("property").isin(*PLAIN_PROPERTIES)), self.schema_df).select(
            "subject", F.col("property").alias("predicate"), "object"
        )
        spo = ("subject", "predicate", "object")
        side = mint_side_entities(long.where(F.col("property").isin(*ENTITY_PROPERTIES)), self.schema_df)
        nested = mint_nested_entities(long, self.schema_df)
        return plain.unionByName(side.select(*spo)).unionByName(nested.select(*spo))

    def _upsert_docs(self, batch_docs: DataFrame) -> None:
        if os.path.exists(self.docs_path):
            kept = self.docs().join(batch_docs.select("db_identifier"), "db_identifier", "left_anti")
            merged = kept.unionByName(batch_docs)
        else:
            merged = batch_docs
        tmp = f"{self.docs_path}.tmp-{uuid.uuid4().hex}"
        merged.coalesce(1).write.parquet(tmp)
        old = self.docs_path + ".old"
        if os.path.exists(self.docs_path):
            os.rename(self.docs_path, old)
        os.rename(tmp, self.docs_path)
        shutil.rmtree(old, ignore_errors=True)

    def refresh(
        self,
        landing: str,
        batch_time,
        prev_time,
        k: int,
        tracer: Tracer = NO_TRACE,
    ) -> RefreshOutcome:
        """Run one refresh end to end; returns once the store is
        committed, the docs are upserted and the delta is written."""
        trace_id = f"refresh-{k}"
        with tracer.span("refresh", trace_id) as root:
            with tracer.span("sources", trace_id, root):
                good, bad = quarantine(read_jsonl(self.spark, landing, LANDING_SCHEMA))
                quarantined = bad.count()

            with tracer.span("melt", trace_id, root):
                t0 = time.perf_counter()
                batch = self._triples(good).select(
                    "subject",
                    "predicate",
                    "object",
                    F.lit(EXTRACTION_METHOD).alias("extraction_method"),
                    F.lit(1.0).alias("confidence"),
                    F.lit(batch_time).cast("timestamp").alias("extraction_time"),
                )
                melt_build_ms = 1000.0 * (time.perf_counter() - t0)
                melt_rows = -1
                if tracer.enabled:
                    # Materialize at the melt→store boundary so the
                    # transform's jobs are not folded into the merge's.
                    batch = batch.cache()
                    melt_rows = batch.count()

            with tracer.span("versioned_store", trace_id, root):
                store_build_ms = -1.0
                if tracer.enabled:
                    t0 = time.perf_counter()
                    vs.merge_batch(self.store.state(), batch)
                    store_build_ms = 1000.0 * (time.perf_counter() - t0)
                state = self.store.load_batch(batch)

            with tracer.span("search", trace_id, root):
                docs = search_ops.build_search_docs(
                    good,
                    "subject",
                    "name",
                    facet_cols=["license", "library"],
                    text_cols=["description"],
                )
                self._upsert_docs(docs)

            with tracer.span("graph", trace_id, root):
                delta_dir = os.path.join(self.delta_root, f"refresh-{k:04d}")
                feed = vs.changes_between(state, prev_time, batch_time)
                graph_ops.to_ntriples(
                    feed.select(
                        "subject",
                        "predicate",
                        "object",
                        F.col("object").rlike("^https?://").alias("object_is_uri"),
                    )
                ).write.mode("overwrite").text(delta_dir)
        return RefreshOutcome(
            wall_s=root.wall_s,
            quarantined=quarantined,
            delta_dir=delta_dir,
            good=good,
            docs=docs,
            melt_build_ms=melt_build_ms,
            store_build_ms=store_build_ms,
            melt_rows=melt_rows,
        )


def run_read(qi: QueryInterface, op: str, args: tuple) -> list:
    """Execute one read through the query surface and fetch its rows."""
    if op == "lookup":
        df = qi.lookup(*args)
    elif op == "history":
        df = qi.history(*args)
    elif op == "search_prefix":
        q, license_ = args
        df = qi.search_prefix(q, facets={"license": license_})
    elif op == "search_bm25":
        df = qi.search_bm25(list(args), "description")
    elif op == "graph_at":
        df = qi.graph_at(*args)
    elif op == "changes_between":
        df = qi.changes_between(*args)
    elif op == "counts":
        df = qi.counts()
    else:
        raise ValueError(f"unknown read op {op!r}")
    return df.collect()
